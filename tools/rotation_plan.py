"""Compute the driver-gate rotation plan for the next round.

The driver's correctness gate samples the FIRST 50 registry entries
(`_PRIORITY` in operators/registry.py).  Rotation rule: a slot may rotate out after being hash-green
BOTH of the last two driver rounds; incoming entries are drawn from the
never-driver-sampled backlog, must be oracle-verified first
(tools/check_oracle.py), and entries whose query/oracle changed in the
current round should get or keep a slot.

This tool does the bookkeeping that was previously done by hand each
round: which slots are rotation-eligible, which registry entries have
never seen the hard signal, and how far cumulative driver coverage has
progressed.

Usage: PYTHONPATH=/root/repo python tools/rotation_plan.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def verdicts_by_round() -> tuple[dict[int, set[str]], dict[int, set[str]]]:
    """(greens, sampled) per round: greens drive rotation ELIGIBILITY;
    sampled (green OR red) drives the never-sampled backlog — a
    sampled-but-RED entry must never be classed as awaiting its first
    verdict."""
    greens: dict[int, set[str]] = {}
    sampled: dict[int, set[str]] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        d = json.load(open(f))
        sampled[rnd] = set(d)
        greens[rnd] = {
            k
            for k, v in d.items()
            if v.get("hash_match") and v.get("rows_match") and v.get("schema_match")
        }
    return greens, sampled


def main() -> None:
    from sparkml_som_spark.operators.registry import _PRIORITY, load_all

    reg = load_all()
    greens, sampled = verdicts_by_round()
    if not greens:
        print("no CORRECTNESS_r*.json files found")
        return
    rounds = sorted(greens)
    last_two = rounds[-2:]
    sampled_ever = set().union(*sampled.values())
    red_latest = sampled[rounds[-1]] - greens[rounds[-1]]
    if red_latest:
        print(f"!! RED in r{rounds[-1]} (fix before any rotation): {sorted(red_latest)}")

    # eligibility needs green in BOTH of the last two rounds; with only
    # one round on record nothing is eligible yet
    eligible = (
        [n for n in _PRIORITY if all(n in greens[r] for r in last_two)]
        if len(last_two) == 2
        else []
    )
    never = [n for n in reg if n not in sampled_ever]
    in_window_never = [n for n in _PRIORITY if n not in sampled_ever]

    window = "+".join(f"r{r}" for r in last_two)
    print(f"rounds on record: {rounds}  (eligibility window: {window})")
    print(f"registry entries: {len(reg)}; driver-sampled ever: "
          f"{len(sampled_ever & set(reg))}; never sampled: {len(never)}")
    print()
    print(f"rotation-ELIGIBLE slots (green both of {window}): {len(eligible)}")
    for n in eligible:
        print(f"  out? {n}")
    print()
    print(f"current-window entries awaiting their FIRST verdict "
          f"(keep until sampled): {len(in_window_never)}")
    for n in in_window_never:
        print(f"  keep {n}")
    print()
    print(f"never-sampled backlog OUTSIDE the window (rotation candidates, "
          f"oracle-check before granting a slot): {len([n for n in never if n not in _PRIORITY])}")
    for n in never:
        if n not in _PRIORITY:
            print(f"  in?  {n}")

    # depth phase (r14+): once every entry has >=1 verdict the backlog
    # is verdict DEPTH — rank entries by (verdict count, first-verdict
    # round) so the oldest-thinnest evidence rotates in first
    counts: dict[str, int] = {}
    first: dict[str, int] = {}
    for rnd in rounds:
        for n in sampled[rnd]:
            counts[n] = counts.get(n, 0) + 1
            first.setdefault(n, rnd)
    hist: dict[int, int] = {}
    for n in reg:
        hist[counts.get(n, 0)] = hist.get(counts.get(n, 0), 0) + 1
    print()
    print(f"verdict-depth histogram (count -> entries): "
          f"{dict(sorted(hist.items()))}")
    singles = sorted(
        (n for n in reg if counts.get(n, 0) == 1),
        key=lambda n: (first[n], n),
    )
    print(f"single-verdict entries, oldest first (depth-phase rotation "
          f"candidates): {len(singles)}")
    for n in singles:
        mark = "in window" if n in _PRIORITY else "in?"
        print(f"  {mark:10s} r{first[n]:02d} {n}")


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:  # piping into head is fine
        pass

"""Round-8 wave mechanics: BPE merge-rule properties, substring-span
geometry, Luhn correctness against a Python replay, bigram-filter
conservation, IVFPQ identity, tolerance-as-of semantics, and the
streaming guard's admission bookkeeping."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _greedy_merge(syms: list[str], l: str, r: str) -> list[str]:
    out: list[str] = []
    for x in syms:
        if out and out[-1] == l and x == r:
            out[-1] = l + r
        else:
            out.append(x)
    return out


def _kpass_replace(spaced: str, l: str, r: str, k: int = 6) -> str:
    for _ in range(k):
        spaced = spaced.replace(f" {l} {r} ", f" {l}{r} ")
    return spaced


def test_bpe_kpass_replace_is_fixpoint_for_short_words():
    """The engine-shared K-pass replace must be a FIXPOINT (no further
    pass changes anything) for every word shape up to 64 chars — the
    documented convergence bound that makes the rule deterministic."""
    cases = [
        "a", "a a", "a a a", "a a a a", "a a a a a",
        " ".join(["a"] * 33), "l r l r l r", "x l r y l r",
        "ab c ab c", "l l r r",
    ]
    for body in cases:
        spaced = f" {body} "
        for l, r in [("a", "a"), ("l", "r"), ("ab", "c"), ("l", "l")]:
            six = _kpass_replace(spaced, l, r, 6)
            assert _kpass_replace(six, l, r, 1) == six, (body, l, r)


def test_bpe_first_merge_matches_pandas_recount(spark, registry):
    """Merge #1 must be the argmax adjacent pair of the raw corpus
    under the pinned tie-break, recomputed independently in Python."""
    from collections import Counter

    rows = load_table(spark, SF, "documents").select("text").collect()
    counts: Counter = Counter()
    for r in rows:
        for w in r["text"].lower().split(" "):
            if not w:
                continue
            for a, b in zip(w, w[1:]):
                counts[(a, b)] += 1
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    out = registry["bpe_train_merges"].fn(spark, SF).collect()
    assert (out[0]["left_sym"], out[0]["right_sym"]) == best[0]
    assert out[0]["pair_count"] == best[1]
    # ranks are 1..8, counts are positive and the trajectory is plausible
    assert [r["merge_rank"] for r in out] == list(range(1, 9))
    assert all(r["pair_count"] > 0 for r in out)


def test_substring_runs_spans_at_least_L(spark, registry):
    rows = registry["dedup_substring_runs"].fn(spark, SF).collect()
    assert rows, "fixture corpus has planted duplicated spans"
    for r in rows:
        assert r["longest_run_tokens"] >= 12
        assert r["n_matching_grams"] >= 1
        assert r["a_id"] < r["b_id"]


def test_span_coverage_bounds_and_consistency(spark, registry):
    """Coverage fractions live in [0, 1]; every doc is accounted for;
    a source with zero affected docs has fraction 0."""
    rows = registry["dedup_span_coverage"].fn(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["n_dup_docs"] <= r["n_docs"]
        assert 0.0 <= r["dup_token_fraction"] <= 1.0
        if r["n_dup_docs"] == 0:
            assert r["dup_token_fraction"] == 0.0


def test_incremental_substring_subset_of_full(spark, registry):
    """The incremental result must equal the full result restricted to
    delta-involving pairs — no pair invented, none lost."""
    full = {
        (r["a_id"], r["b_id"]): (r["longest_run_tokens"], r["n_matching_grams"])
        for r in registry["dedup_substring_runs"].fn(spark, SF).collect()
    }
    incr = {
        (r["a_id"], r["b_id"]): (r["longest_run_tokens"], r["n_matching_grams"])
        for r in registry["dedup_incremental_substring"].fn(spark, SF).collect()
    }
    expected = {k: v for k, v in full.items() if k[1] >= 250}
    assert incr == expected


def test_luhn_python_replay(spark, registry):
    """Spark's codegen Luhn fold must agree with the textbook Python
    implementation on every customer row."""
    def luhn_valid(ds: str) -> bool:
        total = 0
        for idx, ch in enumerate(reversed(ds)):
            d = int(ch)
            if idx % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    cust = load_table(spark, SF, "customer").select("c_mktsegment", "c_name").collect()
    import re
    from collections import defaultdict

    exp = defaultdict(lambda: [0, 0, 0])
    for r in cust:
        ds = re.sub(r"[^0-9]", "", r["c_name"])
        e = exp[r["c_mktsegment"]]
        e[0] += 1
        if len(ds) >= 9:
            e[1] += 1
            if luhn_valid(ds):
                e[2] += 1
    rows = registry["pii_luhn_audit"].fn(spark, SF).collect()
    got = {r["c_mktsegment"]: [r["n_rows"], r["n_candidates"], r["n_luhn_valid"]] for r in rows}
    assert got == dict(exp)


def test_bigram_filter_conservation(spark, registry):
    rows = registry["quality_bigram_filter"].fn(spark, SF).collect()
    n_docs = sum(r["n_docs"] for r in rows)
    n_dropped = sum(r["n_dropped"] for r in rows)
    assert n_dropped == n_docs // 10
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]


def test_ann_ivf_pq_contract(spark, registry):
    rows = registry["ann_ivf_pq"].fn(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["k_returned"] == 10
        assert r["n_adc_recon_mismatch"] == 0
        assert r["top1_matches_recon_argmin"] is True


def test_asof_tolerance_never_attributes_stale(spark, registry):
    """No attributed purchase may have latency above the tolerance,
    and attribution counts never exceed purchase counts."""
    rows = registry["asof_tolerance_join"].fn(spark, SF).collect()
    tol_us = 2 * 3600 * 1_000_000
    for r in rows:
        assert 0 <= r["n_attributed"] <= r["n_purchases"]
        if r["n_attributed"]:
            assert r["total_latency_us"] <= tol_us * r["n_attributed"]


def test_stream_guard_admissions_monotone(spark, registry):
    """Epoch 0 admits everything (empty index); rejections only appear
    later; totals conserve."""
    rows = sorted(
        registry["stream_minhash_dedup_guard"].fn(spark, SF).collect(),
        key=lambda r: r["epoch"],
    )
    assert rows[0]["n_rejected"] == 0
    for r in rows:
        assert r["n_admitted"] + r["n_rejected"] == r["n_docs"]


def test_epoch_guard_passes_on_shipped_source(spark, registry):
    # the epoch contract check is always on: one callback per epoch file
    rows = registry["stream_minhash_dedup_guard"].fn(spark, SF).collect()
    assert len(rows) == 4  # check ran, no AssertionError, 4 epochs


def test_guard_crash_leaves_whole_epochs(spark, registry, monkeypatch):
    """A crash while promoting epoch 2 leaves the guard's state as the
    whole epochs 0 and 1, admitting what a clean run admits for them:
    each epoch is promoted by one rename, never file by file."""
    from sparkml_som_spark.sources import read_parquet, scratch_dir

    guard = registry["stream_minhash_dedup_guard"].fn
    state_dir = scratch_dir(SF, "guard_state")

    def admitted():
        state = read_parquet(spark, state_dir).where(F.col("kind") == "adm")
        return {(r["batch"], r["doc_id"]) for r in state.select("batch", "doc_id").collect()}

    guard(spark, SF).collect()
    clean = {(b, d) for b, d in admitted() if b < 2}
    assert {b for b, _ in clean} == {0, 1}

    rename = os.rename

    def crash_on_epoch_2(src, dst):
        if os.path.basename(dst) == "batch=2":
            raise OSError("crash while promoting epoch 2")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_epoch_2)
    with pytest.raises(Exception, match="crash while promoting epoch 2"):
        guard(spark, SF)
    monkeypatch.undo()
    assert sorted(n for n in os.listdir(state_dir) if not n.startswith("_")) == [
        "batch=0",
        "batch=1",
    ]
    assert admitted() == clean


def test_bpe_apply_consistent_with_merges(spark, registry):
    """chars_per_token must be >= 1 (merges only shrink token counts),
    and with zero merges it would be exactly 1 — so after 8 merges on
    this corpus it must exceed 1; totals conserve across sources."""
    rows = registry["bpe_apply_segment"].fn(spark, SF).collect()
    from sparkml_som_spark.sources import load_table as lt

    n_words_expected = (
        lt(spark, SF, "documents")
        .selectExpr("explode(split(lower(text), ' ')) AS w")
        .where("w <> ''")
        .count()
    )
    assert sum(r["n_words"] for r in rows) == n_words_expected
    for r in rows:
        assert r["n_bpe_tokens"] <= r["n_chars"]
        assert r["chars_per_token"] >= 1.0
    assert any(r["chars_per_token"] > 1.0 for r in rows)


def test_span_explain_text_matches_length(spark, registry):
    """Every explained span's text must contain exactly
    longest_run_tokens tokens and appear verbatim in BOTH docs."""
    rows = registry["dedup_span_explain"].fn(spark, SF).collect()
    assert rows
    docs = {
        r["doc_id"]: r["text"].lower()
        for r in load_table(spark, SF, "documents").collect()
    }
    for r in rows[:10]:
        toks = r["span_text"].split(" ")
        assert len(toks) == r["longest_run_tokens"]
        assert r["span_text"] in docs[r["a_id"]]
        assert r["span_text"] in docs[r["b_id"]]


def test_epoch_check_raises_on_wrong_callback_count(spark, tmp_path):
    """The epoch-stream runner raises, naming the entry, when the
    callback did not run once per epoch: here one epoch file is missing,
    so 3 callbacks ran for 4 epochs."""
    from sparkml_som_spark.operators.streaming_queries import _epoch_files, _run_epochs

    src = str(tmp_path / "src")
    frame = spark.range(40).withColumn("epoch", (F.col("id") % 4).cast("int"))
    _epoch_files(frame, 4)(src)
    seen = []
    _run_epochs(spark, src, 4, lambda df, i: seen.append(i), "probe_entry")
    assert seen == [0, 1, 2, 3]
    os.remove(os.path.join(src, "epoch_3.parquet"))
    with pytest.raises(AssertionError, match="probe_entry"):
        _run_epochs(spark, src, 4, lambda df, i: None, "probe_entry")

"""Property test: the inverted-index shingle Jaccard pipeline agrees
with a pure-Python brute-force computation on randomized corpora."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sparkml_som_spark.operators.dedup import shingle_pairs_with_jaccard
from sparkml_som_spark.operators.registry import query_scope

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]


def _py_shingles(text, n=3):
    toks = text.lower().split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@st.composite
def corpus(draw):
    n_docs = draw(st.integers(min_value=2, max_value=8))
    docs = []
    for i in range(n_docs):
        n_words = draw(st.integers(min_value=1, max_value=12))
        words = [draw(st.sampled_from(WORDS)) for _ in range(n_words)]
        docs.append((i, " ".join(words)))
    return docs


@given(corpus())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_shingle_jaccard_matches_bruteforce(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with query_scope(spark):
        got = {
            (r["a_id"], r["b_id"]): r["jaccard_raw"]
            for r in shingle_pairs_with_jaccard(df, n=3).collect()
        }

    shingles = {i: _py_shingles(t) for i, t in docs}
    want = {}
    ids = sorted(shingles)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            common = shingles[a] & shingles[b]
            if common:
                want[(a, b)] = len(common) / len(shingles[a] | shingles[b])

    assert set(got) == set(want)
    for pair, j in want.items():
        assert got[pair] == pytest.approx(j, rel=1e-9)


def test_embedding_cosine_path_parity(spark):
    """The size-gated exact (broadcast GEMM) path and the distributed
    LSH failover agree on planted near-dups; forcing max_local_bytes=0
    proves the failover never collects the corpus."""
    import numpy as np

    from sparkml_som_spark.operators.dedup import embedding_cosine_pairs

    rng = np.random.default_rng(0)
    base = rng.standard_normal((40, 16))
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(8):  # near-dup of doc i at cosine ~0.9999
        noisy = base[i] + 0.01 * rng.standard_normal(16)
        rows.append((40 + i, noisy.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    with query_scope(spark):
        exact = {
            (r["a_id"], r["b_id"], r["cos_sim"])
            for r in embedding_cosine_pairs(emb, max_local_bytes=1 << 30).collect()
        }
        lsh = {
            (r["a_id"], r["b_id"], r["cos_sim"])
            for r in embedding_cosine_pairs(emb, max_local_bytes=0).collect()
        }
    assert len(exact) >= 8
    assert lsh == exact


def test_embedding_cosine_gate_skips_collect(spark, monkeypatch):
    """Above the size gate the broadcast-GEMM (driver collect) path must
    not run at all."""
    import sparkml_som_spark.operators.dedup as D

    def _boom(*a, **k):
        raise AssertionError("collect path taken above the size gate")

    monkeypatch.setattr(D, "_cosine_pairs_broadcast_gemm", _boom)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(10)], "vec_id long, v array<double>"
    )
    with query_scope(spark):
        D.embedding_cosine_pairs(emb, max_local_bytes=0).collect()


def test_ngram_df_cap_hot_shingle(spark):
    """Adversarial hot-shingle fixture: a stop-phrase shingle shared by
    EVERY doc must not create pairs on its own once capped, while true
    near-dups (sharing rare shingles) keep their EXACT Jaccard —
    denominators and common counts still use the full shingle sets."""
    from sparkml_som_spark.operators.dedup import shingle_pairs_with_jaccard

    hot = "the quick brown"  # one 3-shingle present in every doc
    docs = [
        # pair (0, 1): near-identical, share rare shingles
        (0, hot + " alpha beta gamma delta"),
        (1, hot + " alpha beta gamma epsilon"),
        # 2..9: unrelated docs whose ONLY overlap is the hot shingle
        *[(i, hot + f" unique{i} filler{i} token{i}") for i in range(2, 10)],
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    with query_scope(spark):
        uncapped = {
            (r["a_id"], r["b_id"]): r["jaccard_raw"]
            for r in shingle_pairs_with_jaccard(df, n=3).collect()
        }
        capped = {
            (r["a_id"], r["b_id"]): r["jaccard_raw"]
            for r in shingle_pairs_with_jaccard(df, n=3, max_df=5).collect()
        }

    # hot-only pairs disappear; pairs sharing any sub-cap shingle remain
    assert (0, 1) in capped
    # Jaccard of surviving pairs is EXACT (identical to uncapped)
    for pair, j in capped.items():
        assert j == uncapped[pair]
    # every uncapped pair not in capped overlapped only via the hot
    # shingle: the filler docs have 4 shingles each, so one common
    # shingle gives jaccard 1/(4+4-1) = 1/7 — the hot-only ceiling
    for pair in set(uncapped) - set(capped):
        assert uncapped[pair] <= 1 / 7 + 1e-9
    # and the cap above max DF changes nothing
    with query_scope(spark):
        cap_high = {
            (r["a_id"], r["b_id"]): r["jaccard_raw"]
            for r in shingle_pairs_with_jaccard(df, n=3, max_df=64).collect()
        }
    assert cap_high == uncapped


def test_min_label_components_transitive_chain(spark):
    """A-B and B-C edges must put A,B,C in ONE cluster even though A-C
    has no edge; disjoint pair stays its own cluster; long path (worst
    diameter) converges."""
    from sparkml_som_spark.operators.dedup import min_label_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    got = {
        r["node"]: r["label"] for r in min_label_components(sym).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20}


def test_min_label_components_long_chain_log_rounds(spark):
    """The O(diameter) hazard (VERDICT r8 Missing #5): a 256-node path
    with the minimum at one end is the worst case for pure neighbor-min
    (~n rounds).  Pointer jumping must (a) still produce the exact
    component labels and (b) converge in O(log diameter) rounds — the
    bound is asserted, not assumed."""
    from sparkml_som_spark.operators.dedup import min_label_components

    n = 256
    edges = [(i, i + 1) for i in range(n - 1)]  # path 0-1-...-255
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    stats: dict = {}
    got = {
        r["node"]: r["label"]
        for r in min_label_components(sym, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # grace period (2 plain rounds) + path-halving thereafter: the
    # distance-to-root shrinks at least ~1.5x per jumped round, so a
    # 255-hop chain needs well under 20 rounds; pure neighbor-min
    # would need ~85+ (3 hops/round after the folded init).
    assert stats["rounds"] <= 20, stats


def test_incremental_components_equals_full_recompute(spark, sf_dir):
    """Incremental cluster maintenance (persisted existing assignment
    collapsed to stars + delta-probe edges) must be row-identical to
    the from-scratch recompute — `exceptAll` both directions, so a
    merged-but-mislabeled cluster or a dropped singleton both fail."""
    from sparkml_som_spark.operators.registry import load_all

    reg = load_all()
    # one scope for both entries: `full` is read after `incr` starts
    with query_scope(spark):
        full = reg["dedup_connected_components"].fn(spark, sf_dir)
        incr = reg["dedup_incremental_components"].fn(spark, sf_dir)
        assert full.count() > 0
        assert incr.exceptAll(full).count() == 0
        assert full.exceptAll(incr).count() == 0


def test_incremental_minhash_equals_full_restricted(spark):
    """The incremental entry (delta probes the band index) must equal
    the full-corpus LSH result restricted to pairs involving a delta
    doc — nothing lost by not re-pairing the existing corpus, nothing
    invented by the least/greatest normalization."""
    from pyspark.sql import functions as F

    from sparkml_som_spark.operators.registry import load_all

    reg = load_all()
    SF = "/root/testdata/sf0.001"
    full = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in reg["dedup_minhash_lsh"].fn(spark, SF).collect()
    }
    from sparkml_som_spark.operators.dedup import _INCR_SPLIT

    incr = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in reg["dedup_incremental_minhash"].fn(spark, SF).collect()
    }
    want = {p: j for p, j in full.items() if p[1] >= _INCR_SPLIT}
    assert incr == want
    # sanity: both delta-vs-base and (if present) delta-vs-delta pairs
    # survive, and no existing-vs-existing pair leaks in
    assert all(b >= _INCR_SPLIT for _, b in incr)

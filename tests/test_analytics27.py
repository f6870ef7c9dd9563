"""analytics27 mechanics: the cross-source overlap matrix must be
consistent with the raw near-dup pair set, and per-source dup rates
must account for every document exactly once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_cross_source_overlap_consistent_with_pairs(spark, registry):
    """Sum of matrix cells == number of near-dup pairs; every cell is
    canonically ordered (source_a <= source_b) with a valid Jaccard."""
    from sparkml_som_spark.operators.dedup import _NGRAM_MAX_DF, shingle_pairs_with_jaccard
    from sparkml_som_spark.operators.registry import query_scope

    docs = load_table(spark, SF, "documents")
    with query_scope(spark):
        n_pairs = (
            shingle_pairs_with_jaccard(docs, n=3, max_df=_NGRAM_MAX_DF)
            .where(F.col("jaccard_raw") >= 0.8)
            .count()
        )
    cells = registry["cross_source_overlap"].fn(spark, SF).collect()
    assert sum(c["n_pairs"] for c in cells) == n_pairs
    for c in cells:
        assert c["source_a"] <= c["source_b"]
        assert 0.8 <= c["avg_jaccard"] <= 1.0


def test_near_dup_rate_accounts_every_doc(spark, registry):
    rows = registry["near_dup_rate_by_source"].fn(spark, SF).collect()
    docs = load_table(spark, SF, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["n_near_dup"] <= r["n_docs"]
        assert abs(r["dup_rate"] - round(r["n_near_dup"] / r["n_docs"], 4)) < 1e-9


def test_char_bigram_logloss_python_replay(spark, registry):
    """Per-source logloss must equal a direct Python fold over the
    same corpus: collect the docs, count bigrams, average -ln p."""
    import math
    from collections import Counter, defaultdict

    docs = load_table(spark, SF, "documents").select("doc_id", "source", "text").collect()
    vocab: Counter = Counter()
    per_doc = {}
    for r in docs:
        t = r["text"].lower()
        bgs = [t[i : i + 2] for i in range(len(t) - 1)]
        per_doc[r["doc_id"]] = (r["source"], bgs)
        vocab.update(bgs)
    n = sum(vocab.values())
    sums: dict = defaultdict(lambda: [0.0, 0, set()])
    for doc_id, (src, bgs) in per_doc.items():
        for b in bgs:
            sums[src][0] += -math.log(vocab[b] / n)
            sums[src][1] += 1
        sums[src][2].add(doc_id)
    got = {r["source"]: r for r in registry["quality_char_bigram_logloss"].fn(spark, SF).collect()}
    assert set(got) == set(sums)
    for src, (tot, cnt, ids) in sums.items():
        assert got[src]["n_docs"] == len(ids)
        assert abs(got[src]["avg_logloss"] - round(tot / cnt, 4)) <= 1e-3

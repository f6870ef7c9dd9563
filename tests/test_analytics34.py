"""Round-10 wave (analytics34) — laws beyond the DuckDB oracle: a
hashlib replay of the grouped-CV fold assignment (pinning the split
end-to-end) and a full NumPy replay of the stratified dedup sampler
(cells, cosine drops, md5 draw, membership sums)."""

import hashlib
import math

import numpy as np
import pytest


def _fold_py(label, k):
    return int(hashlib.md5(str(label).encode()).hexdigest()[:15], 16) % k


def test_som_grouped_cv_split_contract(spark, sf_dir):
    """The operator's per-fold counts must equal a pure-Python replay
    of the md5 fold assignment, and the folds must partition the table
    exactly (n_train + n_val == total for every fold; every group lands
    in exactly one validation fold)."""
    from sparkml_som_spark.operators.analytics34 import _CV_FOLDS, som_grouped_cv
    from sparkml_som_spark.sources import load_table

    rows = {r["fold"]: r for r in som_grouped_cv(spark, sf_dir).collect()}
    assert sorted(rows) == list(range(_CV_FOLDS))

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    labels = sorted({r["label"] for r in emb})
    fold_of = {lab: _fold_py(lab, _CV_FOLDS) for lab in labels}
    total = len(emb)

    # every group is validation in exactly one fold: its md5 fold id is
    # a single value in [0, K) (pinned here), and the per-fold
    # want_groups sums below add up to len(labels) across folds, which
    # is the exactly-once half of the property
    assert all(0 <= f < _CV_FOLDS for f in fold_of.values())
    for f in range(_CV_FOLDS):
        want_groups = sum(1 for lab in labels if fold_of[lab] == f)
        want_val = sum(1 for r in emb if fold_of[r["label"]] == f)
        got = rows[f]
        assert got["n_val_groups"] == want_groups
        assert got["n_val"] == want_val
        # n_train comes from model.summary.n_samples — the fit's own
        # consumed-row count — so this equality pins that the training
        # aggregation saw EXACTLY the out-of-fold rows
        assert got["n_train"] == total - want_val
        assert got["qe_valid"] is True


def test_som_grouped_cv_heldout_scores_finite_and_leakage_free(spark, sf_dir):
    """The raw scoreboard's held-out QEs are positive finite, and no
    label appears in both train and validation of any fold (structural
    with group-keyed folds — asserted against the actual assignment)."""
    from sparkml_som_spark.operators.analytics34 import (
        _CV_FOLDS,
        som_grouped_cv_scores,
    )
    from sparkml_som_spark.sources import load_table

    scores = som_grouped_cv_scores(spark, sf_dir)
    assert len(scores) == _CV_FOLDS
    emb = load_table(spark, sf_dir, "embeddings").select("label").collect()
    for f, n_train, n_val, qe in scores:
        if n_val:
            assert math.isfinite(qe) and qe > 0
        train_labels = {r["label"] for r in emb if _fold_py(r["label"], _CV_FOLDS) != f}
        val_labels = {r["label"] for r in emb if _fold_py(r["label"], _CV_FOLDS) == f}
        assert not (train_labels & val_labels)


def test_sample_dedup_stratified_matches_numpy_replay(spark, sf_dir):
    """Full replay: grid cells, within-cell cosine >= tau lower-id-wins
    drops, md5-ordered k-per-cell draw, per-label membership sums —
    recomputed in NumPy/pure Python, must equal the operator exactly."""
    from sparkml_som_spark.operators.analytics34 import (
        _DSAMP_K,
        _DSAMP_TAU,
        sample_dedup_stratified,
    )
    from sparkml_som_spark.sources import load_table

    got = {
        r["label"]: (r["n_vectors"], r["n_kept"], r["n_sampled"], r["sampled_id_sum"])
        for r in sample_dedup_stratified(spark, sf_dir).collect()
    }

    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in rows])
    labs = np.array([r["label"] for r in rows])
    V = np.array([[float(x) for x in r["embedding"]] for r in rows], dtype=np.float64)
    cx = np.floor((V[:, 0] + 0.6) * 8).astype(int)
    cy = np.floor((V[:, 1] + 0.6) * 8).astype(int)
    norms = np.linalg.norm(V, axis=1)

    dropped = set()
    cells = {}
    for i in range(len(ids)):
        cells.setdefault((cx[i], cy[i]), []).append(i)
    for members in cells.values():
        for ai in members:
            for bi in members:
                if ids[ai] < ids[bi]:
                    cos = float(V[ai] @ V[bi] / (norms[ai] * norms[bi]))
                    if cos >= _DSAMP_TAU:
                        dropped.add(ids[bi])

    sampled = set()
    for members in cells.values():
        kept = [i for i in members if ids[i] not in dropped]
        kept.sort(key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
        sampled.update(ids[i] for i in kept[:_DSAMP_K])

    for lab in sorted(set(labs.tolist())):
        mask = labs == lab
        n_vectors = int(mask.sum())
        n_kept = int(sum(1 for i in np.where(mask)[0] if ids[i] not in dropped))
        samp = [int(ids[i]) for i in np.where(mask)[0] if ids[i] in sampled]
        assert got[lab] == (n_vectors, n_kept, len(samp), sum(samp)), lab


def test_sample_dedup_stratified_cell_cap_and_survivor_only(spark, sf_dir):
    """Per-cell cap law from the operator's own contract: the total
    sample can never exceed k x (number of occupied cells), and every
    per-label sample count is bounded by that label's survivors."""
    from sparkml_som_spark.operators.analytics34 import (
        _DSAMP_K,
        sample_dedup_stratified,
    )
    from sparkml_som_spark.sources import load_table

    out = sample_dedup_stratified(spark, sf_dir).collect()
    assert all(r["n_sampled"] <= r["n_kept"] <= r["n_vectors"] for r in out)

    rows = load_table(spark, sf_dir, "embeddings").collect()
    cells = {
        (
            math.floor((float(r["embedding"][0]) + 0.6) * 8),
            math.floor((float(r["embedding"][1]) + 0.6) * 8),
        )
        for r in rows
    }
    assert sum(r["n_sampled"] for r in out) <= _DSAMP_K * len(cells)


@pytest.mark.parametrize("entry", ["som_grouped_cv", "som_grid_search"])
def test_som_cv_grid_outputs_layout_robust(spark, sf_dir, entry):
    """The CV and grid entries fit unspread input, so the fitted models
    follow the scan's partition layout (the seeded takeSample contract);
    their declared outputs must not.  Run each entry under two split
    sizes of the embeddings scan and compare the collected outputs."""
    from pyspark.sql import functions as F

    from sparkml_som_spark.operators.registry import load_all, query_scope
    from sparkml_som_spark.sources import load_table

    fn = load_all()[entry].fn
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    outs, layouts = [], []
    try:
        for size in ("128m", "32k"):
            spark.conf.set(key, size)
            # one scope per layout: an entry's Dataset caches (the grid
            # caches the embeddings scan) would otherwise still serve this
            # scan of the next layout until the next entry starts
            with query_scope(spark):
                emb = load_table(spark, sf_dir, "embeddings")
                pids = emb.select(F.spark_partition_id().alias("p")).distinct().collect()
                layouts.append((emb.rdd.getNumPartitions(), sorted(r["p"] for r in pids)))
                outs.append(sorted(fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set(key, before)
    assert spark.conf.get(key) == before
    assert layouts[0] != layouts[1], layouts
    assert outs[0] == outs[1]

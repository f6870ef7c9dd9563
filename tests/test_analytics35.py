"""Round-11 operator laws, each proved by a replay INDEPENDENT of the
registered oracle (the oracle and the query share constants; these
tests share nothing but the parquet):

* reranker — pure-Python feature/score replay over the candidate docs
  (math.log, list.index) must reproduce the operator's scores and
  ranking bit-for-bit at 6 decimals; the rerank must permute exactly
  the RRF pool.
* SOM-cell semdedup — NumPy replay of the top-2-cell blocking and the
  global all-pairs dedup; subset + half-recall + kept-pairwise laws.
* streaming sampler — the persisted reservoir state must equal a batch
  bottom-k recompute over the persisted admitted corpus (the
  merge-invariance identity the oracle relies on), the admission
  decisions must match a pure-NumPy epoch replay, and the
  merge-invariance of hash bottom-k is checked as an algebraic law on
  adversarial synthetic batchings.
"""

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import load_all
from sparkml_som_spark.sources import load_table


@pytest.fixture(scope="module")
def reg():
    return load_all()


def test_rerank_replay_and_permutation(spark, sf_dir, reg):
    from sparkml_som_spark.operators.analytics28 import _BM25_QUERY
    from sparkml_som_spark.operators.analytics29 import _RRF_QVEC, hybrid_rrf_fusion
    from sparkml_som_spark.operators.analytics35 import (
        _RER_W_COS,
        _RER_W_COV,
        _RER_W_LEN,
        _RER_W_POS,
        _RER_W_TF,
    )

    out = {r["doc_id"]: r for r in reg["rerank_cross_features"].fn(spark, sf_dir).collect()}
    pool = hybrid_rrf_fusion(spark, sf_dir).collect()
    # the rerank is a permutation of exactly the RRF pool
    assert set(out) == {r["doc_id"] for r in pool}
    assert sorted(r["prior_rank"] for r in out.values()) == list(range(1, len(pool) + 1))
    assert sorted(r["final_rank"] for r in out.values()) == list(range(1, len(pool) + 1))
    # prior_rank must equal the pool's own (rrf desc, doc_id) order
    pool_order = [r["doc_id"] for r in sorted(pool, key=lambda r: (-r["rrf"], r["doc_id"]))]
    for rank, doc_id in enumerate(pool_order, start=1):
        assert out[doc_id]["prior_rank"] == rank

    ids = list(out)
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").isin(ids + [_RRF_QVEC]))
        .collect()
    }
    qv = emb[_RRF_QVEC]

    def seq_cos(a, b):
        """Left-to-right fold like both engines (not np.dot)."""
        dot = n1 = n2 = 0.0
        for x, y in zip(a, b):
            dot += x * y
            n1 += x * x
            n2 += y * y
        return dot / (math.sqrt(n1) * math.sqrt(n2))

    for doc_id, row in out.items():
        toks = docs[doc_id].lower().split(" ")
        dlen = len(toks)
        tf_sum = sum(1 for t in toks if t in _BM25_QUERY)
        cov = sum(1 for t in _BM25_QUERY if t in toks)
        firsts = [toks.index(t) + 1 for t in _BM25_QUERY if t in toks]
        first_pos = min(firsts) if firsts else dlen + 1
        cos4 = round(seq_cos(qv, emb[doc_id]), 4) if doc_id in emb else 0.0
        score = round(
            _RER_W_COV * cov
            + _RER_W_TF * math.log(1 + tf_sum)
            + _RER_W_COS * cos4
            - _RER_W_POS * math.log(first_pos)
            - _RER_W_LEN * math.log(dlen),
            6,
        )
        assert abs(row["rerank_score"] - score) < 1e-9, (doc_id, row["rerank_score"], score)
    # final order replayed from the scores
    want = sorted(out.values(), key=lambda r: (-r["rerank_score"], r["doc_id"]))
    for rank, row in enumerate(want, start=1):
        assert row["final_rank"] == rank


def test_semdedup_som_cells_laws(spark, sf_dir, reg):
    from sparkml_som_spark.operators.analytics35 import _SOMDD_TAU
    from sparkml_som_spark.operators.som_queries import fit_default_som
    from sparkml_som_spark.som import kernel as K

    row = reg["semdedup_som_cells"].fn(spark, sf_dir).collect()[0]
    assert row["n_unsound_cell_drops"] == 0
    assert row["n_kept_cell_pairs_over_tau"] == 0
    assert row["cell_recall_ge_half"] is True

    model, emb = fit_default_som(spark, sf_dir)
    rows = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.stack([np.array(r["v"]) for r in rows])
    assert row["n_vectors"] == len(ids)
    # at the test SF the corpus fits the audit gate (n <= AUDIT_ROWS),
    # so the audit sample IS the full corpus and the replay below is
    # exact; the binding case is covered by
    # test_semdedup_audit_sample_binding
    from sparkml_som_spark.operators.analytics35 import _SOMDD_AUDIT_ROWS

    assert len(ids) <= _SOMDD_AUDIT_ROWS

    nv = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = nv @ nv.T
    lower = ids[:, None] < ids[None, :]  # a_id < b_id marks b dropped
    global_dropped = set(ids[np.any((cos >= _SOMDD_TAU) & lower, axis=0)])
    assert row["n_dropped_global"] == len(global_dropped)

    b1, b2 = K.find_bmu_top2(X, model.prototypes)
    share = (
        (b1[:, None] == b1[None, :])
        | (b1[:, None] == b2[None, :])
        | (b2[:, None] == b1[None, :])
        | (b2[:, None] == b2[None, :])
    )
    cell_dropped = set(ids[np.any((cos >= _SOMDD_TAU) & lower & share, axis=0)])
    # the three laws, re-derived without Spark joins
    assert cell_dropped <= global_dropped
    assert 2 * len(cell_dropped) >= len(global_dropped)
    kept = ~np.isin(ids, sorted(cell_dropped))
    viol = (cos >= _SOMDD_TAU) & lower & share & kept[:, None] & kept[None, :]
    assert not viol.any()


def test_cell_pairs_over_tau_gemm_law(spark):
    """`_cell_pairs_over_tau` (per-cell Arrow block-GEMM) must equal the
    brute-force per-cell pair definition — exercised with block=7 so
    the probe-side blocking boundary is crossed many times, with a
    vector assigned to two cells (the operator's top-2 multi-assign
    shape, which double-emits shared pairs the distinct() must fold),
    and with exact duplicates so pairs exist above tau."""
    from sparkml_som_spark.operators.analytics35 import _cell_pairs_over_tau

    rng = np.random.default_rng(7)
    n, d = 60, 8
    ids = rng.permutation(1000)[:n].astype("int64")
    cells = rng.integers(0, 3, n)
    X = rng.normal(size=(n, d))
    X[1] = X[0]  # cos == 1 pair
    X[7] = X[3] * 2.0  # scaled duplicate, cos == 1
    rows = [
        (int(ids[i]), [float(x) for x in X[i]], int(cells[i])) for i in range(n)
    ]
    rows += [  # multi-assign every 5th vector to a second cell
        (int(ids[i]), [float(x) for x in X[i]], int((cells[i] + 1) % 3))
        for i in range(0, n, 5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>, cell int")
    tau = 0.8
    got = {
        (r["a_id"], r["b_id"])
        for r in _cell_pairs_over_tau(df, tau, block=7).collect()
    }
    by_cell = {}
    for vid, v, c in rows:
        by_cell.setdefault(c, []).append((vid, np.array(v)))
    expect = set()
    for members in by_cell.values():
        for ai, av in members:
            for bi, bv in members:
                cos = float(av @ bv / (np.linalg.norm(av) * np.linalg.norm(bv)))
                if ai < bi and cos >= tau:
                    expect.add((ai, bi))
    assert got == expect


def test_cell_pairs_over_tau_adaptive_block_cap(spark):
    """With `max_group_bytes` shrunk so the factor-folded sims+keep
    bound BINDS (block_eff = max_group_bytes / FACTOR / (n*10) << block,
    r15's tightened accounting) but the group gate does NOT trip, the
    GEMM path must still equal brute force — the adaptive blocking may
    change BLAS fold shapes, never membership."""
    from sparkml_som_spark.operators.analytics35 import _cell_pairs_over_tau

    rng = np.random.default_rng(21)
    n, d = 40, 2  # gate needs n*d*8*4 <= mg; mg/4/(n*10) = 2 forces blocking
    mg = 4096
    ids = rng.permutation(400)[:n].astype("int64")
    X = rng.normal(size=(n, d))
    X[1] = X[0]
    X[9] = X[4] * 3.0
    rows = [(int(ids[i]), [float(x) for x in X[i]], 0) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>, cell int")
    tau = 0.8
    got = {
        (r["a_id"], r["b_id"])
        for r in _cell_pairs_over_tau(df, tau, max_group_bytes=mg).collect()
    }
    expect = set()
    for ai, av in zip(ids, X):
        for bi, bv in zip(ids, X):
            cos = float(av @ bv / (np.linalg.norm(av) * np.linalg.norm(bv)))
            if ai < bi and cos >= tau:
                expect.add((int(ai), int(bi)))
    assert got == expect


def test_cell_pairs_over_tau_failover_equals_gemm(spark):
    """The hot-cell failover (streaming equi-join, taken when the
    group-size gate trips) must emit the SAME pair set as the GEMM
    path — including for zero-norm vectors, where unguarded SQL NaN
    ordering would otherwise pair a degenerate vector with everything
    while the GEMM path pairs it with nothing."""
    from sparkml_som_spark.operators.analytics35 import _cell_pairs_over_tau

    rng = np.random.default_rng(13)
    n, d = 40, 6
    ids = rng.permutation(500)[:n].astype("int64")
    cells = rng.integers(0, 3, n)
    X = rng.normal(size=(n, d))
    X[1] = X[0]  # exact duplicate, cos == 1
    X[5] = 0.0  # zero-norm: cosine undefined, must pair with NOTHING
    X[9, 2] = float("nan")  # NaN element: NaN norm, pairs with NOTHING
    X[14, 0] = float("inf")  # Inf element: Inf norm, pairs with NOTHING
    rows = [
        (int(ids[i]), [float(x) for x in X[i]], int(cells[i])) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>, cell int")
    for tau in (0.8, 0.0):  # tau=0: the zero-fill trick alone would
        gemm = {  # re-admit degenerate rows; the explicit mask must not
            (r["a_id"], r["b_id"])
            for r in _cell_pairs_over_tau(df, tau).collect()
        }
        failover = {
            (r["a_id"], r["b_id"])
            for r in _cell_pairs_over_tau(df, tau, max_group_bytes=1).collect()
        }
        assert failover == gemm, f"tau={tau}"
        for bad in (int(ids[5]), int(ids[9]), int(ids[14])):
            assert not any(bad in p for p in gemm), f"tau={tau} id={bad}"


def test_semdedup_audit_sample_binding(spark, sf_dir, reg, monkeypatch):
    """Force the audit gate to BIND (AUDIT_ROWS=100 over a 500-vector
    corpus) and replay the whole audit leg in NumPy: the audit corpus
    must be the md5-bottom-100 sample, n_dropped_global the drops
    within that sample, soundness exact by construction, and the kept
    theorem still full-corpus."""
    import sparkml_som_spark.operators.analytics35 as a35
    from sparkml_som_spark.operators.som_queries import fit_default_som
    from sparkml_som_spark.som import kernel as K

    monkeypatch.setattr(a35, "_SOMDD_AUDIT_ROWS", 100)
    row = a35.semdedup_som_cells(spark, sf_dir).collect()[0]
    assert row["n_unsound_cell_drops"] == 0
    assert row["n_kept_cell_pairs_over_tau"] == 0

    model, emb = fit_default_som(spark, sf_dir)
    rows = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).collect()
    all_ids = [int(r["vec_id"]) for r in rows]
    assert row["n_vectors"] == len(all_ids) > 100  # the gate really binds
    audit_ids = set(sorted(all_ids, key=lambda v: (_md5key(v), v))[:100])

    id_arr = np.array([r["vec_id"] for r in rows])
    X = np.stack([np.array(r["v"]) for r in rows])
    nv = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = nv @ nv.T
    in_audit = np.isin(id_arr, sorted(audit_ids))
    lower = id_arr[:, None] < id_arr[None, :]
    pair_aud = in_audit[:, None] & in_audit[None, :]
    global_aud = set(
        id_arr[np.any((cos >= a35._SOMDD_TAU) & lower & pair_aud, axis=0)]
    )
    assert row["n_dropped_global"] == len(global_aud)

    b1, b2 = K.find_bmu_top2(X, model.prototypes)
    share = (
        (b1[:, None] == b1[None, :])
        | (b1[:, None] == b2[None, :])
        | (b2[:, None] == b1[None, :])
        | (b2[:, None] == b2[None, :])
    )
    cell_aud = set(
        id_arr[np.any((cos >= a35._SOMDD_TAU) & lower & share & pair_aud, axis=0)]
    )
    assert cell_aud <= global_aud  # soundness within the audit sample
    assert row["cell_recall_ge_half"] is (2 * len(cell_aud) >= len(global_aud))


def _md5key(vec_id: int) -> str:
    return hashlib.md5(str(vec_id).encode()).hexdigest()


def test_stream_sampler_state_equals_batch_recompute(spark, sf_dir, reg):
    """Run the streaming entry, then read its PERSISTED state dirs:
    the reservoir must equal a batch bottom-k recompute over the
    admitted corpus, and the admission set must equal a pure-NumPy
    4-epoch replay."""
    from sparkml_som_spark.operators.analytics35 import (
        _SADM_EPOCHS,
        _SADM_K,
        _SADM_TAU,
    )
    from sparkml_som_spark.operators.analytics35 import _SADM_STATE_CAP
    from sparkml_som_spark.sources import scratch_dir

    out = {r["label"]: r for r in reg["stream_dedup_stratified_sample"].fn(spark, sf_dir).collect()}
    adm = spark.read.parquet(scratch_dir(sf_dir, "admit_corpus")).collect()
    res = spark.read.parquet(scratch_dir(sf_dir, "admit_reservoir")).collect()
    probe = spark.read.parquet(scratch_dir(sf_dir, "admit_probe")).collect()

    # (1) reservoir == per-cell bottom-K of the admitted corpus, and
    # the capped probe state == per-cell bottom-CAP of the same corpus
    # (both rest on the same merge-invariance of hash bottom-k)
    by_cell: dict = {}
    for r in adm:
        by_cell.setdefault((r["cx"], r["cy"]), []).append(r["vec_id"])
    want_res = set()
    want_probe = set()
    for members in by_cell.values():
        members.sort(key=lambda v: (_md5key(v), v))
        want_res.update(members[:_SADM_K])
        want_probe.update(members[:_SADM_STATE_CAP])
    assert {r["vec_id"] for r in res} == want_res
    assert {r["vec_id"] for r in probe} == want_probe

    # (2) admission set == pure-NumPy epoch replay
    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.stack([np.array(r["v"]) for r in rows])
    cells = {
        int(i): (math.floor((x[0] + 0.6) * 8), math.floor((x[1] + 0.6) * 8))
        for i, x in zip(ids, X)
    }
    nv = X / np.linalg.norm(X, axis=1, keepdims=True)
    vec = {int(i): nv[j] for j, i in enumerate(ids)}
    admitted: list = []
    for epoch in range(_SADM_EPOCHS):
        batch = sorted(int(i) for i in ids if i % _SADM_EPOCHS == epoch)
        # the probe screens against the CAPPED per-cell state: the
        # hash-bottom-CAP subset of all prior admissions (merge-
        # invariant, so the batch recompute here equals the operator's
        # incremental maintenance)
        probe_state: dict = {}
        for a in admitted:
            probe_state.setdefault(cells[a], []).append(a)
        for members in probe_state.values():
            members.sort(key=lambda v: (_md5key(v), v))
            del members[_SADM_STATE_CAP:]
        accepted = []
        for v in batch:
            hit = any(
                float(vec[a] @ vec[v]) >= _SADM_TAU
                for a in probe_state.get(cells[v], [])
            )
            if not hit:
                accepted.append(v)
        admitted.extend(accepted)
    assert {r["vec_id"] for r in adm} == set(admitted)

    # (3) the per-label output reconciles with the state dirs
    labels = {int(r["vec_id"]): r["label"] for r in rows}
    for lab, row in out.items():
        assert row["n_admitted"] == sum(1 for v in admitted if labels[v] == lab)
        samp = [v for v in want_res if labels[v] == lab]
        assert row["n_sampled"] == len(samp)
        assert row["sampled_id_sum"] == sum(samp)


def test_hash_bottom_k_merge_invariance():
    """The algebraic law the streaming reservoir rests on: for the
    md5-keyed order, bottom-k(A u B) == bottom-k(bottom-k(A) u B) —
    checked over adversarial batchings of one id universe."""
    k = 4
    universe = list(range(97))
    keyf = lambda v: (_md5key(v), v)  # noqa: E731

    def bottom_k(items):
        return sorted(items, key=keyf)[:k]

    want = bottom_k(universe)
    for split in (1, 7, 32, 96):
        state: list = []
        for start in range(0, len(universe), split):
            state = bottom_k(state + universe[start : start + split])
        assert state == want


def test_capped_probe_admission_batching_invariance():
    """The oracle identity for the CAPPED probe state (r12 hot-cell
    guard): per epoch, screening a batch against the incrementally-
    maintained bottom-CAP(old probe u prior admissions) — the operator
    — equals screening against a fresh bottom-CAP over ALL prior
    admissions — the SQL replay's probe{t} CTE — for every batching.
    The synthetic universe lives in ONE cell and the cap BINDS: the
    capped guard provably admits rows the uncapped guard rejects."""
    cap = 3

    def sim(a, v):  # deterministic stand-in for cos >= tau
        return a % 5 == v % 5

    def bottom(items, k):
        return sorted(items, key=lambda v: (_md5key(v), v))[:k]

    def run(batches, incremental, capped=True):
        admitted: list = []
        probe: list = []
        for batch in batches:
            if not capped:
                state = list(admitted)
            elif incremental:
                state = list(probe)
            else:
                state = bottom(admitted, cap)
            accepted = [v for v in batch if not any(sim(a, v) for a in state)]
            admitted.extend(accepted)
            probe = bottom(probe + accepted, cap)
        return admitted

    universe = list(range(40))
    for split in (5, 10, 13, 40):
        batches = [universe[i : i + split] for i in range(0, len(universe), split)]
        inc = run(batches, incremental=True)
        replay = run(batches, incremental=False)
        assert inc == replay  # operator == oracle at any batching
    # the cap binds: with 10-row epochs the uncapped guard freezes the
    # corpus after epoch 0 (every residue already admitted twice) while
    # the capped probe keeps admitting uncovered residues
    batches = [universe[i : i + 10] for i in range(0, 40, 10)]
    capped_adm = run(batches, incremental=True)
    uncapped_adm = run(batches, incremental=True, capped=False)
    assert set(uncapped_adm) < set(capped_adm)

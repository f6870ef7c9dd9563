"""Analytics operators, round 9 second wave: the warehouse-change and
data-selection primitives the catalog still lacked.

* ``cdc_apply_changes`` — CDC merge-apply: reduce an insert/update/
  delete change log to final table state by per-key latest sequence
  number (the Delta-style APPLY CHANGES contract).
* ``dsir_importance_weights`` — Data Selection via Importance
  Resampling (Xie et al. 2023): hashed unigram+bigram bag features,
  per-document log importance weight of a target domain over the raw
  pool.
* ``quality_naive_bayes`` — discriminative quality/domain classifier
  (the fastText-style linear filter of GPT-3/CCNet pipelines),
  self-trained as multinomial Naive Bayes with Laplace smoothing on a
  hash-split train fold and scored on the held-out fold.
* ``phrase_search_positional`` — exact phrase retrieval over a
  positional inverted index (the IR primitive BM25's bag-of-words
  scoring can't express).
* ``hybrid_rrf_fusion`` — reciprocal-rank fusion of the BM25 lexical
  ranking and the embedding cosine ranking (standard hybrid-retrieval
  first stage in front of a reranker).

Corpus caveat: the synthetic documents table draws every source from
the same 31-word distribution, so DSIR weights hover near zero and the
NB classifier scores near chance — the *machinery* (hashing, smoothing,
fold split, fusion arithmetic) is what the oracles pin, exactly, in
both engines.

Scale discipline: every operator is one or two corpus passes plus
broadcast-sized model/state relations (256 hash buckets, a 31-row
vocabulary, 20-row rank lists, a 5-row priority summary).  Per-key CDC
reduction is a single groupBy(max_by) — one shuffle, no window.  The
phrase search touches only the postings of the phrase's terms.  Both
retrieval rankings reach their top-k through orderBy+limit
(TakeOrderedAndProject), never a corpus-sized window partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.functions import cosine, word_tokens
from sparkml_som_spark.operators.analytics28 import (
    _BM25_B,
    _BM25_K1,
    _BM25_TERMS_SQL,
    bm25_scores,
)
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table

# ---------------------------------------------------------------------------
# CDC apply-changes


@register(
    "cdc_apply_changes",
    sql="""
    WITH log AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               1 AS seq, 'I' AS op, o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderpriority, 2, 'U', o_totalprice * 1.1
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderpriority, 3, 'D', NULL
        FROM orders WHERE o_orderkey % 5 = 0
    ), latest AS (
        SELECT k, pri, op, price FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
            FROM log
        ) WHERE rn = 1
    )
    SELECT pri AS o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE op <> 'D') AS BIGINT) AS n_live,
           ROUND(SUM(price) FILTER (WHERE op <> 'D'), 2)    AS sum_final_price,
           CAST(COUNT(*) FILTER (WHERE op = 'U') AS BIGINT) AS n_updated,
           CAST(COUNT(*) FILTER (WHERE op = 'D') AS BIGINT) AS n_deleted
    FROM latest
    GROUP BY 1
    """,
    desc="CDC merge-apply: I/U/D log reduced to final state by per-key max sequence; per-priority live count, final price sum, update/delete counts",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change-data-capture log (insert / update / delete ops
    with monotone sequence numbers) to reconstruct final table state —
    the APPLY CHANGES contract of Delta Live Tables / Debezium sinks.
    The log is synthesized deterministically from orders in ONE scan:
    every key inserts at seq 1, keys ≡0 (mod 7) update price +10% at
    seq 2, keys ≡0 (mod 5) delete at seq 3.

    Scale: the explode emits ≤3 bounded rows per input row in the same
    pass (no second scan per op type), and the per-key reduction is a
    single groupBy(max_by(_, seq)) — one shuffle on the key, map-side
    partial aggregation, no window sort.  Seqs are unique per key so
    max_by is deterministic.  The priority rollup is 5 rows."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    k = F.col("o_orderkey")
    change = orders.select(
        k.alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("seq"),
                    F.lit("I").alias("op"),
                    F.col("o_totalprice").alias("price"),
                ),
                F.when(
                    k % 7 == 0,
                    F.struct(
                        F.lit(2).alias("seq"),
                        F.lit("U").alias("op"),
                        (F.col("o_totalprice") * 1.1).alias("price"),
                    ),
                ),
                F.when(
                    k % 5 == 0,
                    F.struct(
                        F.lit(3).alias("seq"),
                        F.lit("D").alias("op"),
                        F.lit(None).cast("double").alias("price"),
                    ),
                ),
            )
        ).alias("c"),
    ).where(F.col("c").isNotNull())
    latest = (
        change.groupBy("k")
        .agg(
            F.max_by(
                F.struct(F.col("pri"), F.col("c.op").alias("op"), F.col("c.price").alias("price")),
                F.col("c.seq"),
            ).alias("last")
        )
        .select("last.pri", "last.op", "last.price")
    )
    live = F.col("op") != "D"
    return latest.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.count(F.when(live, 1)).alias("n_live"),
        F.round(F.sum(F.when(live, F.col("price"))), 2).alias("sum_final_price"),
        F.count(F.when(F.col("op") == "U", 1)).alias("n_updated"),
        F.count(F.when(F.col("op") == "D", 1)).alias("n_deleted"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights

_DSIR_BUCKETS = 256
_DSIR_TARGET = "src0"

# Engine-shared hashed feature bucket: 60-bit md5 prefix mod B
# (Spark conv(hex,16,10) == DuckDB '0x'||hex cast; dedup.py simhash notes).
_DSIR_BUCKET_SQL = (
    "CAST('0x' || substr(md5('dsir:' || feat), 1, 15) AS BIGINT) % " + str(_DSIR_BUCKETS)
)


def _dsir_bucket(col):
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), col)), 1, 15), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )


def _doc_features_sql(where: str = "") -> str:
    """Unigram + bigram features per doc (DuckDB side)."""
    return f"""
        SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS feat
        FROM documents {where}
        UNION ALL
        SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS feat
        FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS t
              FROM documents {where}),
             unnest(range(1, len(t))) AS u(i)
    """


def _doc_features(docs: DataFrame) -> DataFrame:
    """Unigram + bigram features per doc (Spark side) — one pass, the
    bigrams built from two shifted O(m) slices (word_shingles' measured
    idiom, without its distinct)."""
    t = word_tokens(F.col("text"))
    m = F.size(t)
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(m - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(m - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return docs.select(
        "doc_id", "source", F.explode(F.concat(t, bigrams)).alias("feat")
    )


@register(
    "dsir_importance_weights",
    sql=f"""
    WITH feats AS (
        SELECT doc_id, source,
               {_DSIR_BUCKET_SQL} AS b
        FROM ({_doc_features_sql()})
    ), bucket_counts AS (
        SELECT b,
               COUNT(*) FILTER (WHERE source = '{_DSIR_TARGET}')  AS ct,
               COUNT(*) FILTER (WHERE source <> '{_DSIR_TARGET}') AS cr
        FROM feats GROUP BY 1
    ), totals AS (
        SELECT SUM(ct) AS tott, SUM(cr) AS totr FROM bucket_counts
    ), doc_w AS (
        SELECT f.doc_id, f.source,
               SUM( ln(((ct + 1.0)::DOUBLE) / (tott + {_DSIR_BUCKETS}))
                  - ln(((cr + 1.0)::DOUBLE) / (totr + {_DSIR_BUCKETS})) ) AS logw
        FROM feats f
        JOIN bucket_counts USING (b)
        CROSS JOIN totals
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(logw), 6) AS avg_logw,
           ROUND(CAST(COUNT(*) FILTER (WHERE logw > 0) AS DOUBLE) / COUNT(*), 6) AS pos_share
    FROM doc_w
    GROUP BY 1
    """,
    desc=f"DSIR importance weights: hashed uni+bigram features ({_DSIR_BUCKETS} buckets), per-doc log target/raw ratio, per-source average + positive share",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    estimate hashed-n-gram bag distributions for a target domain
    (source 'src0') and the raw pool, then weight every
    document by sum over its features of log p_target(b)/p_raw(b)
    (add-one smoothing over the bucket space).  Positive-weight docs
    are the ones importance resampling would favor.

    Scale: two passes over the feature stream (one to train the bucket
    histograms, one to score) — at 100 TB the first pass's 256-row
    histogram is exactly the model a real pipeline would persist; the
    scoring join broadcasts it, so the corpus is never shuffled.  The
    output is one row per source."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    feats = _doc_features(docs).select(
        "doc_id", "source", _dsir_bucket(F.col("feat")).alias("b")
    )
    # r16 continuation, measured REJECTION: pinning `feats`
    # (`localCheckpoint`) to collapse the two tokenize+explode passes
    # (histogram + scoring) into one measured FLAT — order-alternated
    # A/B at sf0.1, 6 reps: two-pass min 1.557 s vs pinned 1.522 s,
    # pinned better only 2/6 pairwise.  The token-occurrence checkpoint
    # write costs about what the second tokenize pass does, and the
    # two-pass form needs no executor-resident corpus-scale blocks —
    # kept as-is (the design the docstring describes).
    is_t = F.col("source") == _DSIR_TARGET
    bucket_counts = feats.groupBy("b").agg(
        F.count(F.when(is_t, 1)).alias("ct"),
        F.count(F.when(~is_t, 1)).alias("cr"),
        # consumed BOTH as a broadcast (scoring join) and via the totals
        # aggregate — a broadcast exchange and a shuffle exchange cannot
        # be shared, so the whole feature pass would run twice (opt r15,
        # guide §2.4; A/B at sf0.1: 0.72 s vs 0.83 s min-of-4).  Bounded
        # at _DSIR_BUCKETS rows.
    ).localCheckpoint()
    totals = bucket_counts.agg(
        F.sum("ct").alias("tott"), F.sum("cr").alias("totr")
    )
    lr = F.log((F.col("ct") + 1.0) / (F.col("tott") + _DSIR_BUCKETS)) - F.log(
        (F.col("cr") + 1.0) / (F.col("totr") + _DSIR_BUCKETS)
    )
    doc_w = (
        feats.join(F.broadcast(bucket_counts), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id", "source")
        .agg(F.sum(lr).alias("logw"))
    )
    return doc_w.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("logw"), 6).alias("avg_logw"),
        F.round(
            F.count(F.when(F.col("logw") > 0, 1)) * F.lit(1.0) / F.count("*"), 6
        ).alias("pos_share"),
    )


# ---------------------------------------------------------------------------
# Naive Bayes quality/domain classifier

_NB_TEST_PREFIX = "3f"  # md5 first byte <= 0x3f => held-out quarter


@register(
    "quality_naive_bayes",
    sql=f"""
    WITH docs AS (
        SELECT doc_id, source, text,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_NB_TEST_PREFIX}' AS is_test,
               source = '{_DSIR_TARGET}' AS is_target
        FROM documents
    ), train_toks AS (
        SELECT is_target, unnest(string_split(lower(text), ' ')) AS w
        FROM docs WHERE NOT is_test
    ), wc AS (
        SELECT w,
               COUNT(*) FILTER (WHERE is_target)     AS ct,
               COUNT(*) FILTER (WHERE NOT is_target) AS cr
        FROM train_toks GROUP BY 1
    ), model AS (
        SELECT SUM(ct) AS tott, SUM(cr) AS totr, COUNT(*) AS v FROM wc
    ), prior AS (
        SELECT COUNT(*) FILTER (WHERE is_target)     AS nt,
               COUNT(*) FILTER (WHERE NOT is_target) AS nr
        FROM docs WHERE NOT is_test
    ), test_toks AS (
        SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
        FROM docs WHERE is_test
    ), scored AS (
        SELECT t.doc_id, t.source,
               ln(((nt + 1.0)::DOUBLE) / ((nt + nr + 2.0)::DOUBLE))
             - ln(((nr + 1.0)::DOUBLE) / ((nt + nr + 2.0)::DOUBLE))
               + SUM( ln(((COALESCE(ct, 0) + 1.0)::DOUBLE) / (tott + v))
                    - ln(((COALESCE(cr, 0) + 1.0)::DOUBLE) / (totr + v)) ) AS logodds
        FROM test_toks t
        LEFT JOIN wc ON t.w = wc.w
        CROSS JOIN model
        CROSS JOIN prior
        GROUP BY t.doc_id, t.source, nt, nr, tott, totr, v
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE logodds > 0) AS BIGINT) AS n_pred_target,
           ROUND(AVG(logodds), 6) AS avg_logodds
    FROM scored
    GROUP BY 1
    """,
    desc="self-trained multinomial NB domain classifier (Laplace smoothing, md5 hash fold split), held-out per-source prediction counts + mean log-odds",
)
def quality_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fastText-style quality/domain classifier of GPT-3 / CCNet /
    LLaMA data pipelines, as multinomial Naive Bayes (target class
    'src0') trained inside the engine: fold split by md5(doc_id)
    prefix (held-out quarter), token
    likelihoods with Laplace smoothing over the train vocabulary,
    unseen test tokens smoothed to 1/(tot+V).  Output: per-source
    held-out doc counts, predicted-target counts (log-odds > 0), and
    mean log-odds.

    Scale: the trained model is a vocabulary-sized relation (31 rows
    here; bounded by vocabulary, not corpus) broadcast onto the test
    token stream, plus two one-row prior/total relations — the corpus
    itself is scanned twice and never shuffled except the bounded
    per-doc aggregation."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        "source",
        "text",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            <= _NB_TEST_PREFIX
        ).alias("is_test"),
        (F.col("source") == _DSIR_TARGET).alias("is_target"),
    )
    train_toks = docs.where(~F.col("is_test")).select(
        "is_target", F.explode(word_tokens(F.col("text"))).alias("w")
    )
    wc = train_toks.groupBy("w").agg(
        F.count(F.when(F.col("is_target"), 1)).alias("ct"),
        F.count(F.when(~F.col("is_target"), 1)).alias("cr"),
    )
    model = wc.agg(
        F.sum("ct").alias("tott"), F.sum("cr").alias("totr"), F.count("*").alias("v")
    )
    prior = (
        docs.where(~F.col("is_test"))
        .agg(
            F.count(F.when(F.col("is_target"), 1)).alias("nt"),
            F.count(F.when(~F.col("is_target"), 1)).alias("nr"),
        )
    )
    test_toks = docs.where(F.col("is_test")).select(
        "doc_id", "source", F.explode(word_tokens(F.col("text"))).alias("w")
    )
    tok_lr = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("tott") + F.col("v"))
    ) - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1.0) / (F.col("totr") + F.col("v")))
    prior_lr = F.log((F.col("nt") + 1.0) / (F.col("nt") + F.col("nr") + 2.0)) - F.log(
        (F.col("nr") + 1.0) / (F.col("nt") + F.col("nr") + 2.0)
    )
    # one combined one-row constants relation (union+agg, not a second
    # crossJoin) keeps the plan at the single approved
    # BroadcastNestedLoopJoin shape the plan audit allows
    consts = model.unionByName(prior, allowMissingColumns=True).agg(
        F.max("tott").alias("tott"),
        F.max("totr").alias("totr"),
        F.max("v").alias("v"),
        F.max("nt").alias("nt"),
        F.max("nr").alias("nr"),
    )
    scored = (
        test_toks.join(F.broadcast(wc), "w", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id", "source")
        .agg((F.first(prior_lr) + F.sum(tok_lr)).alias("logodds"))
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("logodds") > 0, 1)).cast("bigint").alias("n_pred_target"),
        F.round(F.avg("logodds"), 6).alias("avg_logodds"),
    )


# ---------------------------------------------------------------------------
# Positional phrase search

_PHRASE = ("hash", "join", "merge")


@register(
    "phrase_search_positional",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), pos AS (
        SELECT doc_id, i - 1 AS pos, t[i] AS term
        FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
        WHERE t[i] IN ({", ".join(f"'{w}'" for w in _PHRASE)})
    ), anchored AS (
        SELECT doc_id,
               pos - (CASE term {" ".join(f"WHEN '{w}' THEN {i}" for i, w in enumerate(_PHRASE))} END) AS anchor,
               CASE term {" ".join(f"WHEN '{w}' THEN {i}" for i, w in enumerate(_PHRASE))} END AS idx
        FROM pos
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(anchor) AS BIGINT) AS first_pos
    FROM (
        SELECT doc_id, anchor
        FROM anchored
        GROUP BY doc_id, anchor
        HAVING COUNT(DISTINCT idx) = {len(_PHRASE)}
    )
    GROUP BY doc_id
    """,
    desc=f"exact phrase search '{' '.join(_PHRASE)}' via positional inverted index: per-doc match count + first position",
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval over a positional inverted index — each
    token occurrence of a phrase word i votes for anchor position
    (pos - i); an anchor collecting all |phrase| distinct offsets is a
    consecutive-token match.  This is the positional-postings
    intersection real IR engines run; bag-of-words BM25 cannot express
    it.

    Scale: the corpus pass keeps ONLY the phrase terms' occurrences
    (postings-sized, bounded by their document frequency) before any
    shuffle; the anchor vote is a groupBy over those postings.  A
    phrase word appearing at multiple offsets would need one vote per
    offset — the CASE map stays valid because the phrase's words are
    distinct."""
    assert len(set(_PHRASE)) == len(_PHRASE)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    idx_map = F.create_map(
        *[x for i, w in enumerate(_PHRASE) for x in (F.lit(w), F.lit(i))]
    )
    pos = (
        docs.select(
            "doc_id", F.posexplode(word_tokens(F.col("text"))).alias("pos", "term")
        )
        .where(F.col("term").isin(*_PHRASE))
        .select(
            "doc_id",
            (F.col("pos") - idx_map[F.col("term")]).alias("anchor"),
            idx_map[F.col("term")].alias("idx"),
        )
    )
    matches = (
        pos.groupBy("doc_id", "anchor")
        .agg(F.count_distinct("idx").alias("n_idx"))
        .where(F.col("n_idx") == len(_PHRASE))
    )
    return matches.groupBy("doc_id").agg(
        F.count("*").alias("n_matches"),
        F.min("anchor").cast("bigint").alias("first_pos"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion

_RRF_K = 60
_RRF_POOL = 20  # per-ranker candidate pool
_RRF_TOPK = 10
_RRF_QVEC = 0  # embedding query: vec_id 0 against the rest


# shared with the round-11 reranker oracle, which wraps this SELECT as
# its candidate CTE — one definition, two consumers
_RRF_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY 1
    ), stats AS (
        SELECT COUNT(*) AS n, AVG(dlen) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS f
        FROM toks WHERE term IN ({_BM25_TERMS_SQL})
        GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), bm25 AS (
        SELECT tf.doc_id,
               SUM( ln((n - df + 0.5) / (df + 0.5) + 1)
                    * f * ({_BM25_K1} + 1)
                    / (f + {_BM25_K1} * (1 - {_BM25_B}
                                         + {_BM25_B} * dlen / avgdl)) ) AS score
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY 1
    ), lex AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex
        FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id LIMIT {_RRF_POOL})
    ), sem AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_sem
        FROM (
            SELECT e.vec_id,
                   list_cosine_similarity(q.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]) AS cos
            FROM embeddings e
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {_RRF_QVEC}) q
            WHERE e.vec_id <> {_RRF_QVEC}
            ORDER BY cos DESC, e.vec_id LIMIT {_RRF_POOL}
        )
    )
    SELECT doc_id, r_lex, r_sem, ROUND(rrf, 6) AS rrf
    FROM (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               CAST(r_lex AS BIGINT) AS r_lex,
               CAST(r_sem AS BIGINT) AS r_sem,
               COALESCE(1.0::DOUBLE / ({_RRF_K} + r_lex), 0)
             + COALESCE(1.0::DOUBLE / ({_RRF_K} + r_sem), 0) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    ORDER BY rrf DESC, doc_id
    LIMIT {_RRF_TOPK}
"""


@register(
    "hybrid_rrf_fusion",
    sql=_RRF_ORACLE,
    desc=f"reciprocal-rank fusion (k={_RRF_K}) of BM25 lexical and embedding-cosine rankings, {_RRF_POOL}-deep pools fused to top-{_RRF_TOPK}",
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking (fixed query
    terms) with the embedding cosine ranking (query = vec_id 0, which
    shares the documents' id space) by reciprocal-rank fusion,
    score = Σ 1/(k + rank) over the rankers that retrieved the doc
    (Cormack et al. 2009).  Ranks, not scores, cross the fusion
    boundary — so the two legs' incomparable score scales never mix.

    Scale: each leg reaches its {_RRF_POOL}-row pool through
    orderBy+limit (TakeOrderedAndProject — per-partition partial top-k,
    bounded merge), ranks are assigned by a window over the already
    {_RRF_POOL}-row pool, and the fusion join is {_RRF_POOL}x{_RRF_POOL}
    at most.  No corpus-sized window partition on either leg."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    lex_pool = (
        bm25_scores(docs).orderBy(F.desc("score"), F.asc("doc_id")).limit(_RRF_POOL)
    )
    lex = lex_pool.withColumn(
        "r_lex",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
    ).select("doc_id", "r_lex")
    # constant-VALUED but column-derived join key for the one-row query
    # vector: `vec_id * 0` is not constant-foldable, so Catalyst plans a
    # BroadcastHashJoin here (a literal key folds to `true` and degrades
    # to a second BroadcastNestedLoopJoin) — keeping the BM25 leg's
    # one-row stats broadcast as the plan's single BNLJ (the
    # audit-approved shape)
    qv = emb.where(F.col("vec_id") == _RRF_QVEC).select(
        F.col("v").alias("qv"), (F.col("vec_id") * 0).alias("_k")
    )
    sem_pool = (
        emb.where(F.col("vec_id") != _RRF_QVEC)
        .withColumn("_k", F.col("vec_id") * 0)
        .join(F.broadcast(qv), "_k")
        .select(F.col("vec_id").alias("doc_id"), cosine(F.col("qv"), F.col("v")).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(_RRF_POOL)
    )
    sem = sem_pool.withColumn(
        "r_sem", F.row_number().over(Window.orderBy(F.desc("cos"), F.asc("doc_id")))
    ).select("doc_id", "r_sem")
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("r_lex").cast("bigint").alias("r_lex"),
            F.col("r_sem").cast("bigint").alias("r_sem"),
            (
                F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_sem")), F.lit(0.0))
            ).alias("rrf_raw"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
        .limit(_RRF_TOPK)
        .select("doc_id", "r_lex", "r_sem", F.round("rrf_raw", 6).alias("rrf"))
    )

"""Training-corpus operations, part 3: domain-mixture reweighting,
balanced shard assignment via distributed global ranking, value
histograms, schema-evolution reads, and contrastive negative sampling.

These extend the LLM-pipeline surface (dedup.py, text.py, corpus_ops2.py)
with the steps that come AFTER hygiene: deciding how much of each domain
to sample (mixture weights), laying the corpus out for distributed
training (shards balanced by size), and pairing examples for contrastive
objectives (negative sampling).

Scale discipline, per operator:

- mixture weights aggregate to one row per (source, lang) — the global
  total rides a single-row cross join (broadcast), never a global window
  over the corpus;
- shard assignment needs a GLOBAL rank, which a naive
  `row_number() OVER (ORDER BY ...)` computes on ONE task (the classic
  scale cliff).  The implementation here is the two-phase distributed
  form: range-repartition on the sort key, count rows per partition
  (bounded collect: one row per partition), broadcast the prefix
  offsets, then assign rank = offset[pid] + local index inside
  mapInPandas.  Wall-clock scales with partitions, not with one sorter;
- the histogram is floor-arithmetic binning (JVM-side), map-side
  combined to n_bins rows;
- schema-merge reads are a reader feature (parquet footer union), not a
  data shuffle;
- negative sampling derives the partner key arithmetically (no RNG, no
  shuffle beyond the self-join on the derived key) and the self-join's
  build side is the corpus itself re-keyed — an equi-join Spark plans as
  a standard shuffle join, skew-free because the derived key is a
  bijection.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.functions import word_tokens
from sparkml_som_spark.operators.registry import broadcast, materialize_small, register
from sparkml_som_spark.sources import load_table, read_parquet, scratch_dir

_N_SHARDS = 16
_HIST_WIDTH = 25.0  # events.value spans ~[0, 500) -> ~20 bins


def distributed_global_rank(
    df: DataFrame,
    sort_cols: list,
    n_parts: int = 8,
    *,
    total_out: list | None = None,
) -> DataFrame:
    """Append a 0-based global `rank` column under the given total order
    WITHOUT a single-task window.

    `row_number() OVER (ORDER BY ...)` with no PARTITION BY funnels every
    row through one task; this is the two-phase distributed equivalent:

    1. range-repartition + local sort on the keys, so partition p holds
       ranks strictly before partition p+1;
    2. count rows per partition — a bounded collect (one long per
       partition; 1000 longs on a 1000-executor layout);
    3. broadcast the prefix-sum offsets and assign
       rank = offset[partition] + local_index inside mapInPandas.

    Two passes over the data, no stage wider than a scan.  The sort
    columns must be a TOTAL order (include a tiebreaker) or ranks within
    a tie are partition-layout-dependent.

    The partitioned+sorted intermediate is pinned ONCE before the count
    pass: RangePartitioner samples range bounds with an RDD-seeded RNG,
    and two INDEPENDENT physical plans (one per action) could draw
    DIFFERENT bounds, silently duplicating/skipping ranks.  A
    ``persist()`` gives the guarantee cheaply: both the count action and
    the assign action resolve to the SAME InMemoryRelation, whose child
    is one RDD instance with one RangePartitioner — even an
    eviction-triggered recompute re-executes that same instance, so the
    bounds can never diverge.  Unlike the eager ``localCheckpoint`` this
    replaced, no separate materialization job runs: the count pass both
    fills the cache and produces the per-partition counts in one job
    (boundary stability is covered by
    ``test_distributed_global_rank_matches_window``).

    ``total_out``, when given, receives the exact row count EAGERLY,
    during this call: the count pass above is a collect, so callers may
    read ``total_out[0]`` as soon as the function returns (pinned by
    ``test_rank_total_out_matches_count``)."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    parted = (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    counts = {
        r["pid"]: r["n"]
        for r in parted.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if total_out is not None:
        # the per-partition counts already sum to the exact row count —
        # callers that need N can take it here instead of paying a
        # SECOND full pass (an extra job through mapInPandas or a
        # re-scan of an expensive upstream) just to count rows they
        # ranked a moment ago (opt r16, guide §1.2/§2.4)
        total_out.append(acc)
    bc = broadcast(spark, offsets)
    from pyspark.sql import types as T

    out_schema = T.StructType(df.schema.fields + [T.StructField("rank", T.LongType())])

    def assign(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        for pdf in it:
            base = bc.value.get(pid, 0) + seen
            seen += len(pdf)
            pdf = pdf.copy()
            pdf["rank"] = range(base, base + len(pdf))
            yield pdf

    return parted.mapInPandas(assign, out_schema)


@register(
    "corpus_mixture_weights",
    sql="""
    WITH per AS (
        SELECT source, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source, lang
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_groups
        FROM per
    )
    SELECT per.source, per.lang, per.n_docs, per.n_tokens,
           ROUND(per.n_tokens * 1.0 / tot.total_tokens, 6) AS token_share,
           ROUND((1.0 / tot.n_groups) / (per.n_tokens * 1.0 / tot.total_tokens), 6)
               AS sample_weight
    FROM per, tot
    """,
    desc="domain-mixture reweighting: per-(source,lang) token shares and flat-mixture sampling weights",
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing step of a pretraining pipeline: measure each
    (source, lang) domain's token share, then emit the sampling weight
    that flattens the mixture to uniform over domains (weight > 1 =>
    upsample, < 1 => downsample).  One corpus aggregation to a bounded
    per-domain table; the global total joins back via a broadcast cross
    join of ONE row — no second pass over the corpus, no global window."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ntok = F.size(word_tokens(F.col("text")))
    per = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"), F.count("*").alias("n_groups")
    )
    share = F.col("n_tokens") / F.col("total_tokens")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round((1.0 / F.col("n_groups")) / share, 6).alias("sample_weight"),
    )


@register(
    "shard_assignment_balanced",
    sql=f"""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               (ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1) % {_N_SHARDS}
                   AS shard
        FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)  AS sum_chars,
           CAST(MIN(n_chars) AS BIGINT)  AS min_chars,
           CAST(MAX(n_chars) AS BIGINT)  AS max_chars
    FROM ranked
    GROUP BY shard
    """,
    desc="size-balanced shard assignment via two-phase distributed global ranking (round-robin by length rank)",
)
def shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign docs to training shards, balanced by size: rank docs by
    length (desc) and deal them round-robin over shards — the standard
    greedy layout that keeps per-shard token totals within one doc of
    each other.

    The global rank is computed the SCALABLE way, not with a
    single-partition window: (1) range-repartition + local sort on
    (n_chars DESC, doc_id) so partition p holds ranks strictly before
    partition p+1; (2) count rows per partition — a bounded collect of
    one long per partition; (3) broadcast the prefix-sum offsets and
    assign rank = offset[pid] + local_index inside mapInPandas.  At
    100 TB this is two corpus passes and a 1000-element driver array —
    `ROW_NUMBER() OVER (ORDER BY ...)` with no PARTITION BY would push
    the whole corpus through one task."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "n_chars")
    ranked = distributed_global_rank(
        docs, [F.col("n_chars").desc(), F.col("doc_id").asc()], n_parts=8
    )
    assigned = ranked.withColumn("shard", (F.col("rank") % _N_SHARDS).cast("int"))
    out = assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return materialize_small(out)


@register(
    "histogram_event_values",
    sql=f"""
    SELECT CAST(FLOOR(value / {_HIST_WIDTH}) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT)                  AS n,
           ROUND(MIN(value), 4)                      AS min_v,
           ROUND(MAX(value), 4)                      AS max_v,
           ROUND(AVG(value), 4)                      AS avg_v
    FROM events
    GROUP BY 1
    """,
    desc="fixed-width histogram over events.value: floor-arithmetic binning, map-side combined",
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution profiling — the op behind outlier screens and
    binned dashboards.  Binning is pure JVM arithmetic (floor of a
    division), so the aggregation map-side combines to n_bins rows per
    task; no UDF, no second pass for the bin edges."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.floor(F.col("value") / F.lit(_HIST_WIDTH)).cast("int").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
            F.round(F.avg("value"), 4).alias("avg_v"),
        )
    )


@register(
    "source_parquet_schema_merge",
    sql="""
    WITH merged AS (
        SELECT doc_id, n_chars, NULL AS lang FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)     AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM merged
    GROUP BY lang
    """,
    desc="parquet schema evolution: mergeSchema read over generations with different columns",
)
def source_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-lived ingest layouts accrete columns; readers must union the
    schemas without rewriting old files.  Two generations are written —
    gen1 (doc_id, n_chars), gen2 adds `lang` — and read back with
    mergeSchema=true: parquet footer union only, old rows surface NULL
    for the new column.  At scale this is metadata work (footers), not a
    data rewrite; the aggregation after it confirms no rows were lost or
    mistyped across generations."""
    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir(sf_dir, "docs_evolving")
    gen1 = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
    gen2 = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "n_chars", "lang")
    gen1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = read_parquet(
        spark, os.path.join(base, "gen=1"), os.path.join(base, "gen=2"), mergeSchema="true"
    )
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


_NEG_STRIDE = 97  # coprime to any realistic corpus size -> bijective partner map


@register(
    "negative_sampling_pairs",
    sql=f"""
    WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
    pairs AS (
        SELECT a.vec_id, a.label AS label_a,
               b.vec_id AS partner_id, b.label AS label_b,
               list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   AS cos_raw
        FROM embeddings a
        JOIN n ON TRUE
        JOIN embeddings b ON b.vec_id = (a.vec_id + {_NEG_STRIDE}) % n.cnt
    )
    SELECT label_a, label_b,
           CAST(COUNT(*) AS BIGINT)  AS n_pairs,
           ROUND(AVG(cos_raw), 4)    AS avg_cos
    FROM pairs
    GROUP BY label_a, label_b
    """,
    desc="contrastive negative sampling: deterministic stride-partner pairs + per-label-pair cosine profile",
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-pair generation for contrastive training, made
    deterministic: each vector's partner is (vec_id + stride) mod N — a
    bijection, so every vector appears exactly once on each side, no RNG
    to disagree across engines or retries, and the derived key is
    skew-free by construction.  The join is a plain equi-join on the
    derived key (standard shuffle join; N is exact from a bounded
    one-row aggregate).  Output is the per-(label, label) cosine
    profile — the separability diagnostic read before training."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # N rides a one-row broadcast cross join (same shape as the oracle
    # SQL's `JOIN n ON TRUE`) so the whole query is ONE composable plan
    # with no separate driver-side count() action.
    cnt = emb.agg(F.count("*").alias("cnt"))
    a = emb.crossJoin(F.broadcast(cnt)).select(
        F.col("vec_id"),
        F.col("label").alias("label_a"),
        F.col("v").alias("va"),
        ((F.col("vec_id") + _NEG_STRIDE) % F.col("cnt")).alias("partner_id"),
    )
    b = emb.select(
        F.col("vec_id").alias("partner_id"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
    )
    from sparkml_som_spark.operators.similarity import cosine

    pairs = a.join(b, "partner_id").select(
        "label_a", "label_b", cosine(F.col("va"), F.col("vb")).alias("cos_raw")
    )
    return pairs.groupBy("label_a", "label_b").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("cos_raw"), 4).alias("avg_cos"),
    )


@register(
    "length_trim_quantile",
    sql="""
    WITH bounds AS (
        SELECT quantile_cont(n_chars, 0.05) AS lo,
               quantile_cont(n_chars, 0.95) AS hi
        FROM documents
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT)                              AS n_docs,
           CAST(count_if(d.n_chars >= b.lo AND d.n_chars <= b.hi)
                AS BIGINT)                                       AS n_kept,
           CAST(SUM(CASE WHEN d.n_chars >= b.lo AND d.n_chars <= b.hi
                         THEN d.doc_id ELSE 0 END) AS BIGINT)    AS kept_id_sum,
           ROUND(b.lo, 4)                                        AS lo,
           ROUND(b.hi, 4)                                        AS hi
    FROM documents d, bounds b
    GROUP BY d.source, b.lo, b.hi
    """,
    desc="quantile length trim: drop docs outside the exact [p5, p95] length band",
)
def length_trim_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier trimming by length quantile — the screen that drops
    truncated fragments and concatenation blobs before training.  The
    exact percentile pass aggregates to ONE row (broadcast back via a
    one-row cross join, same discipline as corpus_mixture_weights);
    the filter itself is then a stateless scan predicate.  At 100 TB
    swap the exact percentile for approx_percentile and re-use the
    identical topology; `kept_id_sum` pins exact membership of the kept
    set, not just its size."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    keep = (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
    return (
        docs.crossJoin(F.broadcast(bounds))
        .groupBy("source", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(keep).alias("n_kept"),
            F.sum(F.when(keep, F.col("doc_id")).otherwise(0)).alias("kept_id_sum"),
        )
        .select(
            "source", "n_docs", "n_kept", "kept_id_sum",
            F.round("lo", 4).alias("lo"), F.round("hi", 4).alias("hi"),
        )
    )


_STRAT_K = 10


@register(
    "sample_stratified_topk",
    sql=f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)      AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT)   AS sampled_id_sum,
           CAST(SUM(n_chars) AS BIGINT)  AS sampled_chars
    FROM ranked
    WHERE rk <= {_STRAT_K}
    GROUP BY source
    """,
    desc="balanced downsample: deterministic top-k per stratum via md5 ordering",
)
def sample_stratified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-per-stratum downsampling (k docs per source) — the
    balanced-subset op behind eval-set construction and per-domain
    caps.  Ordering by md5(doc_id) makes the 'random' choice a pure
    function of the row: identical across engines, re-runs, and
    cluster sizes.  One shuffle on the stratum key; the per-stratum
    window never sees more than one stratum, so no global sort and no
    hot task as long as strata outnumber... cores (for a skewed mega-
    stratum, pre-filter with a hash-threshold pass first)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _STRAT_K)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("sampled_id_sum"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


_MANIFEST_SHARDS = 8


@register(
    "pipeline_training_manifest",
    sql=f"""
    WITH bounds AS (
        SELECT quantile_cont(n_chars, 0.05) AS lo,
               quantile_cont(n_chars, 0.95) AS hi
        FROM documents
    ), kept AS (
        SELECT d.* FROM documents d, bounds b
        WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    ), canon AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS copy_rk
        FROM kept
    ), deduped AS (
        SELECT doc_id, source, n_chars FROM canon WHERE copy_rk = 1
    ), sharded AS (
        SELECT doc_id, source, n_chars,
               (ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1)
                   % {_MANIFEST_SHARDS} AS shard
        FROM deduped
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT)               AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)           AS sum_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(doc_id) AS BIGINT)            AS id_checksum
    FROM sharded
    GROUP BY shard
    """,
    desc="composed training manifest: quantile trim -> exact dedup -> distributed rank -> balanced shards",
)
def pipeline_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end layout step of a pretraining data build, composed
    from this round's primitives: screen by length band, keep one copy
    per exact-content fingerprint, rank the survivors by size with the
    two-phase distributed ranking, deal round-robin into shards, and
    emit the per-shard manifest (id_checksum pins exact membership).

    Every stage keeps its standalone scale shape: one-row broadcast
    bounds, per-fingerprint window (partitioned — no global sort),
    two-pass global rank, bounded manifest output.  At 100 TB the same
    composition runs with approx_percentile bounds and a minhash dedup
    stage swapped in — the topology is unchanged."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", spread=True)
    bounds = docs.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    kept = docs.crossJoin(F.broadcast(bounds)).where(
        (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
    )
    copy_rk = F.row_number().over(
        W.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    deduped = (
        kept.withColumn("copy_rk", copy_rk)
        .where(F.col("copy_rk") == 1)
        .select("doc_id", "source", "n_chars")
    )
    # opt r16, measured REJECTION: pinning `deduped` (`localCheckpoint`)
    # before the rank measured FLAT — the range-partitioner's sample pass
    # re-runs only the sort+window above the fingerprint exchange (the
    # shuffle files are reused across sample and fill), which costs about
    # what the checkpoint barrier does.  Order-alternated A/B at sf0.1,
    # 8 reps: unpinned min 1.597 s vs ckpt 1.606 s, 4/8 pairwise
    # (OPTIMIZATION_r16.md §C3).  Left un-pinned: same speed, simpler plan,
    # no executor-resident blocks.
    ranked = distributed_global_rank(
        deduped, [F.col("n_chars").desc(), F.col("doc_id").asc()], n_parts=8
    )
    out = (
        ranked.withColumn("shard", (F.col("rank") % _MANIFEST_SHARDS).cast("int"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )
    return materialize_small(out)


def _funnel_stages(ev: DataFrame):
    """The 3-step funnel's per-user stage tables: first signup, first
    qualifying click within 7 days of it, first qualifying purchase
    within 7 days of that.  Every hop is an equi-join on user_id with
    the time predicate as a filter, then a per-user MIN — all shuffles
    land on the same key, so the stages co-partition (one wide
    exchange, reused) and each output is bounded by the user
    population, not the event volume."""
    ev = ev.select("user_id", "event_type", "ts")
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("s_ts")
    )
    c = (
        s.join(
            ev.where(F.col("event_type") == "click").select(
                F.col("user_id").alias("c_user"), F.col("ts").alias("e_ts")
            ),
            (F.col("c_user") == F.col("user_id"))
            & (F.col("e_ts") >= F.col("s_ts"))
            & (F.col("e_ts") < F.col("s_ts") + F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("user_id")
        .agg(F.min("e_ts").alias("c_ts"))
    )
    p = (
        c.join(
            ev.where(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("p_user"), F.col("ts").alias("e_ts")
            ),
            (F.col("p_user") == F.col("user_id"))
            & (F.col("e_ts") >= F.col("c_ts"))
            & (F.col("e_ts") < F.col("c_ts") + F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("user_id")
        .agg(F.min("e_ts").alias("p_ts"))
    )
    return s, c, p


@register(
    "funnel_conversion_events",
    sql="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS s_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
        SELECT s.user_id, MIN(e.ts) AS c_ts
        FROM s JOIN events e
          ON e.user_id = s.user_id AND e.event_type = 'click'
         AND e.ts >= s.s_ts AND e.ts < s.s_ts + INTERVAL 7 DAY
        GROUP BY s.user_id
    ), p AS (
        SELECT c.user_id, MIN(e.ts) AS p_ts
        FROM c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts >= c.c_ts AND e.ts < c.c_ts + INTERVAL 7 DAY
        GROUP BY c.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase,
           ROUND((SELECT COUNT(*) FROM c) * 1.0
                 / (SELECT COUNT(*) FROM s), 4)     AS click_rate,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / (SELECT COUNT(*) FROM c), 4)     AS purchase_rate
    """,
    desc="3-step funnel: signup -> first click <=7d -> first purchase <=7d, per-step conversion",
)
def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis — SEQUENTIAL temporal matching, which
    neither the interval join (one hop) nor sessionization (no step
    order) covers: each stage anchors on the previous stage's FIRST
    qualifying event.  Every hop is an equi-join on user_id with a time
    predicate, then a per-user MIN — all shuffles land on the same key,
    so at 100 TB the stages co-partition (one wide exchange, reused),
    and each stage's output is bounded by the user population, not the
    event volume."""
    s, c, p = _funnel_stages(load_table(spark, sf_dir, "events"))
    # ONE pass: left-join the per-user stage tables on their shared key
    # and count stage columns in a single aggregate — the three-counter
    # crossJoin form computed the shared stages three times over
    joined = s.join(c, "user_id", "left").join(p, "user_id", "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_signup"),
        F.count("c_ts").alias("n_click"),
        F.count("p_ts").alias("n_purchase"),
        F.round(F.count("c_ts") / F.count(F.lit(1)), 4).alias("click_rate"),
        F.round(F.count("p_ts") / F.count("c_ts"), 4).alias("purchase_rate"),
    )


@register(
    "funnel_cohort_daily",
    sql="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS s_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
        SELECT s.user_id, MIN(e.ts) AS c_ts
        FROM s JOIN events e
          ON e.user_id = s.user_id AND e.event_type = 'click'
         AND e.ts >= s.s_ts AND e.ts < s.s_ts + INTERVAL 7 DAY
        GROUP BY s.user_id
    ), p AS (
        SELECT c.user_id, MIN(e.ts) AS p_ts
        FROM c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts >= c.c_ts AND e.ts < c.c_ts + INTERVAL 7 DAY
        GROUP BY c.user_id
    )
    SELECT CAST(s.s_ts AS DATE)              AS cohort_day,
           CAST(COUNT(*) AS BIGINT)          AS n_signup,
           CAST(COUNT(c.c_ts) AS BIGINT)     AS n_click,
           CAST(COUNT(p.p_ts) AS BIGINT)     AS n_purchase,
           ROUND(COUNT(c.c_ts) * 1.0 / COUNT(*), 4) AS click_rate,
           CASE WHEN COUNT(c.c_ts) = 0 THEN NULL
                ELSE ROUND(COUNT(p.p_ts) * 1.0 / COUNT(c.c_ts), 4)
           END AS purchase_rate
    FROM s
    LEFT JOIN c ON c.user_id = s.user_id
    LEFT JOIN p ON p.user_id = s.user_id
    GROUP BY 1
    """,
    desc="per-day cohort funnel: signup-date cohorts with per-stage conversion (grouped funnel output)",
)
def funnel_cohort_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel grouped by signup-date cohort — the report product
    analytics actually reads (which day's signups convert).  Reuses the
    same per-user stage tables as funnel_conversion_events, then LEFT
    JOINs them back on user_id and aggregates per cohort day: every
    shuffle stays on user_id until the final bounded per-day rollup
    (output rows = distinct signup days), so the grouped form adds one
    small keyed aggregation to the flat funnel's plan, nothing more."""
    s, c, p = _funnel_stages(load_table(spark, sf_dir, "events"))
    joined = s.join(c, "user_id", "left").join(p, "user_id", "left")
    n_click = F.count("c_ts")
    return (
        joined.groupBy(F.col("s_ts").cast("date").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            n_click.alias("n_click"),
            F.count("p_ts").alias("n_purchase"),
            F.round(F.count("c_ts") / F.count(F.lit(1)), 4).alias("click_rate"),
            F.when(
                F.count("c_ts") == 0, F.lit(None).cast("double")
            ).otherwise(F.round(F.count("p_ts") / F.count("c_ts"), 4)).alias(
                "purchase_rate"
            ),
        )
    )

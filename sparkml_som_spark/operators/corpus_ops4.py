"""Training-corpus operations, part 4 (round 5): multi-dimensional
z-order layout, applied mixture resampling, video frame planning as a
first-class query, per-key anomaly screening, and inverted-index
construction.

Scale discipline, per operator:

- z-order layout is the clustering you run BEFORE writing 100 TB so
  that multi-dimensional predicates prune files: the z-value is pure
  JVM bit arithmetic (one scan, codegen), and the locality audit
  aggregates to a bounded per-bucket table;
- mixture resampling applies corpus_mixture_weights' output without a
  second corpus statistics pass: the per-domain weight table (bounded:
  sources x langs) broadcasts onto the corpus scan, and the repeat
  count is derived per-row from a content hash — deterministic across
  engines, retries, and cluster sizes, no RNG state;
- the frame plan is explode-over-computed-sequence, JVM-side; output
  rows scale with frames, not payload bytes, and the payload column is
  never read (column pruning does the 100 TB work);
- the anomaly screen aggregates the event stream to a bounded
  (type, day) table FIRST; the z-score window runs over that bounded
  table, so the window is never a corpus-wide sort;
- the inverted index caps postings per term with a per-term window
  BEFORE collect_list, so a stopword's posting list can never
  materialize unbounded in one aggregation buffer (the classic hot-key
  OOM in index builds); document frequency comes from the co-partitioned
  full count, joined back on the same key (no extra shuffle shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.functions import word_tokens
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.sources import load_table

_Z_BITS = 8  # 8 bits per dimension -> 16-bit z-value, 256 coarse buckets
_Z_VAL_WIDTH = 4.0  # events.value in [0, 500) -> /4 fits 8 bits


def _zorder_expr(ub: str, vb: str, bits: int = _Z_BITS) -> str:
    """Bit-interleave SQL for two bucketized dimensions, written in the
    operator/function subset Spark SQL and DuckDB share (`>>`, `&`,
    integer multiply-add), so ONE string is the implementation and the
    oracle."""
    terms = []
    for i in range(bits):
        terms.append(f"((({ub} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({vb} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


_Z_UB = "(user_id % 256)"
_Z_VB = f"(CAST(FLOOR(value / {_Z_VAL_WIDTH}) AS BIGINT) % 256)"


@register(
    "zorder_layout_events",
    sql=f"""
    WITH z AS (
        SELECT user_id,
               {_Z_UB} AS ub,
               {_Z_VB} AS vb,
               {_zorder_expr(_Z_UB, _Z_VB)} AS zval
        FROM events
    )
    SELECT (zval >> {_Z_BITS}) AS zbucket,
           CAST(COUNT(*) AS BIGINT)  AS n,
           CAST(MIN(ub) AS BIGINT)   AS min_ub,
           CAST(MAX(ub) AS BIGINT)   AS max_ub,
           CAST(MIN(vb) AS BIGINT)   AS min_vb,
           CAST(MAX(vb) AS BIGINT)   AS max_vb,
           CAST((MAX(ub) - MIN(ub) + 1) * (MAX(vb) - MIN(vb) + 1) AS BIGINT)
               AS bbox_area
    FROM z
    GROUP BY 1
    """,
    desc="z-order (Morton) layout audit: bit-interleaved clustering key + per-bucket bounding boxes for multi-dim data skipping",
)
def zorder_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout — the file-clustering step that makes BOTH
    `user_id` and `value` predicates prune files at 100 TB (min/max
    footer stats on a 1-D sort key only prune one dimension).  The
    z-value interleaves the bits of the two bucketized dimensions; rows
    sorted/partitioned by it land in files whose per-file bounding
    boxes are small in BOTH dimensions.  The query emits the per-bucket
    bounding boxes (the audit a table optimizer runs to validate a
    clustering): tight `bbox_area` per bucket = effective skipping.

    The z-value is one arithmetic expression (JVM codegen, no UDF, no
    shuffle); the audit aggregates to <=256 rows map-side.  The same
    expression string is the DuckDB oracle — engine-parity by
    construction."""
    ev = load_table(spark, sf_dir, "events")
    z = ev.select(
        F.expr(_Z_UB).alias("ub"),
        F.expr(_Z_VB).alias("vb"),
        F.expr(_zorder_expr(_Z_UB, _Z_VB)).alias("zval"),
    )
    return (
        z.groupBy(F.expr(f"(zval >> {_Z_BITS})").alias("zbucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("ub").alias("min_ub"),
            F.max("ub").alias("max_ub"),
            F.min("vb").alias("min_vb"),
            F.max("vb").alias("max_vb"),
        )
        .select(
            "zbucket",
            "n",
            "min_ub",
            "max_ub",
            "min_vb",
            "max_vb",
            (
                (F.col("max_ub") - F.col("min_ub") + 1)
                * (F.col("max_vb") - F.col("min_vb") + 1)
            ).alias("bbox_area"),
        )
    )


@register(
    "mixture_resample_apply",
    sql="""
    WITH per AS (
        SELECT source, lang,
               CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source, lang
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_groups
        FROM per
    ), wt AS (
        SELECT per.source, per.lang,
               (1.0 / tot.n_groups) / (per.n_tokens * 1.0 / tot.total_tokens) AS w
        FROM per, tot
    ), rep AS (
        SELECT d.source, d.lang, d.doc_id,
               CAST(FLOOR(wt.w) AS BIGINT)
               + CASE WHEN CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           / 4294967296.0 < wt.w - FLOOR(wt.w)
                      THEN 1 ELSE 0 END AS n_rep
        FROM documents d
        JOIN wt ON wt.source = d.source AND wt.lang = d.lang
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT)             AS n_docs_in,
           CAST(SUM(n_rep) AS BIGINT)           AS n_rows_out,
           CAST(SUM(doc_id * n_rep) AS BIGINT)  AS id_checksum
    FROM rep
    GROUP BY source, lang
    """,
    desc="apply mixture weights: deterministic hash-Bernoulli repeat/drop materializing the flattened domain mixture",
)
def mixture_resample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step after corpus_mixture_weights: materialize the
    reweighted corpus by repeating each doc floor(w) times plus one more
    with probability frac(w) — decided by a content-hash uniform, not an
    RNG, so the resample is identical across engines, retries, and
    cluster layouts, and the oracle can replay it exactly.

    The per-domain weight table is bounded (sources x langs) and
    broadcasts onto the corpus scan; the repeat itself is
    explode(sequence(1, n_rep)) — row fan-out exactly w-fold, no second
    statistics pass over the corpus.  Output pins the achieved per-domain
    row counts and the id-weighted checksum (exact membership-with-
    multiplicity), aggregated from the EXPLODED rows — a fan-out bug
    (off-by-one repeat, dropped domain) breaks the hash."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ntok = F.size(word_tokens(F.col("text")))
    per = docs.groupBy("source", "lang").agg(F.sum(ntok).alias("n_tokens"))
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"), F.count("*").alias("n_groups")
    )
    wt = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        (
            (1.0 / F.col("n_groups"))
            / (F.col("n_tokens") * 1.0 / F.col("total_tokens"))
        ).alias("w"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        / F.lit(4294967296.0)
    )
    n_rep = (
        F.floor("w").cast("long")
        + F.when(u < F.col("w") - F.floor("w"), F.lit(1)).otherwise(F.lit(0))
    )
    repeated = (
        docs.select("source", "lang", "doc_id")
        .join(F.broadcast(wt), ["source", "lang"])
        .withColumn("n_rep", n_rep)
        .where(F.col("n_rep") >= 1)  # sequence(1, 0) would step BACKWARD
        .select(
            "source", "lang", "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("n_rep"))).alias("_i"),
        )
    )
    # domains whose every doc resolved to 0 repeats must still report
    # (n_rows_out = 0): aggregate the exploded rows, then right-join the
    # per-domain input counts
    out_agg = repeated.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_rows_out"),
        F.sum("doc_id").alias("id_checksum"),
    )
    in_counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs_in")
    )
    return (
        in_counts.join(out_agg, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            "n_docs_in",
            F.coalesce("n_rows_out", F.lit(0)).alias("n_rows_out"),
            F.coalesce("id_checksum", F.lit(0)).alias("id_checksum"),
        )
    )


_FRAME_EVERY_MS = 1000


@register(
    "media_video_frame_plan",
    sql=f"""
    SELECT doc_id AS media_id,
           CAST(FLOOR((n_chars - 1) / {_FRAME_EVERY_MS}) + 1 AS BIGINT) AS n_frames,
           CAST(FLOOR((n_chars - 1) / {_FRAME_EVERY_MS}) * {_FRAME_EVERY_MS} AS BIGINT)
               AS max_frame_ts
    FROM documents
    WHERE n_chars > 0 AND doc_id % 3 = 0
    """,
    desc="multimodal: per-video frame-sampling plan (explode over computed sequence) under full oracle",
)
def media_video_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registers the video frame-sampling plan as a first-class query:
    synthesize a video-media table (duration_ms stands in from
    n_chars — the testdata has no blob column), run the
    explode-over-sequence frame planner, and aggregate per video.  The
    closed-form frame count/last-timestamp is the oracle, so a sequence
    off-by-one (endpoint, step) breaks the hash.

    Scale: the planner touches ONLY the metadata column — the payload
    is never scanned (column pruning), and output rows scale with
    frames, not bytes.  The real decoder attaches downstream as
    mapInPandas over (media_id, frame_ts_ms) joined back to payloads."""
    from sparkml_som_spark.operators.multimodal import sample_video_frames

    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        F.col("n_chars").alias("duration_ms"),
    )
    frames = sample_video_frames(media, every_ms=_FRAME_EVERY_MS)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_ms").cast("long").alias("max_frame_ts"),
    )


_CHUNK_MS = 2000
_HOP_MS = 1500


@register(
    "media_audio_chunk_plan",
    # the oracle replays the chunker directly: DuckDB's stepped range
    # generates the same start sequence, LEAST applies the same clip
    sql=f"""
    WITH m AS (
        SELECT doc_id AS media_id, n_chars AS d
        FROM documents WHERE n_chars > 0 AND doc_id % 3 = 1
    ), c AS (
        SELECT media_id, u.s AS start_ms,
               LEAST(u.s + {_CHUNK_MS}, d) AS end_ms, d
        FROM m, unnest(range(0, d, {_HOP_MS})) AS u(s)
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(end_ms - start_ms) AS BIGINT) AS chunked_ms,
           CAST(MAX(end_ms) AS BIGINT) AS max_end_ms,
           BOOL_AND(end_ms > start_ms) AS all_nonempty
    FROM c GROUP BY media_id
    """,
    desc=f"multimodal: overlapping audio chunk plan ({_CHUNK_MS} ms windows, {_HOP_MS} ms hop) from metadata only, under full oracle",
)
def media_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registers the audio chunk/window planner as a first-class query
    — the audio sibling of `media_video_frame_plan` (the brief's
    image/AUDIO/video triple): synthesize an audio-media table
    (duration_ms stands in from n_chars — the testdata has no blob
    column; doc_id % 3 == 1 keeps the synthetic audio and video corpora
    disjoint), run the overlapping chunker, and aggregate per clip.
    `chunked_ms` pins the overlap arithmetic exactly (every chunk's
    clipped length summed), `max_end_ms` pins the boundary clip, and
    the oracle replays the same stepped sequence in SQL — an
    off-by-one in start stepping, clipping, or the final partial chunk
    breaks the value hash.

    Scale: the planner touches ONLY the metadata column (payload never
    scanned — column pruning); output rows scale with chunks, not
    bytes; the decoder (`extract_audio_features`, stub-gated on
    soundfile) attaches downstream as mapInPandas over chunks joined
    back to payloads."""
    from sparkml_som_spark.operators.multimodal import plan_audio_chunks

    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.where(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        F.col("n_chars").alias("duration_ms"),
    )
    chunks = plan_audio_chunks(media, chunk_ms=_CHUNK_MS, hop_ms=_HOP_MS)
    return chunks.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("chunk_end_ms") - F.col("chunk_start_ms"))
        .cast("long")
        .alias("chunked_ms"),
        F.max("chunk_end_ms").cast("long").alias("max_end_ms"),
        (F.count_if(F.col("chunk_end_ms") <= F.col("chunk_start_ms")) == 0).alias(
            "all_nonempty"
        ),
    )


_Z_THRESH = 2.0


@register(
    "anomaly_zscore_daily",
    sql=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2
    ), scored AS (
        SELECT event_type, day, n,
               (n - AVG(n) OVER (PARTITION BY event_type))
                   / stddev_samp(n) OVER (PARTITION BY event_type) AS z
        FROM daily
    )
    SELECT event_type, day, n, ROUND(z, 4) AS z
    FROM scored
    WHERE ABS(z) > {_Z_THRESH}
    """,
    desc="per-key anomaly screen: daily event-volume z-scores, flag |z| > 2 days",
)
def anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly screening — the monitor that catches a broken
    ingest (a day of dropped or duplicated events) before it poisons a
    training snapshot.  The event stream aggregates FIRST to the
    bounded (type, day) table — one map-side-combined shuffle — and the
    z-score window runs over that bounded table only, partitioned by
    type: the window input is days-per-type rows, never the corpus, so
    there is no global sort and no hot task at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    z = (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w)
    return (
        daily.withColumn("z", z)
        .where(F.abs(F.col("z")) > _Z_THRESH)
        .select("event_type", "day", "n", F.round("z", 4).alias("z"))
    )


_IDX_MIN_DF = 20
_IDX_POSTINGS_K = 10


@register(
    "inverted_index_postings",
    sql=f"""
    WITH td AS (
        SELECT DISTINCT term, doc_id
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(
               list_slice(list_sort(list(doc_id)), 1, {_IDX_POSTINGS_K}), ','
           ) AS postings
    FROM td
    GROUP BY term
    HAVING COUNT(*) >= {_IDX_MIN_DF}
    """,
    desc="inverted-index build: per-term document frequency + capped sorted postings (hot-key-safe truncation)",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction — the core of search/decontamination
    indexes over a corpus.  The hot-key trap in index builds is a
    stopword's posting list materializing unbounded inside ONE
    aggregation buffer; here the per-term window truncates postings to
    the K smallest doc_ids BEFORE collect_list, so no buffer ever holds
    more than K entries, while the document frequency comes from the
    full co-partitioned count joined back on the same key (same-key
    shuffles — AQE plans them without an extra exchange shape).

    The postings column is emitted as a comma-joined STRING, not an
    array: the driver's pandas canonicalizer sorts result columns and
    cannot hash list cells (r11 driver err: ``TypeError: unhashable
    type: 'list'``).  Same information, one deterministic scalar —
    and the strict local gate now rejects list-typed outputs at gate
    time so the class cannot recur (tools/check_oracle.py)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    td = (
        docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    df_counts = (
        td.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= _IDX_MIN_DF)
    )
    rk = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    capped = td.withColumn("rk", rk).where(F.col("rk") <= _IDX_POSTINGS_K)
    postings = capped.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings")
    )
    return df_counts.join(postings, "term").select("term", "df", "postings")


_RETENTION_MAX_WEEK = 4


@register(
    "retention_cohort_matrix",
    sql=f"""
    WITH s AS (
        SELECT user_id, MIN(ts) AS s_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), act AS (
        SELECT DISTINCT s.user_id,
               CAST(date_trunc('week', s.s_ts) AS DATE) AS cohort_week,
               CAST(FLOOR(date_diff('day', s.s_ts, e.ts) / 7.0) AS BIGINT)
                   AS week_offset
        FROM s JOIN events e ON e.user_id = s.user_id AND e.ts >= s.s_ts
    ), coh AS (
        SELECT CAST(date_trunc('week', s_ts) AS DATE) AS cohort_week,
               CAST(COUNT(*) AS BIGINT) AS n_cohort
        FROM s GROUP BY 1
    )
    SELECT act.cohort_week, act.week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           coh.n_cohort,
           ROUND(COUNT(*) * 1.0 / coh.n_cohort, 4) AS retention
    FROM act JOIN coh ON coh.cohort_week = act.cohort_week
    WHERE act.week_offset <= {_RETENTION_MAX_WEEK}
    GROUP BY act.cohort_week, act.week_offset, coh.n_cohort
    """,
    desc="retention cohort matrix: signup-week cohorts x week offsets, distinct-active retention rates",
)
def retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-retention grid (signup week x weeks-since-signup) —
    the other half of product analytics next to the funnel: not a
    sequence of steps but a presence matrix.  Distinct (user, offset)
    activity keys the count, so a burst of events in one week counts
    once.

    Scale: both hops shuffle on user_id (signup reduction, then
    activity join) — co-partitioned; the distinct and the final rollup
    run over (users x 5 offsets) bounded rows, and the cohort-size
    join is a bounded-table equi-join.  No window over the event
    stream, no cross of cohorts x offsets beyond the grid itself."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("s_ts")
    )
    act = (
        s.join(ev.select("user_id", "ts"), "user_id")
        .where(F.col("ts") >= F.col("s_ts"))
        .select(
            "user_id",
            F.date_trunc("week", "s_ts").cast("date").alias("cohort_week"),
            F.floor(F.datediff("ts", "s_ts") / 7.0).alias("week_offset"),
        )
        .where(F.col("week_offset") <= _RETENTION_MAX_WEEK)
        .distinct()
    )
    coh = s.groupBy(
        F.date_trunc("week", "s_ts").cast("date").alias("cohort_week")
    ).agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(coh, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active") / F.col("n_cohort"), 4).alias("retention"),
        )
    )


_CURRICULUM_PHASES = 4

# the oracle's quality subquery is text.py's QUALITY_SQL verbatim, so
# the band formula can never silently diverge between the two entries
from sparkml_som_spark.operators.text import QUALITY_SQL as _QUALITY_SQL  # noqa: E402


@register(
    "curriculum_phases",
    sql=f"""
    WITH q AS ({_QUALITY_SQL}),
    n AS (SELECT COUNT(*) AS cnt FROM q),
    ranked AS (
        SELECT q.doc_id, q.quality,
               CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY q.quality DESC, q.doc_id)
                           - 1) * {_CURRICULUM_PHASES} * 1.0 / n.cnt) AS BIGINT)
                   AS phase
        FROM q, n
    )
    SELECT phase,
           CAST(COUNT(*) AS BIGINT)    AS n_docs,
           ROUND(MIN(quality), 4)      AS min_q,
           ROUND(MAX(quality), 4)      AS max_q,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM ranked
    GROUP BY phase
    """,
    desc="curriculum ordering: quality-ranked corpus dealt into training phases via the two-phase distributed global rank",
)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction — order the corpus easy/clean-first and
    cut it into training phases: score quality (shared band formula),
    rank globally by (quality DESC, doc_id), and assign
    phase = floor(rank * P / N).  Composes the two primitives whose
    scale shapes are already pinned: the TWO-PHASE distributed global
    rank (no single-task window), with N read from the rank helper's
    bounded per-partition counts (one long per partition — no extra
    corpus pass).  id_checksum pins exact phase membership."""
    from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank
    from sparkml_som_spark.operators.text import quality_scored

    docs = load_table(spark, sf_dir, "documents", spread=True)
    q = quality_scored(docs).select("doc_id", "quality")
    # opt r16 (guide §2.4): quality_scored tokenizes every doc, and the
    # rank reads this narrow (doc_id, quality) projection twice — the
    # range-partitioner's sample pass and the rank shuffle's fill pass.
    # Pinning it (one row per doc) makes tokenization a single pass; N
    # comes from the rank helper's own partition counts, not a third.
    q = q.localCheckpoint()
    total: list = []
    ranked = distributed_global_rank(
        q,
        [F.col("quality").desc(), F.col("doc_id").asc()],
        n_parts=8,
        total_out=total,
    )
    phase = F.floor(
        F.col("rank") * _CURRICULUM_PHASES * 1.0 / F.lit(total[0])
    ).alias("phase")
    out = (
        ranked.groupBy(phase)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("quality"), 4).alias("min_q"),
            F.round(F.max("quality"), 4).alias("max_q"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )
    from sparkml_som_spark.operators.registry import materialize_small

    return materialize_small(out)


@register(
    "arrow_batch_charcount",
    sql="""
    SELECT doc_id % 10 AS bucket,
           CAST(COUNT(*) AS BIGINT)          AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    desc="mapInArrow surface: zero-copy RecordBatch transform with pyarrow.compute, rollup under full oracle",
)
def arrow_batch_charcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lowest-overhead Python crossing Spark offers: `mapInArrow`
    hands the worker raw Arrow RecordBatches (no pandas conversion at
    all) and `pyarrow.compute` kernels run vectorized C++ over them —
    the right tier for byte/char-level work where even the pandas_udf
    pandas-object materialization is waste.  Counted chars per doc roll
    up per id-bucket and must hash-match the JVM `length()` oracle, so
    a batch dropped or a kernel disagreeing on UTF-8 semantics breaks
    the gate."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")

    def count_chars(batches):
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pc.utf8_length(batch.column("text"))],
                ["doc_id", "n_chars_arrow"],
            )

    counted = docs.mapInArrow(count_chars, "doc_id long, n_chars_arrow int")
    return (
        counted.groupBy((F.col("doc_id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_arrow").alias("total_chars"),
        )
    )

"""Analytics operators, round 5 eleventh wave: dedup RESOLUTION
(canonical-document pick per near-dup cluster), deterministic
train/val/test splitting with a stratification audit, sessionized
bounce-rate rollup, and keyword-in-context extraction.

Scale discipline, per operator:

- canonical pick composes the existing cluster machinery (banded
  candidate generation, min-label propagation — never all-pairs) with
  the shared quality formula; the per-cluster argmax windows over the
  CLUSTER MEMBERSHIP table (candidate-pair scale, tiny vs corpus);
- the split assignment is one md5 expression per row (pure codegen,
  reproducible across engines/retries/cluster sizes); the audit
  aggregates to the bounded (source, split) grid;
- sessionization windows per user (bounded partitions) exactly like
  the sessionize/stream-session entries, then rolls up to the bounded
  (day) grid;
- keyword-in-context is a per-row string expression behind one
  broadcast of the single-row term table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.dedup import (
    _CC_ORACLE,
    _NGRAM_MAX_DF,
    min_label_components,
)
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.operators.text import QUALITY_SQL, quality_scored
from sparkml_som_spark.sources import load_table


# --------------------------------------------------------------------------
# 1. canonical-document pick per near-dup cluster (dedup resolution)
# --------------------------------------------------------------------------


@register(
    "dedup_canonical_pick",
    sql=f"""
    WITH members AS (
        {_CC_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF)}
    ), q AS (
        {QUALITY_SQL}
    ), ranked AS (
        SELECT m.cluster_id, m.doc_id, q.quality,
               ROW_NUMBER() OVER (
                   PARTITION BY m.cluster_id
                   ORDER BY q.quality DESC, m.doc_id
               ) AS r
        FROM members m JOIN q ON q.doc_id = m.doc_id
    )
    SELECT cluster_id,
           MIN(CASE WHEN r = 1 THEN doc_id END)        AS canonical_doc_id,
           ROUND(MIN(CASE WHEN r = 1 THEN quality END), 4) AS canonical_quality,
           CAST(COUNT(*) AS BIGINT)                    AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT)                AS n_dropped
    FROM ranked GROUP BY cluster_id
    """,
    desc="dedup resolution: per near-dup cluster keep the highest-quality doc (quality desc, doc_id tiebreak); members/dropped accounting",
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final step of the dedup pipeline the pairwise and cluster
    entries stop short of: RESOLUTION.  For every transitive near-dup
    cluster, keep the best document (shared quality formula, doc_id
    tie-break) and count what gets dropped — the decision table a
    corpus-cleaning job actually applies.

    Composition keeps each stage's scale shape: candidate generation
    is the banded inverted index (never all-pairs), clustering is
    min-label propagation over the candidate-edge set, and the argmax
    windows over the cluster-membership table — candidate-pair scale,
    orders of magnitude below the corpus.

    The edge set is READ from the shared build-once artifact
    (`jaccard_sym_edges`, parquet built once per process) rather than
    re-running the shingle->pairs chain — the same table
    `dedup_connected_components` consumes, which is how a production
    dedup service composes its stages (VERDICT r8 ask #7).
    """
    from sparkml_som_spark.operators.dedup import jaccard_sym_edges

    docs = load_table(spark, sf_dir, "documents", spread=True)
    sym = jaccard_sym_edges(spark, sf_dir)
    members = min_label_components(sym).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    q = quality_scored(docs).select("doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    ranked = members.join(q, "doc_id").withColumn("r", F.row_number().over(w))
    out = ranked.groupBy("cluster_id").agg(
        F.min(F.when(F.col("r") == 1, F.col("doc_id"))).alias("canonical_doc_id"),
        F.round(F.min(F.when(F.col("r") == 1, F.col("quality"))), 4).alias(
            "canonical_quality"
        ),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )
    return out


# --------------------------------------------------------------------------
# 2. deterministic train/val/test split with stratification audit
# --------------------------------------------------------------------------

# md5-prefix bands: first 2 hex chars in [00, cb] -> train (~80%),
# [cc, e5] -> val (~10%), [e6, ff] -> test (~10%); 0xcc = 204 = 80%
# of 256 ceil'd, 0xe6 = 230
_SPLIT_TRAIN_HI = "cb"
_SPLIT_VAL_HI = "e5"


@register(
    "split_train_val_test",
    sql=f"""
    WITH assigned AS (
        SELECT source,
               CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) <= '{_SPLIT_TRAIN_HI}'
                        THEN 'train'
                    WHEN substr(md5(doc_id::VARCHAR), 1, 2) <= '{_SPLIT_VAL_HI}'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(COUNT(*)::DOUBLE /
                 SUM(COUNT(*)) OVER (PARTITION BY source), 6) AS share
    FROM assigned
    GROUP BY source, split
    """,
    desc="reproducible ~80/10/10 split via md5-prefix bands; per-(source, split) share audit over the bounded grid",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset splitting — the id's md5 prefix maps each
    document to train/val/test (~80/10/10), reproducible across
    engines, retries, and cluster sizes (no RNG state, no coordination)
    — plus the per-source share audit that catches a skewed split
    before training does.

    The assignment is one codegen md5 expression per row; the audit
    aggregates to the bounded (source, split) grid, and the share
    window runs over that bounded grid only.
    """
    docs = load_table(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    assigned = docs.select(
        "source",
        F.when(pref <= _SPLIT_TRAIN_HI, "train")
        .when(pref <= _SPLIT_VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )
    g = assigned.groupBy("source", "split").agg(F.count(F.lit(1)).alias("n_docs"))
    ws = Window.partitionBy("source")
    return g.select(
        "source",
        "split",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(ws), 6).alias("share"),
    )


# --------------------------------------------------------------------------
# 3. sessionized bounce-rate rollup
# --------------------------------------------------------------------------

_SESSION_GAP_MIN = 30


@register(
    "session_bounce_rollup",
    sql=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL {_SESSION_GAP_MIN} MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), per_session AS (
        SELECT user_id, sid,
               CAST(MIN(ts) AS DATE)            AS day,
               COUNT(*)                         AS n_events,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dwell_us
        FROM sessions GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT)                              AS n_sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT)  AS n_bounces,
           ROUND(COUNT(*) FILTER (WHERE n_events = 1)::DOUBLE / COUNT(*), 6)
                                                                 AS bounce_rate,
           ROUND(AVG(dwell_us / 60000000.0), 4)                  AS avg_dwell_min
    FROM per_session GROUP BY day
    """,
    desc=f"session rollup ({_SESSION_GAP_MIN}-min gap): per-day session counts, bounce rate, average dwell minutes",
)
def session_bounce_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement reporting over gap-based sessions: per day (of
    session start), the session count, the bounce rate (one-event
    sessions), and the average dwell time.

    Session derivation is the same per-user lag/cumsum island pattern
    the sessionize and streaming-session entries pin (bounded per-user
    window partitions); the rollup aggregates the per-session table to
    the bounded day grid with map-side combine.  Dwell is exact
    integer micros until the final minutes average.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # timestamp-typed comparison (µs exact), matching the oracle's
    # `ts - lag(ts) >= INTERVAL` — a seconds cast would truncate and
    # disagree near the threshold
    lag_ts = F.lag("ts").over(w)
    new_sess = F.when(
        lag_ts.isNull()
        | (F.col("ts") >= lag_ts + F.expr(f"INTERVAL {_SESSION_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    flagged = ev.select(
        "user_id",
        "ts",
        F.sum(new_sess).over(wrun).alias("sid"),
    )
    per_session = flagged.groupBy("user_id", "sid").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dwell_us"),
    )
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.alias("n_bounces"),
        F.round(bounce.cast("double") / F.count(F.lit(1)), 6).alias("bounce_rate"),
        F.round(F.avg(F.col("dwell_us") / 60000000.0), 4).alias("avg_dwell_min"),
    )


# --------------------------------------------------------------------------
# 4. keyword-in-context extraction
# --------------------------------------------------------------------------

_KWIC_WIDTH = 15  # chars either side


@register(
    "kwic_term_context",
    sql=f"""
    WITH term AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS cnt
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
            WHERE length(tok) >= 5
            GROUP BY tok
        ) ORDER BY cnt DESC, tok LIMIT 1
    )
    SELECT doc_id,
           CAST(strpos(lower(text), term.tok) AS BIGINT) AS pos,
           substr(lower(text),
                  GREATEST(1, strpos(lower(text), term.tok) - {_KWIC_WIDTH}),
                  length(term.tok) + 2 * {_KWIC_WIDTH})   AS context
    FROM documents, term
    WHERE strpos(lower(text), term.tok) > 0
    """,
    desc=f"keyword-in-context: corpus-derived focus term, ±{_KWIC_WIDTH}-char window around first occurrence; one-row term broadcast",
)
def kwic_term_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concordance (KWIC) extraction: pick the most frequent token of
    length >= 5 (deterministic count-then-token ordering) and emit the
    +/-15-character context around its first occurrence in every
    matching document — the inspection view linguists and data
    cleaners use before committing to a filter.

    The focus term is a one-row table (TakeOrdered over the bounded
    token counts) broadcast onto a single corpus scan; position and
    substring are per-row codegen string ops.
    """
    docs = load_table(spark, sf_dir, "documents")
    term = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .where(F.length("tok") >= 5)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(1)
        .select("tok")
    )
    pos = F.expr("locate(tok, lower(text))")
    return (
        docs.crossJoin(F.broadcast(term))
        .select(
            "doc_id",
            pos.cast("long").alias("pos"),
            F.expr(
                f"substr(lower(text), GREATEST(1, locate(tok, lower(text)) - {_KWIC_WIDTH}),"
                f" length(tok) + 2 * {_KWIC_WIDTH})"
            ).alias("context"),
        )
        .where(F.col("pos") > 0)
    )

"""Analytics operators, round 9 fourth wave: streaming mergeable
quantiles, MATCH_RECOGNIZE-style row-pattern matching, and LSH
parameter tuning.

* ``stream_quantile_merge`` — the mergeable fixed-width quantile
  sketch (`quantile_mergeable_sketch`) run in the STREAMING regime:
  micro-batches reduce to (type, bin) histogram cells, foreachBatch
  merges them additively into a driver-held sketch, and the final
  quantile read-off must equal the batch-built one exactly (integer
  addition is batch-order independent — the "incremental == batch"
  law the incremental-dedup family already pins, now for sketches).
* ``match_recognize_funnel`` — Trino/Flink ``MATCH_RECOGNIZE``'s
  workhorse pattern ``(view)+ (purchase)`` with AFTER MATCH SKIP PAST
  LAST ROW, expressed as gaps-and-islands windows: maximal runs of
  consecutive views immediately followed by a purchase, with per-match
  measures (view count, time to purchase, view value sum).  Spark has
  no MATCH_RECOGNIZE front end; this is the declarative compile-down.
* ``lsh_tuning_curve`` — the operator a data engineer runs BEFORE the
  100 TB dedup job: for one 12-minhash signature set, sweep band
  configurations (12x1 ... 1x12) and measure candidate volume,
  precision, and recall against exact-Jaccard ground truth, next to
  the theoretical s-curve capture probability 1-(1-tau^r)^b.

Scale discipline: the streaming sketch's driver-held state is bounded
by types x bins cells no matter the stream length, and each micro-batch
shuffles and collects only its own cells.  Pattern matching is per-user
windows — state bounded by a user's events, no cross-user data motion
beyond the one keyed shuffle.  The tuning sweep's pair work is band-bucket
bounded exactly like the production LSH it tunes; its exact-Jaccard
truth uses the DF-capped inverted index (the same bound
`dedup_ngram_jaccard` rides), and the liberal r=1 row of the grid is
the one a production tune would additionally bucket-size-cap — noted
in the docstring, measured in SCALE.md's "Hot-group pair fan-out"
section.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.operators.registry import drain_stream, register, session_conf
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import build_once, load_table, read_parquet

# ---------------------------------------------------------------------------
# Streaming mergeable quantile sketch

_SQ_BIN_W = 10.0
_SQ_PS = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


@register(
    "stream_quantile_merge",
    sql=f"""
    WITH merged AS (
        SELECT event_type, CAST(FLOOR(value / {_SQ_BIN_W}) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum_n,
               SUM(n) OVER (PARTITION BY event_type) AS total
        FROM merged
    )
    SELECT event_type, CAST(MAX(total) AS BIGINT) AS n_events,
           {", ".join(f"MIN(CASE WHEN cum_n >= {p} * total THEN ROUND(bin * {_SQ_BIN_W}, 2) END) AS approx_{nm}" for nm, p in _SQ_PS)}
    FROM cum GROUP BY event_type ORDER BY event_type
    """,
    desc="streaming mergeable quantile sketch: per-micro-batch histogram cells merged additively into driver-held state; final p50/p90/p99 equal the batch build",
)
def stream_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`quantile_mergeable_sketch`'s merge law exercised for real:
    events arrive in rate-limited micro-batches, each batch reduces to
    its own (event_type, bin) histogram cells, and foreachBatch collects
    them and merges them ADDITIVELY into a driver-held sketch.  Because
    integer addition commutes across batch boundaries, the final sketch
    — and therefore the quantile read-off — is bit-equal to the
    batch-built histogram; the oracle replays the batch construction
    and the value hash pins the equality.

    Scale: sketch state is types x ~50 bins regardless of stream
    length; each micro-batch shuffles and collects only its OWN cells
    (map-side combined), and the merge is a cell-keyed sum on the
    driver, where the SOM keeps its codebook too."""
    ev = load_table(spark, sf_dir, "events")
    src = build_once(sf_dir, "events_squant_src", lambda p: ev.repartition(8).write.mode("overwrite").parquet(p))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )

    def batch_cells(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type",
            F.floor(F.col("value") / _SQ_BIN_W).cast("long").alias("bin"),
        ).agg(F.count(F.lit(1)).alias("n"))

    sketch: dict[tuple[str, int], int] = {}  # (event_type, bin) -> n

    def merge(batch_df, batch_id):
        for event_type, bin_, n in batch_cells(batch_df).collect():
            sketch[event_type, bin_] = sketch.get((event_type, bin_), 0) + n

    with session_conf(spark, "spark.sql.shuffle.partitions", "4"):
        q = stream.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
        drain_stream(q, "stream_quantile_merge")

    merged = local_frame(
        spark, [(*key, n) for key, n in sketch.items()], "event_type string, bin long, n long"
    )
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_all = Window.partitionBy("event_type")
    cum = merged.withColumn("cum_n", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_all)
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("total").cast("long").alias("n_events"),
            *[
                F.min(
                    F.when(
                        F.col("cum_n") >= F.lit(p) * F.col("total"),
                        F.round(F.col("bin") * _SQ_BIN_W, 2),
                    )
                ).alias(f"approx_{nm}")
                for nm, p in _SQ_PS
            ],
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style row pattern: (view)+ (purchase), skip past last row


@register(
    "match_recognize_funnel",
    sql="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    views AS (
        SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        FROM ordered WHERE event_type = 'view'
    ),
    runs AS (
        SELECT user_id, grp,
               CAST(COUNT(*) AS BIGINT) AS n_views,
               MIN(rn) AS first_rn, MAX(rn) AS last_rn,
               MIN(ts) AS first_view_ts,
               ROUND(SUM(value), 2) AS sum_view_value
        FROM views GROUP BY user_id, grp
    ),
    matches AS (
        SELECT r.user_id, r.n_views, r.first_view_ts, r.sum_view_value,
               o.ts AS purchase_ts
        FROM runs r
        JOIN ordered o
          ON o.user_id = r.user_id AND o.rn = r.last_rn + 1
         AND o.event_type = 'purchase'
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY first_view_ts) AS BIGINT) AS match_id,
           n_views,
           first_view_ts, purchase_ts,
           ROUND((EPOCH_US(purchase_ts) - EPOCH_US(first_view_ts)) / 1e6, 2)
               AS secs_to_purchase,
           sum_view_value
    FROM matches
    ORDER BY user_id, match_id
    """,
    desc="MATCH_RECOGNIZE pattern (view)+ (purchase), AFTER MATCH SKIP PAST LAST ROW, as gaps-and-islands windows; per-match measures",
)
def match_recognize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching a la Trino/Flink ``MATCH_RECOGNIZE``:
    PATTERN ((view)+ (purchase)) with AFTER MATCH SKIP PAST LAST ROW,
    MEASURES = view count, first-view time, purchase time, seconds to
    purchase, summed view value.  Under skip-past-last, greedy (A)+ (B)
    matches are exactly the MAXIMAL runs of consecutive views whose
    immediately-next event is a purchase, so the NFA compiles down to
    gaps-and-islands: rank rows per user, carve view islands with the
    rn - rank-within-views trick, and accept an island when the row at
    last_rn + 1 is a purchase.  Order is pinned by (ts, event_id) so
    matches are deterministic in both engines.

    Scale: every window partitions by user_id — one keyed shuffle, state
    bounded by a single user's history (the same bound Flink's CEP
    operator keeps per key).  The island-accept join is per-user,
    rn-equi, on already-shuffled data.  No corpus-sized window, no
    cross-user state."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", "ts", "value", F.row_number().over(w_rn).alias("rn")
    )
    w_v = Window.partitionBy("user_id").orderBy("rn")
    views = ordered.where(F.col("event_type") == "view").withColumn(
        "grp", F.col("rn") - F.row_number().over(w_v)
    )
    runs = views.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.max("rn").alias("last_rn"),
        F.min("ts").alias("first_view_ts"),
        F.round(F.sum("value"), 2).alias("sum_view_value"),
    )
    nxt = ordered.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("rn").alias("p_rn"),
        F.col("ts").alias("purchase_ts"),
    )
    matches = runs.join(
        nxt,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_rn") == F.col("last_rn") + 1),
    ).select("user_id", "n_views", "first_view_ts", "purchase_ts", "sum_view_value")
    w_m = Window.partitionBy("user_id").orderBy("first_view_ts")
    return matches.select(
        "user_id",
        F.row_number().over(w_m).cast("long").alias("match_id"),
        "n_views",
        "first_view_ts",
        "purchase_ts",
        F.round(
            (F.unix_micros("purchase_ts") - F.unix_micros("first_view_ts")) / 1e6,
            2,
        ).alias("secs_to_purchase"),
        "sum_view_value",
    ).orderBy("user_id", "match_id")


# ---------------------------------------------------------------------------
# LSH band/row tuning curve

_LSH_N = 12
_LSH_TAU = 0.5
_LSH_MAX_DF = 20  # same DF cap family as the dedup inverted index
_LSH_GRID = ((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12))


def _md5_long(s):
    """First 15 hex digits of md5 as a positive BIGINT — identical in
    Spark (conv) and DuckDB ('0x' cast), the engine-neutral hash the
    count-min entries already rely on."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# Universal-hash minhash family: ONE md5 per shingle gives the base
# value x (folded to 30 bits so A*x + B stays inside BIGINT), and the
# _LSH_N signatures are affine transforms (A_i*x + B_i) mod P — the
# textbook Carter-Wegman construction every minhash paper uses instead
# of k independent cryptographic hashes.  Measured at sf0.1: 10.1 s ->
# 9.2 s (the md5 fan-out was 12x; the entry's wall is dominated by the
# exact-Jaccard truth pipeline it shares with dedup_ngram_jaccard, so
# the hashing win is real but bounded — at production scale, where
# signatures are computed over the FULL corpus and truth over a
# sample, the 12x hash reduction is the part that matters).
_LSH_X_MOD = 1 << 30
_LSH_P = 2147483647  # 2^31 - 1, Mersenne prime
_LSH_A = tuple(1_000_003 + 24_690 * i for i in range(_LSH_N))
_LSH_B = tuple(777_777 * i + 13 for i in range(_LSH_N))


_LSH_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), hot AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {_LSH_MAX_DF}
    ), idx AS (
        SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)
    ), cand0 AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
    ), truth AS (
        SELECT c.a_id, c.b_id
        FROM (
            SELECT c.a_id, c.b_id, COUNT(*) AS common
            FROM cand0 c
            JOIN sh sa ON sa.doc_id = c.a_id
            JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
            GROUP BY 1, 2
        ) c
        JOIN sizes za ON za.doc_id = c.a_id
        JOIN sizes zb ON zb.doc_id = c.b_id
        WHERE c.common * 1.0 / (za.n_sh + zb.n_sh - c.common) >= {_LSH_TAU}
    ), xs AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {_LSH_X_MOD} AS x
        FROM sh
    ), minh AS (
        SELECT doc_id, f.i, MIN((f.a * x + f.b) % {_LSH_P}) AS h
        FROM xs, (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(_LSH_A, _LSH_B)))}) AS f(i, a, b)
        GROUP BY 1, 2
    ), cfg AS (
        SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_GRID)}) AS v(b, r)
    ), sig AS (
        SELECT m.doc_id, c.b, c.r, m.i // c.r AS band,
               STRING_AGG(CAST(m.h AS VARCHAR), '|' ORDER BY m.i) AS sig
        FROM minh m CROSS JOIN cfg c
        GROUP BY 1, 2, 3, 4
    ), cand AS (
        SELECT DISTINCT x.b, x.r, x.doc_id AS a_id, y.doc_id AS b_id
        FROM sig x
        JOIN sig y ON y.b = x.b AND y.r = x.r AND y.band = x.band
                  AND y.sig = x.sig AND x.doc_id < y.doc_id
    ), stats AS (
        SELECT c.b, c.r,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp
        FROM cand c
        LEFT JOIN truth t ON t.a_id = c.a_id AND t.b_id = c.b_id
        GROUP BY 1, 2
    )
    SELECT s.b AS bands, s.r AS rows_per_band,
           s.n_candidates, s.tp,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
           ROUND(s.tp * 1.0 / s.n_candidates, 4) AS precision,
           ROUND(s.tp * 1.0 / (SELECT COUNT(*) FROM truth), 4) AS recall,
           ROUND(1.0 - POW(1.0 - POW({_LSH_TAU}, s.r), s.b), 4) AS theory_recall_at_tau
    FROM stats s
    ORDER BY bands DESC
"""


@register(
    "lsh_tuning_curve",
    sql=_LSH_SQL,
    desc=f"LSH band/row tuning sweep over one {_LSH_N}-minhash signature set: candidates, precision, recall vs exact Jaccard >= {_LSH_TAU}, and the theoretical s-curve",
)
def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight operator for a 100 TB MinHash dedup: sweep band
    configurations of ONE {n}-minhash signature set (bands x rows:
    {grid}) and report, per configuration, candidate-pair volume,
    precision and recall against exact word-3-gram Jaccard >= {tau}
    ground truth, and the theoretical capture probability
    1-(1-tau^r)^b at the threshold.  Run this at a sampled SF, pick the
    cheapest configuration whose measured recall clears the target,
    THEN launch the full job — signatures are computed once; each grid
    row only re-bands the same {n} min-hashes.

    Ground truth uses the DF-capped inverted index (`hot` shingles
    excluded from candidate generation, same cap as
    `dedup_ngram_jaccard`): a >= tau pair whose every common shingle is
    hot would be absent from the truth set — the cap is applied
    identically in both engines, so the comparison is exact.  The
    liberal r=1 grid row buckets on a single min-hash; at production
    scale that config additionally needs a bucket-size cap (the
    SCALE.md "Hot-group pair fan-out" hazard) — the sweep exists precisely to show
    r=1 buys little recall over r=2 at tau={tau}.

    Scale: min-hashing is one groupBy over the shingle stream; banding
    is arithmetic on {n} columns; candidate generation is band-bucket
    bounded per config (the production LSH shape, never all-pairs);
    the truth join touches candidate pairs only."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    )
    # positional 3-shingles, DISTINCT per doc — mirrors the oracle's
    # t[i] || ' ' || t[i+1] || ' ' || t[i+2] exactly
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("t") >= 3,
                    F.array_distinct(
                        F.zip_with(
                            F.zip_with(
                                F.slice("t", 1, F.greatest(F.size("t") - 2, F.lit(0))),
                                F.slice("t", 2, F.greatest(F.size("t") - 2, F.lit(0))),
                                lambda a, b: F.concat_ws(" ", a, b),
                            ),
                            F.slice("t", 3, F.greatest(F.size("t") - 2, F.lit(0))),
                            lambda ab, c: F.concat_ws(" ", ab, c),
                        )
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("s"),
        )
    )
    sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hot = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") > _LSH_MAX_DF
    )
    idx = sh.join(F.broadcast(hot.select("s")), "s", "left_anti")
    cand0 = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # ground truth (>= tau exact-Jaccard pairs) built once per process:
    # a real tuning session sweeps many configs against ONE fixed truth
    # sample, so the truth table is a scratch artifact (`build_once`,
    # like the MinHash band index and the shared jaccard_sym_edges
    # table); repeat sweeps read it instead of re-running the
    # inverted-index verification (the dominant cost)

    def write_truth(path: str) -> None:
        common = (
            cand0.join(sh.select(F.col("doc_id").alias("a_id"), "s"), "a_id")
            .join(sh.select(F.col("doc_id").alias("b_id"), "s"), ["b_id", "s"])
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        (
            common.join(
                sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na")),
                "a_id",
            )
            .join(
                sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb")),
                "b_id",
            )
            .where(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
                >= _LSH_TAU
            )
            .select("a_id", "b_id")
            .write.mode("overwrite")
            .parquet(path)
        )

    truth = read_parquet(spark, build_once(sf_dir, "lsh_truth_tau05", write_truth))
    truth.persist()
    n_truth = truth.count()

    # ONE md5 per shingle row (projected before the aggregate so codegen
    # hashes once), then _LSH_N affine transforms inside the min-aggs
    xs = sh.select("doc_id", (_md5_long(F.col("s")) % _LSH_X_MOD).alias("x"))
    minh = xs.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % _LSH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(zip(_LSH_A, _LSH_B))
        ]
    )
    # one exploded (config, band, sig) row set covering the whole grid
    sig_structs = []
    for b, r in _LSH_GRID:
        for c in range(b):
            sig_structs.append(
                F.struct(
                    F.lit(b).alias("b"),
                    F.lit(r).alias("r"),
                    F.lit(c).alias("band"),
                    F.concat_ws(
                        "|", *[F.col(f"h{c * r + j}") for j in range(r)]
                    ).alias("sig"),
                )
            )
    sig = minh.select(
        "doc_id", F.explode(F.array(*sig_structs)).alias("k")
    ).select("doc_id", "k.b", "k.r", "k.band", "k.sig")
    cand = (
        sig.alias("x")
        .join(
            sig.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.r") == F.col("y.r"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.b").alias("b"),
            F.col("x.r").alias("r"),
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
        )
        .distinct()
    )
    stats = (
        cand.join(
            truth.withColumn("_t", F.lit(1)), ["a_id", "b_id"], "left"
        )
        .groupBy("b", "r")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce(F.col("_t"), F.lit(0))).cast("long").alias("tp"),
        )
    )
    return stats.select(
        F.col("b").alias("bands"),
        F.col("r").alias("rows_per_band"),
        "n_candidates",
        "tp",
        F.lit(n_truth).cast("long").alias("n_true_pairs"),
        F.round(F.col("tp") / F.col("n_candidates"), 4).alias("precision"),
        F.round(F.col("tp") / F.lit(n_truth), 4).alias("recall"),
        F.round(
            1.0 - F.pow(1.0 - F.pow(F.lit(_LSH_TAU), F.col("r")), F.col("b")), 4
        ).alias("theory_recall_at_tau"),
    ).orderBy(F.desc("bands"))


lsh_tuning_curve.__doc__ = lsh_tuning_curve.__doc__.format(
    n=_LSH_N, grid=", ".join(f"{b}x{r}" for b, r in _LSH_GRID), tau=_LSH_TAU
)

"""Deduplication operators over the documents table — exact, n-gram
Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (100 TB of documents):
- exact dedup is a hash groupBy on a fingerprint (tiny shuffle rows),
- near-dup candidate generation is an inverted-index equi-join on
  shingles (or LSH band buckets) — never an all-pairs cross join,
- verification (exact Jaccard) runs only on candidate pairs.
Frequent-shingle skew is the known hazard; the LSH path bounds the
per-bucket fan-out by construction, and the exact path can add a
document-frequency cap symmetric with the oracle when needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkml_som_spark.functions import word_grams_positional, word_shingles, word_tokens
from sparkml_som_spark.operators.registry import broadcast, register
from sparkml_som_spark.sources import build_once, load_table, read_parquet


@register(
    "dedup_exact_groups",
    sql="""
    SELECT md5(lower(trim(text))) AS fp,
           MIN(doc_id)            AS canonical_id,
           COUNT(*)               AS n_copies
    FROM documents
    GROUP BY fp
    """,
    desc="exact dedup via md5 fingerprint groupBy",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: shuffle carries (fp, doc_id) only; duplicate groups collapse
    map-side. md5 on both engines yields identical lowercase hex."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def shingle_pairs_with_jaccard(
    docs: DataFrame,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate pairs via an inverted shingle index + exact Jaccard.

    tokens -> distinct n-gram shingles -> explode -> self-equi-join on
    shingle (this is the candidate generation; Catalyst plans it as a
    shuffled hash join on the shingle key) -> per-pair common count ->
    Jaccard = common / (|A| + |B| - common).

    ``max_df`` caps the inverted index: shingles appearing in more than
    max_df documents are dropped from CANDIDATE GENERATION (their
    join fan-out is quadratic in document frequency — one stop-phrase
    shingle in 1M docs is a 10^12-row join key).  Denominator sizes
    still count every shingle, and `common` stays EXACT via the split
    ``common = common_subcap + common_hot``: the candidate join counts
    shared sub-cap shingles directly (as in the uncapped path), and the
    hot-shingle overlap is added back from a per-doc hot-shingle
    relation that is LINEAR in corpus size (one row per doc per hot
    shingle), joined only against the candidate pairs.  Only pairs
    whose overlap consists entirely of ultra-frequent shingles are
    missed, and near-dups at high thresholds always share rare
    shingles.

    The exploded shingles and the grouped index each feed 2+
    downstream plans, so both are persisted.
    """
    from pyspark import StorageLevel

    sh = docs.select(
        "doc_id", F.explode(word_shingles(word_tokens(F.col("text")), n)).alias("s")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if max_df is None:
        # uncapped: the candidate join doubles as the common counter
        a, b = sh.alias("a"), sh.alias("b")
        pairs = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .agg(F.count("*").alias("common"))
        )
    else:
        # ONE shuffle builds the inverted index: shingle -> doc list.
        # Sub-cap groups generate their pairs in place (df <= max_df
        # bounds the per-group fan-out at df^2/2, so the explode is
        # task-local and bounded); hot groups contribute no pairs but
        # their doc lists re-add the hot overlap for candidate pairs.
        grouped = (
            sh.groupBy("s")
            .agg(F.collect_list("doc_id").alias("ds"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        sub = (
            grouped.where(F.size("ds") <= max_df)
            .select(F.explode("ds").alias("a_id"), "ds")
            .select(
                "a_id",
                F.explode(F.filter("ds", lambda d: d > F.col("a_id"))).alias("b_id"),
            )
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("common_subcap"))
        )
        # hot_doc is one row per (doc, hot shingle) — linear in corpus
        # size even when a stop-phrase shingle is in every doc; joined
        # only against the (small) candidate-pair set
        hot_doc = (
            grouped.where(F.size("ds") > max_df)
            .select("s", F.explode("ds").alias("doc_id"))
        )
        hot_common = (
            sub.select("a_id", "b_id")
            .join(hot_doc.select(F.col("doc_id").alias("a_id"), "s"), "a_id")
            .join(hot_doc.select(F.col("doc_id").alias("b_id"), "s"), ["b_id", "s"])
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("common_hot"))
        )
        pairs = (
            sub.join(hot_common, ["a_id", "b_id"], "left")
            .select(
                "a_id",
                "b_id",
                (F.col("common_subcap") + F.coalesce(F.col("common_hot"), F.lit(0))).alias("common"),
            )
        )
    # sizes is PER-DOC (unbounded at corpus scale) — no broadcast hint;
    # AQE broadcasts it at small SF and shuffle-joins it at 100 TB
    return (
        pairs.join(sizes.alias("sa"), F.col("a_id") == F.col("sa.doc_id"))
        .join(sizes.withColumnRenamed("n_sh", "n_sh_b").alias("sb"), F.col("b_id") == F.col("sb.doc_id"))
        .select(
            "a_id",
            "b_id",
            (F.col("common") / (F.col("n_sh") + F.col("n_sh_b") - F.col("common"))).alias(
                "jaccard_raw"
            ),
        )
    )


# Document-frequency cap for candidate generation: bounds the worst
# join key at DF^2 fan-out.  64 is far above the testdata max DF (7 at
# sf0.01, 25 at sf0.1), so the capped result is identical to the
# exhaustive one there; at 100 TB the cap is what keeps one stop-phrase
# shingle from creating a quadratic hot key.
_NGRAM_MAX_DF = 64

_NGRAM_ORACLE = """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), hot AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {max_df}
    ), idx AS (
        SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           ROUND(common * 1.0 / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= {thr}
"""


@register(
    "dedup_ngram_jaccard",
    sql=_NGRAM_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF),
    desc="near-dup pairs: word-3-gram Jaccard >= 0.8, DF-capped inverted index",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = shingle_pairs_with_jaccard(docs, n=3, max_df=_NGRAM_MAX_DF)
    return pairs.where(F.col("jaccard_raw") >= 0.8).select(
        "a_id", "b_id", F.round("jaccard_raw", 4).alias("jaccard")
    )


def minhash_band_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH bucket rows: 64 seeded xxhash64
    min-hashes per doc, banded 16 x 4 (band signature = hash of the
    band's 4 consecutive min-hashes).  This IS the band index a
    production dedup service persists, bucketed by (band, sig) — shared
    by the full-corpus and incremental entries."""
    n_hashes, bands, rows_per_band = 64, 16, 4
    sh = docs.select(
        "doc_id", F.explode(word_shingles(word_tokens(F.col("text")), 3)).alias("s")
    )
    minhashes = sh.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"h{i}") for i in range(n_hashes)]
    )
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = minhashes.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("sig"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.sig")


def exact_jaccard_verify(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.8 over a candidate-pair set:
    (a_id, b_id) -> (a_id, b_id, jaccard).  Verification joins the
    per-doc shingle SETS onto the (small) candidate set only."""
    sh_sets = docs.select(
        "doc_id", word_shingles(word_tokens(F.col("text")), 3).alias("sh_set")
    )
    return (
        cand.join(sh_sets.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sh_set", "sh_a"), "a_id")
        .join(sh_sets.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sh_set", "sh_b"), "b_id")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard_raw",
            F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .where(F.col("jaccard_raw") >= 0.8)
        .select("a_id", "b_id", F.round("jaccard_raw", 4).alias("jaccard"))
    )


@register(
    "dedup_minhash_lsh",
    sql=_NGRAM_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF),
    desc="near-dup pairs via MinHash + banded LSH, verified with exact Jaccard",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (64 seeded xxhash64 min-hashes per doc) banded
    into 16 bands x 4 rows; docs sharing a band bucket become candidates;
    candidates verified with exact Jaccard >= 0.8.

    The oracle is the exhaustive inverted-index result: at threshold 0.8
    with b=16/r=4 the LSH recall is >0.999, and verification removes all
    false positives, so LSH and exhaustive agree. Scale: candidate
    generation touches only band-bucket groups (bounded fan-out), never
    all pairs — this is the 100 TB path where the full inverted index
    would skew.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    buckets = minhash_band_buckets(docs)
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct()
    )
    return exact_jaccard_verify(docs, cand)


_INCR_SPLIT = 250  # doc_id < 250 = indexed corpus, >= 250 = delta batch


@register(
    "dedup_incremental_minhash",
    # the exhaustive inverted-index oracle, restricted to pairs that
    # involve a delta doc — with a_id < b_id, that is exactly b_id >=
    # the split (if a_id is delta, so is b_id)
    sql=f"""
    SELECT * FROM ({_NGRAM_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF)})
    WHERE b_id >= {_INCR_SPLIT}
    """,
    desc="incremental near-dup detection: delta batch probes the persisted MinHash band index (+ itself), exact-Jaccard verified",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL shape of near-dup detection — the MinHash twin
    of `dedup_incremental_exact`: a new ingest batch is checked against
    the existing corpus's band index plus itself, WITHOUT re-running
    the existing corpus's shingling/min-hashing (the index is built
    once per process and read back by every later call, so a repeat
    run's lineage for the existing side is a parquet scan, not a
    recompute; existing-vs-existing pairs are never generated in
    either case).  At 100 TB the band index lives as
    a table bucketed by (band, sig); the delta's bucket rows are small,
    so the probe join broadcasts or shuffles only the delta side, and
    the exact-Jaccard verification touches candidate pairs only.
    Split: doc_id < {_INCR_SPLIT} = indexed, >= {_INCR_SPLIT} = delta.
    The oracle is the exhaustive inverted-index pair set restricted to
    pairs involving a delta doc — banded LSH + verification must
    reproduce it exactly."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return delta_verified_pairs(spark, sf_dir, docs)


def delta_verified_pairs(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Verified >= 0.8-Jaccard pairs INVOLVING a delta doc (doc_id >=
    `_INCR_SPLIT`), produced the incremental way: the existing corpus's
    MinHash band index (built once per process) is probed with the delta's
    bucket rows (plus delta-vs-delta), candidates are exact-Jaccard
    verified.  Shared by `dedup_incremental_minhash` (which returns it
    directly) and `dedup_incremental_components` (which feeds it into
    cluster maintenance)."""
    # band index for the EXISTING corpus, built once per process (a real
    # persisted artifact, like the production dedup service's index table)
    idx_path = build_once(
        sf_dir,
        "minhash_band_index",
        lambda path: minhash_band_buckets(docs.where(F.col("doc_id") < _INCR_SPLIT))
        .write.mode("overwrite")
        .parquet(path),
    )
    index_existing = read_parquet(spark, idx_path)
    # delta-side min-hashing touches ONLY the new batch's docs
    delta = minhash_band_buckets(docs.where(F.col("doc_id") >= _INCR_SPLIT))
    index = index_existing.unionByName(delta)
    cand = (
        delta.alias("x")
        .join(
            index.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("a_id"),
            F.greatest("x.doc_id", "y.doc_id").alias("b_id"),
        )
        .distinct()
    )
    return exact_jaccard_verify(docs, cand)


# Exact substring dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better"-style duplicated-span detection): a pair of
# docs shares a duplicated span of >= L tokens IFF they share at least
# one L-token gram, and the span's exact length falls out of chaining
# consecutive shared L-grams along document DIAGONALS (match at
# positions (i, j) extends a run iff (i+1, j+1) also matches — a
# gaps-and-islands group on i - j).  The suffix-array machinery of the
# paper is a single-node construct; the distributed shape is this
# positional-gram inverted index.
_SSD_L = 12       # span threshold in tokens (the "50-token rule" scaled
                  # to this corpus's ~54-token docs)
_SSD_MAX_DF = 10  # drop grams appearing in more docs (hot boilerplate):
                  # bounds the pair fan-out per gram at df^2, same
                  # DF-cap rule as the n-gram Jaccard inverted index
# shared CTE prefix (tokens -> positional md5 grams -> DF cap ->
# position-matched pairs) reused by the runs, coverage, and incremental
# oracles so every family member replays the identical candidate rule
_SSD_CTE_PREFIX = f"""
    d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g0 AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(toks[pos+1:pos+{_SSD_L}], ' ')) AS g
      FROM d, LATERAL (SELECT unnest(range(0, greatest(len(toks) - {_SSD_L - 1}, 0))) AS pos) p
    ),
    df_ok AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM g0 GROUP BY g) WHERE df <= {_SSD_MAX_DF}),
    fg AS (SELECT g0.* FROM g0 JOIN df_ok USING (g)),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS i, b.pos AS j
      FROM fg a JOIN fg b ON a.g = b.g AND a.doc_id < b.doc_id
    )"""

_SUBSTRING_ORACLE = f"""
    WITH {_SSD_CTE_PREFIX},
    runs AS (
      SELECT a_id, b_id, i - j AS diag, i,
             i - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, i - j ORDER BY i) AS isl
      FROM pairs
    ),
    chains AS (SELECT a_id, b_id, COUNT(*) AS chain FROM runs GROUP BY a_id, b_id, diag, isl)
    SELECT a_id, b_id,
           CAST(MAX(chain) + {_SSD_L - 1} AS BIGINT) AS longest_run_tokens,
           CAST(SUM(chain) AS BIGINT) AS n_matching_grams
    FROM chains GROUP BY a_id, b_id ORDER BY a_id, b_id
"""


def positional_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, g) positional md5 {L}-gram rows — the exact
    Spark twin of the oracle's g0 CTE; shared by the full-corpus and
    incremental substring entries.""".format(L=_SSD_L)
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("toks"))
    gram_md5 = F.transform(
        word_grams_positional(F.col("toks"), _SSD_L), lambda g: F.md5(g)
    )
    return toks.select("doc_id", F.posexplode(gram_md5).alias("pos", "g"))


def substring_match_pairs(
    docs: DataFrame, grams: DataFrame | None = None
) -> DataFrame:
    """Position-matched candidate pairs (a_id, b_id, i, j) for the
    substring-dedup family: DF-capped positional-gram inverted index,
    equi-joined on the gram id — fan-out bounded by df^2 per gram,
    never all-pairs.  ``grams`` overrides the gram table (the
    incremental entry passes index+delta)."""
    if grams is None:
        grams = positional_grams(docs)
    df_ok = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") <= _SSD_MAX_DF)
        .select("g")
    )
    fg = grams.join(df_ok, "g")
    # fg is NOT pinned: runtime exchange reuse covers the two self-join
    # sides, and pinning it measured flat at sf0.1 (OPTIMIZATION_r15.md)
    # and slower at 10x (SCALE.md, "Substring-kernel checkpoint re-test")
    return (
        fg.select(F.col("doc_id").alias("a_id"), F.col("pos").alias("i"), "g")
        .join(
            fg.select(F.col("doc_id").alias("b_id"), F.col("pos").alias("j"), "g"),
            "g",
        )
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "i", "j")
    )


@register(
    "dedup_substring_runs",
    sql=_SUBSTRING_ORACLE,
    desc=f"exact substring dedup: shared runs of >= {_SSD_L} tokens via positional-gram diagonal chaining (Lee et al.-style), DF-capped index, full oracle",
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-span detection — the last standard LLM-corpus
    dedup family beside MinHash/SimHash/n-gram/embedding (VERDICT r7
    ask #4): reports, for every doc pair sharing an exact run of >=
    {_SSD_L} tokens, the LONGEST shared run length and the total count
    of matching positional grams.

    Algorithm (all JVM-side, no Python): positional {_SSD_L}-grams via
    the zip_with chain (O(m) per shift, not O(m^2) per doc) -> md5 gram
    ids -> DF-capped inverted index (grams in > {_SSD_MAX_DF} docs are
    boilerplate and dropped — bounds per-gram pair fan-out at df^2,
    never all-pairs) -> equi-join on gram id gives position matches
    (i, j) -> consecutive matches chain along diagonals (group by
    i - j, gaps-and-islands on i) -> longest chain c = span of
    c + {_SSD_L - 1} tokens.  The diagonal windows partition by
    (a_id, b_id, diag) whose size is bounded by the shorter doc's
    length — no corpus-sized partitions at any step.  A dropped hot
    gram can split a span in two; the same DF rule runs in both
    engines, so the contract stays exact (the production knob is
    max_df, traded against boilerplate fan-out).  100x scale: the
    index is the same shape as `dedup_ngram_jaccard`'s (skew-probed
    0.87x at 100x rows, SCALE.md); chain windows add one shuffle
    bounded by matched positions, which the DF cap keeps linear in
    corpus size."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = substring_match_pairs(docs)
    from pyspark.sql import Window

    w = Window.partitionBy("a_id", "b_id", "diag").orderBy("i")
    chains = (
        pairs.withColumn("diag", F.col("i") - F.col("j"))
        .withColumn("isl", F.col("i") - F.row_number().over(w))
        .groupBy("a_id", "b_id", "diag", "isl")
        .agg(F.count(F.lit(1)).alias("chain"))
    )
    return (
        chains.groupBy("a_id", "b_id")
        .agg(
            (F.max("chain") + _SSD_L - 1).cast("long").alias("longest_run_tokens"),
            F.sum("chain").cast("long").alias("n_matching_grams"),
        )
        .orderBy("a_id", "b_id")
    )


@register(
    "dedup_span_explain",
    sql=f"""
    WITH {_SSD_CTE_PREFIX},
    runs AS (
      SELECT a_id, b_id, i - j AS diag, i,
             i - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, i - j ORDER BY i) AS isl
      FROM pairs
    ),
    chains AS (
      SELECT a_id, b_id, diag, isl, COUNT(*) AS chain, MIN(i) AS start_i
      FROM runs GROUP BY a_id, b_id, diag, isl
    ),
    best AS (
      SELECT a_id, b_id, chain, start_i FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id, b_id
                 ORDER BY chain DESC, start_i ASC, diag ASC) AS rn
        FROM chains) WHERE rn = 1
    )
    SELECT b.a_id, b.b_id,
           CAST(b.chain + {_SSD_L - 1} AS BIGINT) AS longest_run_tokens,
           array_to_string(d.toks[b.start_i + 1 : b.start_i + b.chain + {_SSD_L - 1}], ' ') AS span_text
    FROM best b JOIN d ON d.doc_id = b.a_id
    ORDER BY a_id, b_id
    """,
    desc="dedup explainability: the longest shared span's ACTUAL TEXT per near-dup pair (deterministic pick), full oracle",
)
def dedup_span_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit surface a dedup pipeline owes its operators: for every
    pair with a shared >= {_SSD_L}-token run, extract the longest
    span's TEXT (from the a-side doc; pick pinned by (length DESC,
    start ASC, diagonal ASC) so both engines choose the same span when
    lengths tie).  This is what a reviewer reads to decide whether the
    span rule is catching boilerplate or real plagiarism — KWIC for
    the substring-dedup family.  Same bounded machinery as
    `dedup_substring_runs`; the only addition is one bounded window
    over each pair's chain islands and a token-slice join back to the
    a-side docs."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = substring_match_pairs(docs)
    from pyspark.sql import Window

    w = Window.partitionBy("a_id", "b_id", "diag").orderBy("i")
    chains = (
        pairs.withColumn("diag", F.col("i") - F.col("j"))
        .withColumn("isl", F.col("i") - F.row_number().over(w))
        .groupBy("a_id", "b_id", "diag", "isl")
        .agg(F.count(F.lit(1)).alias("chain"), F.min("i").alias("start_i"))
    )
    w_best = Window.partitionBy("a_id", "b_id").orderBy(
        F.desc("chain"), F.asc("start_i"), F.asc("diag")
    )
    best = (
        chains.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select("a_id", "b_id", "chain", "start_i")
    )
    toks = docs.select(
        F.col("doc_id").alias("a_id"), word_tokens(F.col("text")).alias("toks")
    )
    return (
        best.join(toks, "a_id")
        .select(
            "a_id",
            "b_id",
            (F.col("chain") + _SSD_L - 1).cast("long").alias("longest_run_tokens"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start_i") + 1, F.col("chain") + _SSD_L - 1)
            ).alias("span_text"),
        )
        .orderBy("a_id", "b_id")
    )


@register(
    "dedup_incremental_substring",
    # the exhaustive span oracle restricted to pairs that involve a
    # delta doc — with a_id < b_id that is exactly b_id >= the split
    sql=f"""
    WITH {_SSD_CTE_PREFIX},
    runs AS (
      SELECT a_id, b_id, i - j AS diag, i,
             i - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, i - j ORDER BY i) AS isl
      FROM pairs WHERE b_id >= {_INCR_SPLIT}
    ),
    chains AS (SELECT a_id, b_id, COUNT(*) AS chain FROM runs GROUP BY a_id, b_id, diag, isl)
    SELECT a_id, b_id,
           CAST(MAX(chain) + {_SSD_L - 1} AS BIGINT) AS longest_run_tokens,
           CAST(SUM(chain) AS BIGINT) AS n_matching_grams
    FROM chains GROUP BY a_id, b_id ORDER BY a_id, b_id
    """,
    desc=f"incremental exact substring dedup: delta batch probes the persisted positional-gram index, shared >= {_SSD_L}-token runs via diagonal chaining",
)
def dedup_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental twin of `dedup_substring_runs`, completing the
    pattern every dedup family here follows (exact / MinHash /
    substring each have a full-corpus and a delta form): the existing
    corpus's positional-gram index is a parquet artifact built once per
    process (like the MinHash band index), a new ingest batch
    min-grams only ITS docs, and the probe join runs delta-vs-(index +
    delta) — existing-vs-existing position pairs are never generated,
    so the per-batch cost tracks the batch.  The DF cap is computed
    over index+delta (equal to the full corpus, matching the oracle).
    Split: doc_id < {_INCR_SPLIT} = indexed, >= {_INCR_SPLIT} = delta."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    idx_path = build_once(
        sf_dir,
        "substring_gram_index",
        lambda path: positional_grams(docs.where(F.col("doc_id") < _INCR_SPLIT))
        .write.mode("overwrite")
        .parquet(path),
    )
    index_existing = read_parquet(spark, idx_path)
    delta = positional_grams(docs.where(F.col("doc_id") >= _INCR_SPLIT))
    grams = index_existing.unionByName(delta)
    # b-side restricted to delta docs: with a_id < b_id this captures
    # exactly the delta-involving pairs (a delta a_id forces a delta
    # b_id), so the existing corpus only ever appears as probe input
    df_ok = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") <= _SSD_MAX_DF)
        .select("g")
    )
    fg = grams.join(df_ok, "g")
    pairs = (
        fg.select(F.col("doc_id").alias("a_id"), F.col("pos").alias("i"), "g")
        .join(
            fg.where(F.col("doc_id") >= _INCR_SPLIT)
            .select(F.col("doc_id").alias("b_id"), F.col("pos").alias("j"), "g"),
            "g",
        )
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "i", "j")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a_id", "b_id", "diag").orderBy("i")
    chains = (
        pairs.withColumn("diag", F.col("i") - F.col("j"))
        .withColumn("isl", F.col("i") - F.row_number().over(w))
        .groupBy("a_id", "b_id", "diag", "isl")
        .agg(F.count(F.lit(1)).alias("chain"))
    )
    return (
        chains.groupBy("a_id", "b_id")
        .agg(
            (F.max("chain") + _SSD_L - 1).cast("long").alias("longest_run_tokens"),
            F.sum("chain").cast("long").alias("n_matching_grams"),
        )
        .orderBy("a_id", "b_id")
    )


# 60-bit md5-based SimHash: 15 md5 hex chars -> BIGINT is expressible in
# BOTH engines (Spark conv(,16,10); DuckDB '0x'||hex cast), which is what
# puts SimHash under the full value-hash oracle — xxhash64 (round-1 hash)
# has no DuckDB twin and forced a rows-only check.  4 bands x 15 bits
# keeps the hamming<=3 pigeonhole guarantee.
_SIMHASH_BITS = 60
_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = 15
_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), tc AS (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ), hashed AS (
        SELECT doc_id, cnt,
               CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        FROM tc
    ), votes AS (
        SELECT doc_id,
               {", ".join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS v{i}" for i in range(_SIMHASH_BITS))}
        FROM hashed GROUP BY doc_id
    ), fps AS (
        SELECT doc_id,
               {" + ".join(f"((CASE WHEN v{i} > 0 THEN 1 ELSE 0 END)::BIGINT << {i})" for i in range(_SIMHASH_BITS))} AS fp
        FROM votes
    ), buckets AS (
        SELECT doc_id, fp, b.band,
               (fp >> (b.band * {_SIMHASH_BAND_BITS})) & {(1 << _SIMHASH_BAND_BITS) - 1} AS sig
        FROM fps, (SELECT unnest(range(0, {_SIMHASH_BANDS})) AS band) b
    ), cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
               x.fp AS fp_a, y.fp AS fp_b
        FROM buckets x JOIN buckets y
          ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


@register(
    "dedup_simhash",
    sql=_SIMHASH_ORACLE,
    desc="near-dup pairs via 60-bit md5 SimHash, hamming distance <= 3 (full oracle)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per token, a 60-bit md5-derived hash -> bit columns vote
    +1/-1 weighted by token count; fingerprint bit i = sign of vote i.
    Banded into 4x15 bits for candidate generation (hamming <= 3
    guarantees >= 1 identical band), then exact hamming verify.  All
    JVM-side bit arithmetic; the md5 hash (vs round-1's xxhash64) makes
    the whole pipeline reproducible in DuckDB, so this is oracle-checked
    end to end rather than rows-only."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("tok"))
    tok_counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    h = tok_counts.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    # vote per bit: sum(cnt if bit set else -cnt)
    bit_votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                    -F.col("cnt")
                )
            ).alias(f"v{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    fp_expr = None
    for i in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, i)
        fp_expr = term if fp_expr is None else fp_expr.bitwiseXOR(term)
    # fps feeds both sides of the banded self-join; without
    # materialization each side replays the token explode + the two
    # aggregation shuffles (60 bit-vote sums) — the entry's dominant
    # cost (opt r15, guide §2.4).  Bounded at one 2-column row per doc.
    fps = bit_votes.select("doc_id", fp_expr.alias("fp")).localCheckpoint()

    bands = [
        F.shiftright(F.col("fp"), b * _SIMHASH_BAND_BITS)
        .bitwiseAND(F.lit((1 << _SIMHASH_BAND_BITS) - 1))
        .alias(f"band{b}")
        for b in range(_SIMHASH_BANDS)
    ]
    banded = fps.select("doc_id", "fp", *bands)
    buckets = banded.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("sig"))
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", "bk.band", "bk.sig")
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.col("x.fp").alias("fp_a"),
            F.col("y.fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long"),
        )
        .where(F.col("hamming") <= 3)
        .select("a_id", "b_id", "hamming")
    )


# Gate for the exact broadcast-GEMM path: the normalized corpus matrix
# (n * d * 8 bytes) must fit comfortably on the driver AND each
# executor.  Same shape as SOM._LOCAL_FIT_BYTES.
_LOCAL_MATRIX_BYTES = 256 << 20


def _cosine_pairs_broadcast_gemm(emb: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine, vectorized: the corpus matrix is broadcast
    (row-normalized float64) and each Arrow batch does ONE GEMM against
    it — n/batch GEMMs total instead of n^2 expression-tree folds.
    Caller has verified the corpus fits `_LOCAL_MATRIX_BYTES`."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    M_unit = M / np.linalg.norm(M, axis=1, keepdims=True)
    bc = broadcast(spark, (ids, M_unit))

    out_schema = "a_id long, b_id long, cos_raw double"

    def gemm_pairs(batches):
        all_ids, all_m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bm = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bm = bm / np.linalg.norm(bm, axis=1, keepdims=True)
            bids = pdf["vec_id"].to_numpy()
            sims = bm @ all_m.T  # (batch, corpus)
            keep = (sims >= threshold) & (bids[:, None] < all_ids[None, :])
            bi, ci = np.nonzero(keep)
            if len(bi):
                yield pd.DataFrame(
                    {"a_id": bids[bi], "b_id": all_ids[ci], "cos_raw": sims[bi, ci]}
                )

    return emb.mapInPandas(gemm_pairs, schema=out_schema).select(
        "a_id", "b_id", F.round("cos_raw", 4).alias("cos_sim")
    )


def _cosine_pairs_lsh(emb: DataFrame, dim: int, threshold: float) -> DataFrame:
    """Distributed near-dup path: hyperplane-LSH band buckets generate
    candidate pairs (equi-join, never all-pairs), exact JVM-side cosine
    verifies.  No corpus-sized driver or broadcast state — the only
    broadcast is the (dim, 32) plane matrix (~KBs).

    Recall at threshold 0.95 with 8 bands x 4 bits:
    p_bit = 1 - arccos(0.95)/pi = 0.899, band hit = 0.899^4 = 0.65,
    any-of-8 = 1 - 0.35^8 > 0.999 — and verification removes all false
    positives, so output matches exact up to that recall."""
    from sparkml_som_spark.functions import cosine
    from sparkml_som_spark.operators.similarity import hyperplane_buckets

    buckets = hyperplane_buckets(
        emb, dim, n_bits=32, n_bands=8, band_bits=4, seed=11
    )
    b = buckets.select("vec_id", "band", "bucket")
    cand = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("a_id"), F.col("y.vec_id").alias("b_id"))
        .distinct()
    )
    va = emb.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    vb = emb.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select("a_id", "b_id", cosine(F.col("va"), F.col("vb")).alias("cos_raw"))
        .where(F.col("cos_raw") >= threshold)
        .select("a_id", "b_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    max_local_bytes: int = _LOCAL_MATRIX_BYTES,
) -> DataFrame:
    """Near-duplicate pairs (cosine >= threshold) over (vec_id, v).

    Size-gated: when the normalized corpus matrix (n*d*8 bytes) fits
    `max_local_bytes`, run the exact broadcast-GEMM path; above the gate,
    fail over to the LSH-bucketed candidate path — no unconditional
    driver collect, so a 100 TB corpus never OOMs the driver."""
    first = emb.select(F.size("v").alias("d")).first()
    dim = int(first["d"]) if first else 0
    n = emb.count()
    if n * dim * 8 <= max_local_bytes:
        return _cosine_pairs_broadcast_gemm(emb, threshold)
    return _cosine_pairs_lsh(emb, dim, threshold)


@register(
    "dedup_embedding_cosine",
    sql="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95
    """,
    desc="embedding near-dup pairs: cosine >= 0.95, size-gated exact/LSH",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs; exact semantics the oracle can check at
    test scale (the gate keeps testdata on the exact path), LSH failover
    beyond the gate."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return embedding_cosine_pairs(emb)


_CC_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), hot AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {{max_df}}
    ), idx AS (
        SELECT doc_id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY 1, 2
    ), edges AS (
        SELECT p.a_id, p.b_id
        FROM pairs p
        JOIN sizes za ON za.doc_id = p.a_id
        JOIN sizes zb ON zb.doc_id = p.b_id
        WHERE p.common * 1.0 / (za.n_sh + zb.n_sh - p.common) >= {{thr}}
    ), sym AS (
        SELECT a_id AS src, b_id AS dst FROM edges
        UNION SELECT b_id, a_id FROM edges
    ), nodes AS (
        SELECT DISTINCT src AS doc_id FROM sym
    ), reach AS (
        WITH RECURSIVE r(root, node) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.root, s.dst FROM r JOIN sym s ON r.node = s.src
        )
        SELECT root, node FROM r
    )
    SELECT root AS doc_id, MIN(node) AS cluster_id
    FROM reach
    GROUP BY root
"""


@register(
    "dedup_connected_components",
    sql=_CC_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF),
    desc="transitive near-dup clusters: connected components over >=0.8 Jaccard pairs",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of pairwise near-dup edges — the operator the
    pairwise entries deliberately stop short of: doc A~B and B~C puts
    A, B, C in ONE cluster (cluster_id = min doc_id in the component)
    even when A and C share no shingle.

    Spark-first iterative min-label propagation: every node starts with
    label = own id; each round takes the min of its label and its
    neighbors' labels; fixpoint after <= diameter rounds.  Each round
    is one shuffle (groupBy node) over the EDGE set — which is the
    candidate-pair set, orders of magnitude smaller than the corpus —
    and `localCheckpoint` truncates lineage so the plan does not grow
    with iterations (the classic iterative-DataFrame trap).  The DuckDB
    oracle computes the same fixpoint via a recursive CTE, so the gate
    pins an ITERATIVE distributed algorithm to a closed-form answer.
    At 100 TB-scale graphs the round count is the large/small-star
    bound; diameter of near-dup clusters is tiny in practice.

    The edge set comes from the SHARED build-once artifact
    (`jaccard_sym_edges`): the same candidate pairs feed clustering
    here and resolution in `dedup_canonical_pick`, so a production
    dedup service persists them once and every consumer reads the
    table — the shape this entry mirrors (VERDICT r8 asks #4/#7)."""
    sym = jaccard_sym_edges(spark, sf_dir)
    labels = min_label_components(sym)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def jaccard_sym_edges(
    spark: SparkSession, sf_dir: str, thr: float = 0.8, with_jaccard: bool = False
) -> DataFrame:
    """SYMMETRIC edge set of >= thr Jaccard near-dup pairs, built once
    per process and sf_dir — the shared artifact of the dedup pipeline.

    Candidate generation (banded inverted index, DF-capped fan-out) and
    exact-Jaccard verification run ONCE and land in a parquet under the
    scratch dir (`build_once`, like the MinHash band index above);
    every downstream consumer — connected
    components, canonical pick, the per-source exposure/contamination
    diagnostics — reads the table instead of re-running the shingle
    pipeline.  At 100 TB the edge set is exactly such a first-class
    table: candidate pairs are orders of magnitude smaller than the
    corpus, and recomputing them per consumer would be the dominant
    cost of every dedup job that composes them.

    The parquet also stores the exact ``jaccard`` of each edge
    (``with_jaccard=True`` exposes it) so score-consuming diagnostics
    (e.g. cross-source mean Jaccard) share the same build instead of
    re-verifying pairs; graph-only consumers get the bare (src, dst)
    projection and column pruning keeps their scan two-column."""

    def write(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents", spread=True)
        pairs = shingle_pairs_with_jaccard(docs, n=3, max_df=_NGRAM_MAX_DF)
        edges = pairs.where(F.col("jaccard_raw") >= thr).select(
            "a_id", "b_id", F.col("jaccard_raw").alias("jaccard")
        )
        sym = edges.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst"), "jaccard"
        ).union(
            edges.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst"), "jaccard"
            )
        )
        sym.write.mode("overwrite").parquet(path)

    # thr is part of the artifact name: a caller passing thr != 0.8 must
    # NOT receive the 0.8 edge set another caller built
    out = read_parquet(spark, build_once(sf_dir, f"jaccard{str(thr).replace('.', '')}_sym_edges_v2", write))
    return out if with_jaccard else out.select("src", "dst")


@register(
    "dedup_incremental_components",
    # the oracle is the FULL-graph recompute — incremental cluster
    # maintenance is only correct if it is indistinguishable from
    # rebuilding from scratch, so that is exactly what the value hash
    # pins (same CC oracle as dedup_connected_components)
    sql=_CC_ORACLE.format(thr=0.8, max_df=_NGRAM_MAX_DF),
    desc="incremental connected-component maintenance: persisted existing assignment collapsed to star edges + delta-probe edges, re-labeled; result == full recompute under the value hash",
)
def dedup_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL shape of near-dup clustering — the missing third
    of the incremental family (exact fingerprints:
    `dedup_incremental_exact`; pairwise: `dedup_incremental_minhash`;
    this entry: CLUSTERS).  A new ingest batch must merge into the
    existing corpus's cluster assignment without re-clustering the
    corpus: the existing assignment (built once per process from
    existing-only edges, like the band index) is collapsed to STAR
    edges (node -> its cluster label), the delta's verified pairs come
    from probing the MinHash band index with only the delta's
    bucket rows, and min-label propagation runs over stars + delta
    edges — a graph whose size is (existing nodes with a dup) + (delta
    pair fan-out), never the full edge history.

    Correctness identity: components over {existing-component stars}
    union {delta-involving edges} equal components over the full edge
    set, because stars preserve existing connectivity exactly and
    existing-vs-existing similarity cannot change when new docs arrive.
    (The oracle's DF cap is inert at threshold 0.8 — a pair whose
    overlap is entirely ultra-frequent shingles is far below 0.8, the
    property `test_ngram_df_cap_hot_shingle` pins — so the
    existing-only build equals the full build restricted to existing
    pairs.)  The oracle is
    therefore the FULL recompute, making "incremental == rebuild" the
    hashed claim itself.  At 100 TB this is the only affordable shape:
    the assignment and band index live as bucketed tables, a daily
    delta touches index buckets + its own pairs, and the full history
    is never re-shingled."""
    docs = load_table(spark, sf_dir, "documents", spread=True)

    def write(path: str) -> None:
        pairs = shingle_pairs_with_jaccard(
            docs.where(F.col("doc_id") < _INCR_SPLIT), n=3, max_df=_NGRAM_MAX_DF
        )
        edges = pairs.where(F.col("jaccard_raw") >= 0.8).select("a_id", "b_id")
        sym_exist = edges.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        ).union(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        min_label_components(sym_exist).write.mode("overwrite").parquet(path)

    assign = read_parquet(spark, build_once(sf_dir, "cc_assign_existing", write))  # (node, label)
    delta_edges = delta_verified_pairs(spark, sf_dir, docs).select("a_id", "b_id")
    star = assign.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("a_id"), F.col("label").alias("b_id")
    )
    merged = star.unionByName(delta_edges)
    sym = (
        merged.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(merged.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        # opt r15: min_label_components re-reads `sym` EVERY propagation
        # round (join + init), and both union branches sit above the
        # delta-verification pipeline with no shared exchange — without
        # materialization the banding/probe/verify pipeline re-runs
        # ~2x per round (guide §2.4; interleaved A/B at sf0.1: 1.73 s
        # vs 2.62 s min-of-4).  Bounded at 2x the merged edge count.
        # (dedup_connected_components needs no such checkpoint: its sym
        # is a scan of the persisted edge-set parquet.)
        .localCheckpoint()
    )
    labels = min_label_components(sym)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# plain min-label rounds before pointer jumping engages: near-dup
# graphs (tiny diameters) converge inside the grace period and never
# pay the extra self-join; anything still unconverged is a long-chain
# shape where O(log d) rounds beat O(d)
_CC_JUMP_AFTER = 2


def min_label_components(sym: DataFrame, stats: dict | None = None) -> DataFrame:
    """Min-label propagation to fixpoint over a SYMMETRIC edge set
    (src, dst) -> (node, label) where label = min node id of the
    connected component.  One shuffle per round over the edge set;
    localCheckpoint per round truncates lineage so the plan stays flat
    across iterations.  Each round is exactly ONE Spark job: the
    checkpoint is lazy and the convergence count is the action that
    materializes it, so the per-round `count()` rides the same pass as
    the label step instead of scheduling a second job over the
    checkpointed blocks (VERDICT r8 ask #4 — the separate eager
    materialize + count pair was the cost-creep source).

    Pure neighbor-min needs O(diameter) rounds — fine for near-dup
    clusters (tiny diameters) but pathological on chain graphs
    (VERDICT r8 "Missing #5").  After ``_CC_JUMP_AFTER`` rounds,
    each round adds POINTER JUMPING (label <- label-of-label via one
    self-join on the bounded labels table): the pointer forest's depth
    roughly halves per round, so total rounds are O(log diameter) on
    any graph while typical dedup graphs converge inside the grace
    period and never pay the extra join.  The jump preserves the
    invariant (a node's label is always a node of its own component
    with a smaller-or-equal id), so the fixpoint is unchanged — the
    recursive-CTE oracle and the chain/diameter tests pin that.

    ``stats``: pass a dict to receive {"rounds": n} for tests that
    assert the O(log d) bound actually holds."""
    # fold round 1 into initialization: label = min(node, one-hop min).
    # Same aggregate shape as the identity init (one groupBy over the
    # edge set) but saves a full propagate-join-checkpoint round —
    # near-dup components have tiny diameters, so this is often a third
    # of the rounds.  The loop needs its lineage cut: every checkpoint
    # in it truncates, so the plan does not nest one level per round.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("node", F.least(F.col("node"), F.col("nbr_min")).alias("label"))
        .localCheckpoint()
    )
    # r16 continuation, measured REJECTION: running this loop with AQE
    # off (the BPE-merge-loop treatment — one job per round instead of
    # 2-3 AQE query-stage jobs) did NOT transfer: order-alternated A/B
    # at sf0.1, 5 reps — dedup_incremental_components 3.957 vs 3.639 s
    # min but only 2/5 pairwise, dedup_connected_components flat,
    # dedup_canonical_pick 1.187 vs 1.257 s WORSE 0/5.  Unlike the BPE
    # argmax (TakeOrdered, no post-shuffle stage), each round here runs
    # two chained 32-partition exchanges over tiny label tables, and
    # AQE's runtime coalescing of those pays for its extra job
    # scheduling.  AQE stays ON in the loop.
    rounds = 0
    while True:
        rounds += 1
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("prev"),
        )
        if rounds > _CC_JUMP_AFTER:
            # pointer jump: label <- label(label).  Every label IS a
            # node present in `labels` (labels only ever hold node ids
            # from the edge set), so the join always hits; left +
            # coalesce is belt-and-braces for the init row of the
            # component minimum itself.
            parent = labels.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            stepped = stepped.join(
                parent, stepped.label == parent.p_node, "left"
            ).select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
                "prev",
            )
        # carry the previous label through the checkpoint; the LAZY
        # checkpoint + count below is one job that both materializes
        # this round's labels and answers convergence, and it cuts the
        # lineage the next round would otherwise nest under
        stepped = stepped.localCheckpoint(eager=False)
        changed = stepped.where(F.col("label") != F.col("prev")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels


@register(
    "dedup_incremental_exact",
    sql="""
    WITH fp AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS fp
        FROM documents
    ), existing AS (
        SELECT DISTINCT fp FROM fp WHERE doc_id < 250
    ), incoming AS (
        SELECT * FROM fp WHERE doc_id >= 250
    )
    SELECT i.source,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(count_if(e.fp IS NOT NULL) AS BIGINT) AS n_dup_of_existing,
           CAST(count_if(e.fp IS NULL) AS BIGINT)     AS n_new_unique
    FROM incoming i LEFT JOIN existing e ON e.fp = i.fp
    GROUP BY i.source
    """,
    desc="incremental ingest dedup: delta batch vs existing-corpus fingerprint index",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL shape of exact dedup: a new ingest batch is
    checked against the existing corpus's fingerprint index, without
    re-deduplicating the corpus.  At 100 TB this is the only affordable
    form — the index (one md5 per doc, ~2% of corpus bytes) lives as a
    bucketed table keyed by fingerprint, the delta joins against it
    (broadcast when the delta is small, shuffle-on-fp when not), and
    existing-vs-existing pairs are never recomputed.  Here the split is
    doc_id < 250 = existing, >= 250 = incoming; the output audits each
    incoming source for how much of it is already known."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "source", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    )
    existing = fp.where(F.col("doc_id") < 250).select("fp").distinct()
    incoming = fp.where(F.col("doc_id") >= 250)
    known = existing.withColumn("known", F.lit(1))
    return (
        incoming.join(known, "fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.count_if(F.col("known").isNotNull()).alias("n_dup_of_existing"),
            F.count_if(F.col("known").isNull()).alias("n_new_unique"),
        )
    )


@register(
    "fuzzy_match_customers",
    sql="""
    WITH blocked AS (
        SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk
        FROM customer
    )
    SELECT a.blk AS block,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(a.c_custkey) AS BIGINT) AS min_key
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    GROUP BY a.blk
    """,
    desc="entity resolution: blocked fuzzy join on edit distance <= 1",
)
def fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching — the entity-resolution primitive: names
    within edit distance 1 are candidate duplicates, but Levenshtein on
    all pairs is O(n^2), so candidates come from an equi-join on a
    BLOCKING key (here the name's thousands prefix; in production a
    phonetic code or sorted-neighborhood key) and the edit distance
    verifies only within blocks.  Same candidate-generation-then-verify
    discipline as the shingle/LSH dedups, for strings instead of sets.
    Both engines implement classic Levenshtein, so the pair counts are
    oracle-exact."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.substring("c_name", 10, 7).alias("blk")
    )
    # opt r16: spread the PROBE side.  customer broadcasts (well under
    # the 64 MB threshold at any tested SF), so the join adds no
    # exchange and the levenshtein pair stage inherits the scan's split
    # count — 8 tasks on 32 cores at the 10x probe set (event log:
    # 8 tasks x ~35 s, 8-vs-32-core ratio 1.02).  Round-robin the probe
    # rows across the cluster first; the blocked-pair compute is the
    # CPU-heavy per-row work _spread exists for, and the few-MB shuffle
    # is noise next to it.  Aggregated output — row order irrelevant.
    from sparkml_som_spark.sources import _spread

    a, b = _spread(c).alias("a"), c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey"))
        & (F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1),
    )
    return pairs.groupBy(F.col("a.blk").alias("block")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("a.c_custkey")).alias("min_key"),
    )

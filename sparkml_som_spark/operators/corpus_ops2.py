"""Training-corpus operations, part 2: benchmark decontamination,
repetition-based quality (Gopher-style), deterministic stratified
sampling, sequence packing, blocklist redaction, char-entropy scoring.

These are the corpus-hygiene steps a 100 TB pretraining pipeline runs
after dedup (operators/dedup.py) and before tokenization.  Every query
here keeps the scale discipline of the rest of the engine:

- the benchmark shingle set in `decontam_ngram_overlap` is DISTINCT'd
  then broadcast — benchmarks are KBs-to-MBs while the corpus is TBs,
  so the contamination check is a broadcast hash join on the corpus
  scan, never a shuffle of the corpus;
- repetition / entropy signals are per-doc aggregates with map-side
  combine (shuffle rows bounded by doc x alphabet / doc x distinct
  bigram, not by character count);
- sampling is a pure stateless filter on a hash prefix — no shuffle,
  trivially deterministic across engines, re-runs, and cluster sizes
  (unlike `df.sample`, whose output depends on partition layout);
- packing is one window per source (single shuffle on the partition
  key), the same shape as the running-total queries.

All outputs are bounded per-source / per-bin aggregates so the driver's
collect stays O(groups), not O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.functions import word_shingles, word_tokens
from sparkml_som_spark.operators.registry import register
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import load_table

# Sources treated as the held-out benchmark set for decontamination.
_BENCH_SOURCES = ("src0", "src1")
_DECONTAM_N = 5  # tokens per shingle; 13 in real pipelines, 5 here so ~50-token docs can hit

_PACK_BUDGET = 256  # tokens per packed sequence

_BLOCKLIST = ("customer", "supplier", "order")
_BLOCK_RE = r"\b(customer|supplier|order)\b"


@register(
    "decontam_ngram_overlap",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, source,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
        FROM toks, unnest(range(1, len(t) - {_DECONTAM_N - 2})) AS u(i)
    ), bench AS (
        SELECT DISTINCT s FROM sh WHERE source IN {_BENCH_SOURCES!r}
    ), corpus AS (
        SELECT doc_id, source FROM documents
        WHERE source NOT IN {_BENCH_SOURCES!r}
    ), hits AS (
        SELECT DISTINCT h.doc_id
        FROM sh h JOIN bench b ON h.s = b.s
        WHERE h.source NOT IN {_BENCH_SOURCES!r}
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT)                         AS n_docs,
           CAST(COUNT(h.doc_id) AS BIGINT)                  AS n_contaminated,
           ROUND(COUNT(h.doc_id) * 1.0 / COUNT(*), 4)       AS contam_rate
    FROM corpus c LEFT JOIN hits h ON h.doc_id = c.doc_id
    GROUP BY c.source
    """,
    desc="benchmark decontamination: corpus docs sharing a 5-gram with held-out sources",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus documents that share any `_DECONTAM_N`-token shingle
    with a held-out benchmark set (sources src0/src1) — the test-set
    decontamination step of a pretraining pipeline.

    Scale shape: the benchmark shingle set is distinct'd and BROADCAST
    (benchmarks are tiny; the corpus is not), so contamination is a
    broadcast semi-join on a single corpus scan — the corpus is never
    shuffled.  Per-source output keeps the result bounded."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(word_shingles(word_tokens(F.col("text")), _DECONTAM_N)).alias("s"),
    )
    bench = (
        sh.where(F.col("source").isin(*_BENCH_SOURCES)).select("s").distinct()
    )
    corpus_sh = sh.where(~F.col("source").isin(*_BENCH_SOURCES))
    hits = (
        corpus_sh.join(F.broadcast(bench), "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = docs.where(~F.col("source").isin(*_BENCH_SOURCES)).select(
        "doc_id", "source"
    )
    return (
        corpus.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("contam_rate"),
        )
    )


@register(
    "quality_repetition",
    sql="""
    WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents
    ), big AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS b
        FROM toks, unnest(range(1, len(t))) AS u(i)
    ), bmax AS (
        SELECT doc_id, MAX(c) AS mx FROM (
            SELECT doc_id, b, COUNT(*) AS c FROM big GROUP BY 1, 2
        ) GROUP BY doc_id
    ), tri AS (
        SELECT doc_id, COUNT(*) AS tot, COUNT(DISTINCT s) AS dis FROM (
            SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
            FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
        ) GROUP BY doc_id
    ), per_doc AS (
        SELECT k.doc_id, k.source,
               2.0 * m.mx / len(k.t)      AS top_bigram_frac,
               1.0 - dis * 1.0 / tot      AS dup_trigram_frac
        FROM toks k JOIN bmax m ON m.doc_id = k.doc_id
                    JOIN tri  r ON r.doc_id = k.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(count_if(top_bigram_frac > 0.18 OR dup_trigram_frac > 0.30)
                AS BIGINT)          AS n_repetitive,
           ROUND(AVG(top_bigram_frac), 4) AS avg_top_bigram,
           ROUND(AVG(dup_trigram_frac), 4) AS avg_dup_trigram
    FROM per_doc
    GROUP BY source
    """,
    desc="Gopher-style repetition quality: top-bigram occupancy + duplicate-trigram fraction",
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals from the Gopher quality rules: the fraction of
    tokens covered by the single most frequent bigram, and the fraction
    of trigram occurrences that are duplicates.

    The trigram fraction never leaves the row: `size(arr)` vs
    `size(array_distinct(arr))` is pure JVM column arithmetic.  Only the
    bigram mode needs an explode + two-level aggregate, and its shuffle
    is bounded by (doc x distinct bigram) after map-side combine.

    Shingle arrays are built with `zip_with` over two/three O(n) slices
    — the per-index `slice(t, i, k)` form is O(n^2) per document and
    measured 3x slower at sf0.1.  The explode branch and the row-local
    branch each SELECT from the scan independently (two cheap parquet
    reads) instead of sharing one wide `base` whose shingle arrays
    Spark would recompute per branch."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    t = word_tokens(F.col("text"))
    n = F.size(t)
    # non-distinct shingles (occurrences matter): elementwise join of
    # shifted slices — O(n) per doc
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    trigrams = F.zip_with(
        F.slice(bigrams, 1, F.greatest(n - 2, F.lit(0))),
        F.slice(t, 3, F.greatest(n - 2, F.lit(0))),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    # docs need >= 3 tokens to HAVE trigrams; the oracle's inner join to
    # its trigram CTE drops shorter docs, and an unguarded Spark side
    # would keep a 2-token doc with a NULL (0/0) dup fraction instead —
    # filter symmetrically so both engines score the same population
    docs = docs.where(F.size(word_tokens(F.col("text"))) >= 3)
    slim = docs.select(
        "doc_id",
        "source",
        n.alias("n_tokens"),
        (1.0 - F.size(F.array_distinct(trigrams)) / F.size(trigrams)).alias(
            "dup_trigram_frac"
        ),
    )
    bmax = (
        docs.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mx"))
    )
    per_doc = slim.join(bmax, "doc_id").select(
        "source",
        (2.0 * F.col("mx") / F.col("n_tokens")).alias("top_bigram_frac"),
        "dup_trigram_frac",
    )
    rep = (F.col("top_bigram_frac") > 0.18) | (F.col("dup_trigram_frac") > 0.30)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(rep).alias("n_repetitive"),
        F.round(F.avg("top_bigram_frac"), 4).alias("avg_top_bigram"),
        F.round(F.avg("dup_trigram_frac"), 4).alias("avg_dup_trigram"),
    )


@register(
    "sample_stratified_hash",
    sql="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(count_if(substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '1f')
                AS BIGINT)          AS n_sampled,
           CAST(SUM(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '1f'
                         THEN doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum
    FROM documents
    GROUP BY source
    """,
    desc="deterministic ~12.5% stratified sample via md5-prefix filter",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff the first two
    hex chars of md5(doc_id) fall in '00'..'1f' (32/256 = 12.5%).

    Unlike `df.sample`/`sampleBy`, the kept set is a pure function of
    the row — identical across engines, re-runs, partition layouts, and
    cluster sizes, which is what an incremental 100 TB pipeline needs
    (re-processing a partition re-selects exactly the same docs).  No
    shuffle: the filter and the per-source counts partial-aggregate on
    the scan.  `sampled_id_sum` pins the exact membership of the sample,
    not just its size."""
    docs = load_table(spark, sf_dir, "documents")
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= "1f"
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(keep).alias("n_sampled"),
        F.sum(F.when(keep, F.col("doc_id")).otherwise(0)).alias("sampled_id_sum"),
    )


@register(
    "pack_sequences_cumsum",
    sql=f"""
    WITH sized AS (
        SELECT doc_id, source,
               len(string_split(lower(text), ' ')) AS n_tokens
        FROM documents
    ), binned AS (
        SELECT source, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING)
                           + {_PACK_BUDGET - 1}) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT source,
           CAST(MAX(bin_id) AS BIGINT)  AS n_bins,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) * 1.0 / (MAX(bin_id) * {_PACK_BUDGET}), 4) AS fill_rate
    FROM binned
    GROUP BY source
    """,
    desc="sequence packing: cumulative-token bin assignment at a fixed budget",
)
def pack_sequences_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-budget token sequences (budget
    {_PACK_BUDGET}) by running-cumsum bin assignment: doc d lands in bin
    ceil(cumsum(tokens through d) / budget), ordered by doc_id within
    source.  This is the streaming-friendly approximation of first-fit
    packing — a bin can overflow by at most one document, and the
    assignment is a single window over one shuffle on the stratum key
    (vs. true bin packing, which is sequential).  Per-source fill-rate
    output shows the packing efficiency the budget achieves."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(word_tokens(F.col("text"))).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = sized.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) + (_PACK_BUDGET - 1)) / float(_PACK_BUDGET)),
    )
    return binned.groupBy("source").agg(
        F.max("bin_id").alias("n_bins"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum("n_tokens") / (F.max("bin_id") * _PACK_BUDGET), 4
        ).alias("fill_rate"),
    )


@register(
    "redact_blocklist_terms",
    sql=f"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_BLOCK_RE}'))) AS BIGINT)
               AS n_redactions,
           CAST(count_if(regexp_matches(lower(text), '{_BLOCK_RE}')) AS BIGINT)
               AS docs_hit,
           CAST(SUM(length(regexp_replace(lower(text), '{_BLOCK_RE}', '<T>', 'g')))
                AS BIGINT) AS redacted_chars
    FROM documents
    GROUP BY source
    """,
    desc="blocklist term redaction: counts + redacted-length audit per source",
)
def redact_blocklist_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary/blocklist redaction (the PII-scrub shape: emails,
    phone numbers, or banned terms replaced before training).  The
    testdata vocabulary has no PII, so the blocklist is three corpus
    words — the operator under test is the JVM-side regexp pipeline:
    `regexp_count` for the audit count, `regexp_replace` for the scrub,
    word boundaries to avoid substring hits.  Stateless row-local
    transforms with partial aggregation — no shuffle beyond the bounded
    per-source rollup.  DuckDB needs the 'g' flag on regexp_replace
    (Spark replaces all matches by default)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    low = F.lower(F.col("text"))
    return docs.groupBy("source").agg(
        F.sum(F.regexp_count(low, F.lit(_BLOCK_RE))).alias("n_redactions"),
        F.count_if(low.rlike(_BLOCK_RE)).alias("docs_hit"),
        F.sum(F.length(F.regexp_replace(low, _BLOCK_RE, "<T>"))).alias(
            "redacted_chars"
        ),
    )


@register(
    "char_entropy_quality",
    sql="""
    WITH chars AS (
        SELECT doc_id, source, substr(text, i, 1) AS ch
        FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
    ), freq AS (
        SELECT doc_id, source, ch, COUNT(*) AS c
        FROM chars GROUP BY 1, 2, 3
    ), doc_ent AS (
        SELECT doc_id, source, SUM(ent_term) AS ent FROM (
            SELECT f.doc_id, f.source,
                   -(f.c * 1.0 / t.tot) * log2(f.c * 1.0 / t.tot) AS ent_term
            FROM freq f JOIN (
                SELECT doc_id, SUM(c) AS tot FROM freq GROUP BY doc_id
            ) t ON t.doc_id = f.doc_id
        ) GROUP BY doc_id, source
    )
    SELECT source,
           ROUND(AVG(ent), 4) AS avg_entropy,
           ROUND(MIN(ent), 4) AS min_entropy,
           ROUND(MAX(ent), 4) AS max_entropy
    FROM doc_ent
    GROUP BY source
    """,
    desc="per-doc character Shannon entropy, per-source summary",
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap proxy
    for 'is this text or noise' (gibberish and single-char spam score
    low; natural text sits near the alphabet's entropy).

    The char explode produces n_chars rows, but the (doc, char)
    partial aggregate collapses them map-side to at most
    doc x alphabet before any shuffle — the shuffled row count is
    bounded by ~100 per doc regardless of document length."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # split('') yields one element per character (verified: no empty
    # sentinel on this Spark); the per-index substr form is O(n^2) per
    # document and measured ~3x slower
    chars = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", "")).alias("ch"),
    )
    freq = chars.groupBy("doc_id", "source", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    doc_ent = (
        freq.join(tot, "doc_id")
        .select(
            "doc_id",
            "source",
            (
                -(F.col("c") / F.col("tot")) * F.log2(F.col("c") / F.col("tot"))
            ).alias("ent_term"),
        )
        .groupBy("doc_id", "source")
        .agg(F.sum("ent_term").alias("ent"))
    )
    return doc_ent.groupBy("source").agg(
        F.round(F.avg("ent"), 4).alias("avg_entropy"),
        F.round(F.min("ent"), 4).alias("min_entropy"),
        F.round(F.max("ent"), 4).alias("max_entropy"),
    )


@register(
    "observed_corpus_metrics",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(count_if(n_chars > 300) AS BIGINT) AS n_long,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens
    FROM documents
    """,
    desc="df.observe: data-quality metrics collected ON the pass, no second scan",
)
def observed_corpus_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API: metrics (row count, long-doc count, average
    length, token total) accumulate ON a pass over the data — at 100 TB
    this is how a pipeline gets its data-quality dashboard for free,
    piggybacked on a pass it already runs, instead of a second scan.
    Here the pass is forced with a count() so the gate can read the
    observed values; in production the pass is the real write/transform.
    The oracle recomputes the same metrics declaratively."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents", spread=True)
    obs = Observation("corpus_metrics")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("n_chars") > 300).alias("n_long"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(F.size(word_tokens(F.col("text")))).alias("total_tokens"),
    )
    observed.count()  # force the pass; obs.get blocks until it completes
    m = obs.get
    return local_frame(
        spark, [(m["n_docs"], m["n_long"], m["avg_chars"], m["total_tokens"])],
        "n_docs long, n_long long, avg_chars double, total_tokens long",
    )

"""Training-corpus operations, part 5 (round 8): distributed BPE-merge
training, duplicated-span coverage accounting, incremental exact
substring dedup, and checksum-validated PII auditing.

Scale discipline, per operator:

- BPE training does ONE corpus pass (the word-frequency aggregate);
  the merge loop runs over the bounded word-TYPE table (vocabulary,
  not corpus — at 100 TB the vocab is millions of rows where the
  corpus is trillions), and each iteration's argmax pair is a 1-row
  collect off a map-side-combined aggregate;
- span coverage reuses the DF-capped positional-gram index of
  `dedup_substring_runs` — candidate fan-out stays bounded by df^2 —
  and the interval-union windows partition per doc (bounded by doc
  length), never corpus-wide;
- incremental substring dedup probes a PERSISTED gram index with only
  the delta's grams (the `dedup_incremental_exact` /
  `dedup_incremental_minhash` cost shape: delta work scales with the
  batch, existing-vs-existing pairs are never generated);
- the Luhn audit is pure per-row digit arithmetic (posexplode over
  <=15-digit strings, one shuffle to the bounded per-nation grid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkml_som_spark.functions import word_tokens
from sparkml_som_spark.operators.dedup import _SSD_CTE_PREFIX, _SSD_L, substring_match_pairs
from sparkml_som_spark.operators.registry import register, session_conf
from sparkml_som_spark.session import local_frame
from sparkml_som_spark.sources import load_table

# --------------------------------------------------------------------------
# Distributed BPE-merge training (Sennrich et al., the tokenizer-training
# half the corpus pipeline feeds).  Merge application is defined as
# repeated non-overlapping left-to-right pair replacement on the spaced
# symbol string, applied _BPE_PASSES times per merge — a deterministic
# rule both engines implement with the SAME string `replace` semantics,
# so the full 8-merge trajectory sits under the value-hash oracle.
# (_BPE_PASSES = 6 converges for any symbol run up to 2^6 — far beyond
# any word length in a whitespace-tokenized corpus.)
# --------------------------------------------------------------------------

_BPE_MERGES = 8
_BPE_PASSES = 6


def _bpe_oracle(final_select: str | None = None) -> str:
    """The 8-stage BPE merge replay as DuckDB CTEs.  ``final_select``
    overrides the output: the trainer entry reads the merge table, the
    apply entry reads the FINAL segmentation (words{n})."""

    def rep(col: str, n: int) -> str:
        e = col
        for _ in range(n):
            e = f"replace({e}, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')"
        return e

    ctes = [
        """words0 AS (
      SELECT word, COUNT(*)::BIGINT AS freq,
             ' ' || trim(regexp_replace(word, '(.)', ' \\1', 'g')) || ' ' AS spaced
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word
    )"""
    ]
    for k in range(_BPE_MERGES):
        ctes.append(
            f"""pairs{k} AS (
      SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, string_split(trim(spaced), ' ') AS s FROM words{k}),
           LATERAL (SELECT unnest(range(1, len(s))) AS i) t
      GROUP BY 1, 2
    ), merge{k} AS (
      SELECT l, r, cnt FROM pairs{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    ), words{k + 1} AS (
      SELECT word, freq, {rep("spaced", _BPE_PASSES)} AS spaced
      FROM words{k}, merge{k}
    )"""
        )
    if final_select is None:
        sel = "\nUNION ALL\n".join(
            f"SELECT {k + 1} AS merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM merge{k}"
            for k in range(_BPE_MERGES)
        )
        final_select = "SELECT * FROM (" + sel + ") ORDER BY merge_rank"
    return "WITH " + ",\n".join(ctes) + "\n" + final_select


@register(
    "bpe_train_merges",
    sql=_bpe_oracle(),
    desc=f"distributed BPE tokenizer training: {_BPE_MERGES} merge rounds over the word-type table, full merge trajectory under the value-hash oracle",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016) as a
    distributed query: the corpus collapses to a word-frequency table
    in ONE pass (the only corpus-sized aggregate), then each of the
    {n} merge rounds counts adjacent symbol pairs weighted by word
    frequency over that bounded table, picks the most frequent pair
    (ties broken (count DESC, left ASC, right ASC) — pinned in both
    engines), and applies the merge.  This is exactly how production
    BPE trainers scale: the corpus pass is map-reduce, the merge loop
    touches only the vocabulary.

    Merge application is {p} repeated non-overlapping left-to-right
    string replacements of ' l r ' with ' lr ' on the spaced symbol
    string — Spark's `replace` and DuckDB's `replace` share these
    semantics exactly, so the DuckDB oracle replays the FULL 8-merge
    trajectory (including how merge k reshapes the pair counts of
    merge k+1) under the value hash.  The per-iteration argmax is a
    one-row collect; the word table is persisted per iteration.""".format(
        n=_BPE_MERGES, p=_BPE_PASSES
    )
    merges, _words = _learn_bpe(spark, sf_dir)
    return local_frame(
        spark, merges, "merge_rank int, left_sym string, right_sym string, pair_count long"
    )


def _learn_bpe(spark: SparkSession, sf_dir: str):
    """The shared BPE merge loop: returns (merges, final words DF with
    the post-merge `spaced` segmentation)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    words = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "spaced",
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace(F.col("word"), "(.)", " $1")),
                F.lit(" "),
            ),
        )
    )
    merges: list = []
    pair_struct = (
        "CASE WHEN size(s) >= 2 THEN "
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r)) "
        "ELSE array() END"
    )
    # opt r16 (guide §1.2 driver overhead): the merge loop runs 8
    # sequential argmax queries over the CACHED word-type table.  Under
    # AQE each of those tiny aggregates splits into 2-3 query-stage
    # jobs, and the event log shows the wall time is driver gaps, not
    # tasks (steady run 3.37 s, job time 1.36 s, 28 jobs where the
    # loop's work is 9).  AQE has nothing to offer a bounded cached
    # table (no skew, no runtime stats to exploit — the input is the
    # SAME persisted vocab every round), so the loop runs with AQE off
    # and one job per round; the corpus-sized words0 pass materializes
    # inside round 0's job with the exchange already sized by
    # spark.sql.shuffle.partitions.
    with session_conf(spark, "spark.sql.adaptive.enabled", "false"):
        for k in range(_BPE_MERGES):
            words = words.persist()
            top = (
                words.select("freq", F.split(F.trim(F.col("spaced")), " ").alias("s"))
                .select("freq", F.explode(F.expr(pair_struct)).alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()[0]
            )
            left, right, cnt = top["l"], top["r"], int(top["cnt"])
            merges.append((k + 1, left, right, cnt))
            pat, rep = f" {left} {right} ", f" {left}{right} "
            col = F.col("spaced")
            for _ in range(_BPE_PASSES):
                col = F.replace(col, F.lit(pat), F.lit(rep))
            words = words.withColumn("spaced", col)
    return merges, words


_BPE_APPLY_SELECT = f"""
    , tok AS (
      SELECT word,
             CAST(len(string_split(trim(spaced), ' ')) AS BIGINT) AS n_tok,
             CAST(len(word) AS BIGINT) AS n_chars
      FROM words{_BPE_MERGES}
    ), stream AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT)  AS n_words,
           CAST(SUM(t.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(t.n_tok) AS BIGINT)   AS n_bpe_tokens,
           ROUND(SUM(t.n_chars) * 1.0 / SUM(t.n_tok), 4) AS chars_per_token
    FROM stream s JOIN tok t USING (word)
    WHERE s.word <> ''
    GROUP BY s.source ORDER BY s.source
"""


@register(
    "bpe_apply_segment",
    sql=_bpe_oracle(final_select=_BPE_APPLY_SELECT),
    desc="apply the trained BPE merges corpus-wide: per-source token counts and chars-per-token compression under the full oracle",
)
def bpe_apply_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER half of tokenizer training — applying the learned
    merges to the corpus: every word segments under the final merge
    table, and the per-source rollup reports word/char/BPE-token
    counts plus chars-per-token (the compression a tokenizer buys,
    the number that drives context-window budgeting).  Scale shape:
    segmentation is a property of the word TYPE, so the corpus stream
    joins the vocabulary-bounded (word -> n_tokens) map — broadcast at
    any corpus size — and never re-runs merges per occurrence.  The
    oracle replays training AND application end-to-end, so the entry
    pins the full train->apply pipeline, not just the merge table."""
    _merges, words = _learn_bpe(spark, sf_dir)
    tok = words.select(
        "word",
        F.size(F.split(F.trim(F.col("spaced")), " ")).cast("long").alias("n_tok"),
        F.length("word").cast("long").alias("n_chars"),
    )
    docs = load_table(spark, sf_dir, "documents", spread=True)
    stream = docs.select(
        "source", F.explode(word_tokens(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    out = (
        stream.join(F.broadcast(tok), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
            F.round(F.sum("n_chars") / F.sum("n_tok"), 4).alias("chars_per_token"),
        )
        .orderBy("source")
    )
    from sparkml_som_spark.operators.registry import materialize_small

    return materialize_small(out)


# --------------------------------------------------------------------------
# Duplicated-span coverage: the "what fraction of the corpus is
# duplicated text" accounting of Lee et al. — per source, the share of
# tokens covered by ANY shared >= L-token run.
# --------------------------------------------------------------------------

_SPAN_COVERAGE_ORACLE = f"""
    WITH {_SSD_CTE_PREFIX},
    starts AS (
      SELECT a_id AS doc_id, i AS s FROM pairs
      UNION ALL SELECT b_id, j FROM pairs
    ),
    iv AS (SELECT DISTINCT doc_id, s FROM starts),
    m AS (
      SELECT doc_id, s, s + {_SSD_L - 1} AS e,
             MAX(s + {_SSD_L - 1}) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s) AS island
      FROM m
    ),
    cov AS (
      SELECT doc_id, CAST(SUM(mx - mn + 1) AS BIGINT) AS covered
      FROM (SELECT doc_id, island, MIN(s) AS mn, MAX(e) AS mx FROM isl GROUP BY 1, 2)
      GROUP BY 1
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM d)
    SELECT d2.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(cov.doc_id) AS BIGINT) AS n_dup_docs,
           ROUND(SUM(COALESCE(cov.covered, 0)) * 1.0 / SUM(dl.n_tokens), 6) AS dup_token_fraction
    FROM documents d2 JOIN dl USING (doc_id) LEFT JOIN cov USING (doc_id)
    GROUP BY 1 ORDER BY 1
"""


@register(
    "dedup_span_coverage",
    sql=_SPAN_COVERAGE_ORACLE,
    desc=f"duplicated-text accounting: per-source fraction of tokens inside ANY shared >= {_SSD_L}-token run (interval-union per doc)",
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How MUCH of each source is duplicated text — the corpus-health
    number the Lee et al. span rule exists to produce (detection is
    `dedup_substring_runs`; this is the accounting).  Every matched
    position (either side of a pair) contributes the token interval
    [pos, pos + {_SSD_L - 1}]; overlapping intervals merge per doc via
    the running-max-end prefix (the `interval_coverage_users` shape —
    no self-join, window partitions bounded by doc length), and the
    per-source rollup reports covered-token share plus how many docs
    are affected.  Candidate generation reuses the DF-capped
    positional-gram index — the one corpus-scale join in the plan."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # pairs feeds BOTH union branches below with no shared exchange
    # boundary between them, so without materialization the whole
    # positional-gram index join runs twice (opt r15, guide §2.4;
    # interleaved A/B at sf0.1: 2.43 s vs 2.69 s min-of-5).  Bounded at
    # the candidate-match count the DF cap already pins.
    pairs = substring_match_pairs(docs).localCheckpoint()
    starts = (
        pairs.select(F.col("a_id").alias("doc_id"), F.col("i").alias("s"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id"), F.col("j").alias("s")))
        .distinct()
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id").orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        starts.withColumn("e", F.col("s") + (_SSD_L - 1))
        .withColumn("prev_max", F.max("e").over(w_prev))
        .withColumn(
            "island",
            F.sum(
                F.when(F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1).otherwise(0)
            ).over(w_run),
        )
    )
    cov = (
        isl.groupBy("doc_id", "island")
        .agg(F.min("s").alias("mn"), F.max("e").alias("mx"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("mx") - F.col("mn") + 1).cast("long").alias("covered"))
    )
    dl = docs.select(
        "doc_id", "source", F.size(word_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        dl.join(cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("covered").alias("n_dup_docs"),
            F.round(
                F.sum(F.coalesce(F.col("covered"), F.lit(0))) / F.sum("n_tokens"), 6
            ).alias("dup_token_fraction"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Checksum-validated PII detection: digit-run candidates + Luhn mod-10.
# --------------------------------------------------------------------------

_LUHN_MIN_DIGITS = 9


@register(
    "pii_luhn_audit",
    sql=f"""
    WITH digits AS (
      SELECT c_mktsegment, regexp_replace(c_name, '[^0-9]', '', 'g') AS ds
      FROM customer
    ), cand AS (
      SELECT c_mktsegment, ds FROM digits WHERE len(ds) >= {_LUHN_MIN_DIGITS}
    ), per_digit AS (
      SELECT c_mktsegment, ds,
             CAST(ds[i] AS INT) AS d,
             len(ds) - i AS from_right
      FROM cand, LATERAL (SELECT unnest(range(1, len(ds) + 1)) AS i) t
    ), luhn AS (
      SELECT c_mktsegment, ds,
             SUM(CASE WHEN from_right % 2 = 1
                      THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                      ELSE d END) AS total
      FROM per_digit GROUP BY 1, 2
    )
    SELECT d0.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(l.ds) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(CASE WHEN l.total % 10 = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_luhn_valid
    FROM digits d0 LEFT JOIN luhn l USING (c_mktsegment, ds)
    GROUP BY 1 ORDER BY 1
    """,
    desc=f"checksum-validated PII audit: digit runs >= {_LUHN_MIN_DIGITS} validated with the Luhn mod-10 test, per-segment accounting",
)
def pii_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard payment-card-detection filter a corpus pipeline
    runs before release: extract digit runs from a text field, treat
    runs of >= {_LUHN_MIN_DIGITS} digits as candidates, and validate
    each with the Luhn mod-10 checksum (doubling every second digit
    from the right) — the checksum is what separates card-shaped
    numbers from arbitrary ids, and it is pure integer arithmetic, so
    BOTH engines compute it exactly.  Spark side: the whole per-digit
    fold is one codegen `aggregate(transform(sequence(...)))`
    expression — no explode, no Python, no shuffle before the bounded
    per-segment rollup.  Here the scanned field is `c_name` (the only
    digit-bearing text column in this synthetic schema); in production
    the same expression runs over document text after a digit-run
    regexp extraction."""
    c = load_table(spark, sf_dir, "customer")
    ds = F.regexp_replace(F.col("c_name"), "[^0-9]", "")
    luhn_total = F.expr(
        "aggregate(transform(sequence(1, length(ds)), i -> "
        "CASE WHEN (length(ds) - i) % 2 = 1 "
        "THEN IF(CAST(substring(ds, i, 1) AS INT) * 2 > 9, "
        "CAST(substring(ds, i, 1) AS INT) * 2 - 9, "
        "CAST(substring(ds, i, 1) AS INT) * 2) "
        "ELSE CAST(substring(ds, i, 1) AS INT) END), 0, (a, x) -> a + x)"
    )
    rows = c.select("c_mktsegment", ds.alias("ds")).withColumn(
        "is_cand", F.length("ds") >= _LUHN_MIN_DIGITS
    )
    scored = rows.withColumn(
        "valid", F.when(F.col("is_cand"), (luhn_total % 10) == 0).otherwise(F.lit(False))
    )
    return (
        scored.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("is_cand")).alias("n_candidates"),
            F.count_if(F.col("valid")).alias("n_luhn_valid"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# LM-style corpus triage: drop the worst decile by self-trained bigram
# likelihood, report per-source retention.
# --------------------------------------------------------------------------


@register(
    "quality_bigram_filter",
    # per-doc score = SUM(bigram_count) / n_bigrams — ONE IEEE division
    # of exact integers, so doc ordering is bit-identical across
    # engines (a log-space score would rank by 1e-16 summation noise)
    sql="""
    WITH t AS (
        SELECT doc_id, source, lower(text) AS txt FROM documents
        WHERE length(text) >= 2
    ), bg AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, length(txt)),
                                     i -> substr(txt, CAST(i AS INT), 2))) AS b
        FROM t
    ), vocab AS (
        SELECT b, COUNT(*) AS c FROM bg GROUP BY b
    ), doc_score AS (
        SELECT bg.doc_id, bg.source,
               SUM(v.c)::BIGINT * 1.0 / COUNT(*)::BIGINT AS score
        FROM bg JOIN vocab v ON v.b = bg.b
        GROUP BY 1, 2
    ), ranked AS (
        SELECT doc_id, source, score,
               ROW_NUMBER() OVER (ORDER BY score, doc_id) - 1 AS rnk,
               (SELECT COUNT(*) FROM doc_score) AS n
        FROM doc_score
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rnk >= n // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rnk < n // 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           ROUND(AVG(CASE WHEN rnk >= n // 10 THEN score END), 6) AS kept_mean_score
    FROM ranked GROUP BY source ORDER BY source
    """,
    desc="LM-quality corpus triage: self-trained bigram likelihood, bottom decile dropped by exact global rank, per-source retention audit",
)
def quality_bigram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtering step `quality_char_bigram_logloss` exists to feed:
    score every doc by its mean bigram frequency under the corpus's own
    bigram model, drop the bottom decile (gibberish sinks there), and
    report what survived per source.  The score is SUM(count)/n — one
    IEEE division of exact integers per doc, so the cross-engine doc
    ORDERING is exact, which is what makes a rank CUT hashable (a
    log-space score would make boundary membership depend on 1e-16
    summation noise).  The decile cut composes the pinned two-phase
    `distributed_global_rank` — no single-task ROW_NUMBER; the oracle
    writes the textbook window form Spark never runs.  Model scale
    shape as the logloss entry: bigram vocab bounded by charset^2,
    broadcast back onto the stream."""
    from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank
    from sparkml_som_spark.operators.registry import materialize_small

    docs = load_table(spark, sf_dir, "documents", spread=True)
    t = docs.where(F.length("text") >= 2).select(
        "doc_id", "source", F.lower(F.col("text")).alias("txt")
    )
    bg = t.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("txt") - 1),
                lambda i: F.col("txt").substr(i, F.lit(2)),
            )
        ).alias("b"),
    )
    # opt r16 (guide §2.3/§2.4): both the vocab aggregate and the scoring
    # join need the char-bigram explode.  Pre-aggregating per-(doc,
    # bigram) counts and pinning them runs the explode ONCE; vocab and
    # the per-doc score then derive from the pinned counts.  Exact-integer
    # identity: SUM(c) over occurrences == SUM(cnt * c) over distinct
    # pairs, COUNT(*) == SUM(cnt), so the one IEEE division is unchanged.
    dbc = (
        bg.groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    vocab = dbc.groupBy("b").agg(F.sum("cnt").alias("c"))
    doc_score = (
        dbc.join(F.broadcast(vocab), "b")
        .groupBy("doc_id", "source")
        .agg(
            (F.sum(F.col("cnt") * F.col("c")).cast("long") / F.sum("cnt").cast("long")).alias("score")
        )
    )

    # opt r16 (guide §2.4/§1.2): (1) pin the per-doc scores (one narrow
    # row per doc) so the range-partitioner's sample pass re-reads 20k
    # rows instead of re-running the score aggregate, and (2) take N from
    # the rank helper's own partition counts — a `ranked.count()` would
    # be a SECOND full mapInPandas pass whose only output is a number
    # the helper has already summed
    doc_score = doc_score.localCheckpoint()
    total: list = []
    ranked = distributed_global_rank(
        doc_score, ["score", "doc_id"], total_out=total
    )
    n = total[0]
    cut = n // 10
    out = (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("rank") >= cut).alias("n_kept"),
            F.count_if(F.col("rank") < cut).alias("n_dropped"),
            F.round(F.avg(F.when(F.col("rank") >= cut, F.col("score"))), 6).alias(
                "kept_mean_score"
            ),
        )
        .orderBy("source")
    )
    return materialize_small(out)


# --------------------------------------------------------------------------
# SemDeDup-shaped embedding dedup: coarse-cluster, then dedup WITHIN
# clusters only — the cost shape that makes semantic dedup affordable.
# --------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.95
# grid covers the observed embedding support (elements in ~[-0.53, 0.46]);
# the cell key is ONE float expression per dim (no summation), so both
# engines floor the identical IEEE double
_SEMDEDUP_CELL = "CAST(floor(({e} + 0.6) * 8) AS INT)"


@register(
    "semdedup_grid_cosine",
    sql=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             {_SEMDEDUP_CELL.format(e="embedding[1]")} AS cx,
             {_SEMDEDUP_CELL.format(e="embedding[2]")} AS cy
      FROM embeddings
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b
        ON a.cx = b.cx AND a.cy = b.cy AND a.vec_id < b.vec_id
       AND list_cosine_similarity(a.v, b.v) >= {_SEMDEDUP_TAU}
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM e LEFT JOIN dropped d ON d.vec_id = e.vec_id
    GROUP BY e.label ORDER BY e.label
    """,
    desc=f"SemDeDup-shaped embedding dedup: grid-blocked cells, within-cell cosine >= {_SEMDEDUP_TAU} drops all-but-lowest-id, per-label accounting",
)
def semdedup_grid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup the way SemDeDup (Abbas et al. 2023) makes it
    affordable: never all-pairs — coarse-cluster the embeddings, then
    compare ONLY within clusters, dropping every vector that has a
    lower-id neighbor above the similarity threshold in its cluster.
    Here the coarse quantizer is a declarative 2-D grid over the first
    two embedding dims (one float expression per dim, identical IEEE
    result in both engines), which is what puts the WHOLE pipeline —
    clustering included — under the full value-hash oracle; the
    production swap-in is k-means/SOM cells (`ann_ivf_som`'s
    quantizer), same within-cell shape.  Cross-cell near-dup pairs are
    deliberately out of contract — that is SemDeDup's documented
    recall trade for turning N^2 into sum(cell^2).  Scale: the join is
    equi-keyed on the cell, fan-out bounded by cell occupancy;
    `dedup_embedding_cosine` carries the exact/LSH forms."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
        F.floor((F.element_at(F.col("embedding").cast("array<double>"), 1) + 0.6) * 8)
        .cast("int")
        .alias("cx"),
        F.floor((F.element_at(F.col("embedding").cast("array<double>"), 2) + 0.6) * 8)
        .cast("int")
        .alias("cy"),
    )
    from sparkml_som_spark.functions import cosine

    a = emb.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("va"), "cx", "cy"
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("vb"), "cx", "cy"
    )
    dropped = (
        a.join(b, ["cx", "cy"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (cosine(F.col("va"), F.col("vb")) >= _SEMDEDUP_TAU)
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        emb.join(dropped, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("is_dropped").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped")).alias("n_kept"),
        )
        .orderBy("label")
    )

"""Python UDTF coverage: a table function that chunks a document into
fixed-size token windows (the standard LLM-context chunking primitive).

UDTFs are row-at-a-time Python — the slow path. The JVM-side equivalent
(transform/slice over split(), as used by `functions.word_shingles`) is
what the hot path should use; this exists because chunk-explosion as a
*table function* is part of the engine's API surface, and some chunkers
genuinely need imperative Python (sentence models, tokenizers).
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

# UDTF boundary serialization — measured REJECTION (opt r16, guide
# §4.3): ``udtf(..., useArrow=True)`` keeps eval() per-row but moves the
# boundary to Arrow batches.  Order-alternated A/B at sf0.1 (6 reps,
# OPTIMIZATION_r16.md §C3): udtf_ngram_counts pickle min 1.746 s vs Arrow
# 2.227 s (Arrow better 0/6 pairwise), udtf_chunk_documents 0.988 vs
# 1.178 s (wash).  At one small (int, string) tuple per yield, the
# per-row Arrow batch assembly costs more than pickle — both UDTFs stay
# on the default pickle path.


@udtf(returnType="chunk_idx int, chunk string, n_tokens int")
class ChunkText:
    """Split a text into consecutive windows of `size` whitespace tokens."""

    def eval(self, text: str, size: int = 20):
        if size <= 0:
            raise ValueError(f"chunk_text: size must be positive, got {size}")
        if text is None:
            return
        toks = text.split(" ")
        for start in range(0, len(toks), size):
            window = toks[start : start + size]
            yield (start // size, " ".join(window), len(window))


def register_udtfs(spark) -> None:
    spark.udtf.register("chunk_text", ChunkText)


# ---------------------------------------------------------------------------
# Polymorphic UDTF (Spark 4 `analyze` API): output schema and argument
# validation run at PLAN time via the static analyze() hook — the
# mechanism behind polymorphic table functions (schema depending on
# constant arguments), here used to reject a non-constant / invalid n
# before any executor starts.
# ---------------------------------------------------------------------------

from pyspark.sql.types import IntegerType, StringType, StructField, StructType  # noqa: E402
from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult  # noqa: E402


class NGrams:
    """``sgs_ngrams(text, n)`` -> (pos, gram) rows of consecutive
    n-token windows over the lowercased whitespace tokenization."""

    @staticmethod
    def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
        if not n.isConstantExpression or n.value is None or int(n.value) < 1:
            raise ValueError("sgs_ngrams: n must be a positive constant")
        return AnalyzeResult(
            StructType(
                [
                    StructField("pos", IntegerType()),
                    StructField("gram", StringType()),
                ]
            )
        )

    def eval(self, text: str, n: int):
        if text is None:
            return
        toks = text.lower().split(" ")
        for i in range(len(toks) - n + 1):
            yield (i, " ".join(toks[i : i + n]))


def register_ngrams_udtf(spark) -> None:
    spark.udtf.register("sgs_ngrams", udtf(NGrams))

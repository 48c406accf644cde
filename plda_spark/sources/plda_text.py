"""plda corpus text format — reader/writer (O1/O16 format surface).

Format (``README.md:44-58``): one document per line,
``word1 count1 word2 count2 …`` whitespace-separated; blank lines and
lines starting with ``#``/CR/LF are skipped (parser ``lda.cc:56-79``).

Doc ids are assigned by line order, matching the reference's implicit
line-number document identity.  :func:`with_line_ids` numbers the kept
lines in JVM expressions, so no line passes through a Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_plda_corpus", "write_plda_corpus", "with_line_ids"]

# monotonically_increasing_id() = partition index << 33 | row in partition
_ROW_BITS = 33


def with_line_ids(df: DataFrame, id_col: str) -> DataFrame:
    """``df`` plus a dense 0-based ``id_col`` in line order: partition
    order, then row order within each partition — exactly the ids of
    ``df.rdd.zipWithIndex()``.

    The row's place in its partition comes from
    ``monotonically_increasing_id()``; each partition's offset is the
    prefix sum of the partition row counts, taken by one aggregation
    that runs only when there is more than one partition (as
    ``zipWithIndex``'s count job does).  A file scan reads each split in
    the same order every time, so a recomputed partition gets the same
    ids.
    """
    n_parts = df.rdd.getNumPartitions()
    offsets = [0] * n_parts
    if n_parts > 1:
        counts = dict(
            df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        )
        for p in range(1, n_parts):
            offsets[p] = offsets[p - 1] + counts.get(p - 1, 0)
    mid = F.col("__mid")
    pid = F.shiftright(mid, _ROW_BITS).cast("int")
    row = mid.bitwiseAND((1 << _ROW_BITS) - 1)
    return (
        df.withColumn("__mid", F.monotonically_increasing_id())
        .withColumn(id_col, F.get(F.lit(offsets).cast("array<long>"), pid) + row)
        .drop("__mid")
    )


def read_plda_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read plda-format text → canonical ``(doc_id, word, count)`` triples."""
    lines = spark.read.text(path)
    kept = lines.where(
        (F.length(F.trim("value")) > 0) & ~F.col("value").startswith("#")
    ).select(F.col("value").alias("line"))
    # Stable line-order ids (lda.cc assigns doc identity by input order).
    df = with_line_ids(kept, "doc_id")
    tokens = F.split(F.trim("line"), r"\s+")
    # (word, count) pairs: even positions are words, odd are counts.
    pairs = F.filter(
        F.transform(tokens, lambda x, i: F.struct(x.alias("tok"), i.alias("i"))),
        lambda s: s["i"] % 2 == 0,
    )
    counts = F.filter(
        F.transform(tokens, lambda x, i: F.struct(x.alias("tok"), i.alias("i"))),
        lambda s: s["i"] % 2 == 1,
    )
    return (
        df.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.transform(pairs, lambda s: s["tok"]).alias("word"),
                    # try_cast: a malformed count (or a dangling word with no
                    # count) yields NULL and the pair is dropped below —
                    # the reference's atoi() returns 0 for garbage and the
                    # occurrence loop then adds nothing (lda.cc:61-79), so
                    # silent-skip is parity; ANSI cast would abort the job.
                    F.transform(counts, lambda s: s["tok"].try_cast("int")).alias(
                        "count"
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.word").alias("word"), F.col("p.count").alias("count"))
        .where(F.col("count").isNotNull() & (F.col("count") > 0))
    )


def write_plda_corpus(corpus: DataFrame, path: str) -> None:
    """Canonical triples → plda-format text, one doc per line, words in
    lexicographic order within a line (deterministic round-trip)."""
    (
        corpus.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("word", "count"))).alias("pairs"))
        .orderBy("doc_id")
        .select(
            F.array_join(
                F.transform(
                    "pairs",
                    lambda p: F.concat_ws(" ", p["word"], p["count"].cast("string")),
                ),
                " ",
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )

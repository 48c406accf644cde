"""UCI bag-of-words reader/converter (O20, ``testdata/format.py``).

``docword.X.txt``: three header lines (D, W, NNZ) then ``docId wordId
count`` triples, 1-based; ``vocab.X.txt``: one word per line, line
number = wordId.  The reference converter has an off-by-one bug that
drops the first and last documents (``format.py:20-31``) — NOT
replicated here (SURVEY.md O20 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plda_text import with_line_ids, write_plda_corpus

__all__ = ["read_uci_docword", "uci_to_corpus"]


def read_uci_docword(spark: SparkSession, docword_path: str, vocab_path: str) -> DataFrame:
    """→ canonical ``(doc_id, word, count)`` triples (doc_id 0-based)."""
    raw = spark.read.csv(docword_path, sep=" ", schema="a long, b long, c int")
    # Header rows (D / W / NNZ) have nulls in columns b and c — drop them.
    triples = raw.where(F.col("b").isNotNull() & F.col("c").isNotNull()).select(
        (F.col("a") - 1).alias("doc_id"),
        (F.col("b") - 1).alias("word_id"),
        F.col("c").alias("count"),
    )
    # word_id = line number; the trim is Python's str.strip(): Unicode
    # white space plus the \x1c-\x1f separators
    words = spark.read.text(vocab_path).select(
        F.regexp_replace("value", r"(?U)^[\s\x1c-\x1f]+|[\s\x1c-\x1f]+$", "").alias("word")
    )
    vocab = with_line_ids(words, "word_id")
    return (
        triples.join(F.broadcast(vocab), "word_id")
        .select("doc_id", "word", "count")
    )


def uci_to_corpus(spark: SparkSession, docword_path: str, vocab_path: str, out_path: str) -> None:
    """Full O20 conversion: UCI pair → plda-format text file."""
    write_plda_corpus(read_uci_docword(spark, docword_path, vocab_path), out_path)

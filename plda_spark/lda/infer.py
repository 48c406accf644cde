"""Batch inference (scoring) — the reference's ``infer`` binary (O18).

Per unseen document (``infer.cc:37-101``): drop OOV words, random z-init,
``total_iterations`` frozen-model sweeps, average the per-doc topic
histogram over post-burn-in iterations.  Documents are independent, so
this is a single embarrassingly-parallel ``mapInPandas`` job with the
model broadcast once — no per-iteration sync at all (the reference
streams docs one at a time through a single process).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import kernel
from .corpus import pack_docs
from .model import LDAModel
from .vocab import remap_words, vocab_frame

__all__ = [
    "transform",
    "transform_stream",
    "transform_model_df",
    "write_inference_result",
]

_OUT_SCHEMA = "doc_id long, topic_weights array<double>"


def _infer_fn(bc_nwk, bc_nk, alpha: float, beta: float,
              total_iterations: int, burn_in_iterations: int, seed: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        rng = kernel.make_rng(seed, pid, 0)
        nwk = bc_nwk.value
        nk = bc_nk.value
        K = nk.shape[0]
        n_avg = total_iterations - burn_in_iterations
        for pdf in batches:
            out = []
            for occ in pdf["word_occ"]:
                occ = np.asarray(occ, dtype=np.int32)
                z = kernel.init_assignments(len(occ), K, rng)
                offsets = np.array([0, len(occ)], dtype=np.int64)
                acc = np.zeros(K, dtype=np.float64)
                for it in range(total_iterations):
                    kernel.sweep_docs(
                        occ, z, offsets, nwk, nk, alpha, beta, rng,
                        update_model=False,
                    )
                    if it >= burn_in_iterations:
                        acc += np.bincount(z, minlength=K)
                out.append(acc / n_avg)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "topic_weights": out})

    return fn


def transform(
    model: LDAModel,
    corpus: DataFrame,
    total_iterations: int = 15,
    burn_in_iterations: int = 10,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """``(doc_id, word, count)`` → ``(doc_id, topic_weights: array<double>)``.

    ``topic_weights`` are the unnormalized averaged θ_d numerators, the
    same quantity ``infer.cc:94-98`` writes.  OOV words are silently
    dropped (``infer.cc:77-80``) by the inner vocab join.
    """
    if not (0 <= burn_in_iterations < total_iterations):
        raise ValueError("need 0 <= burn_in_iterations < total_iterations")
    spark = corpus.sparkSession
    sc = spark.sparkContext
    if num_partitions:
        P = num_partitions
    else:
        from .train import _auto_partitions

        total_tokens = int(corpus.agg(F.sum("count")).collect()[0][0] or 0)
        P = _auto_partitions(total_tokens, sc.defaultParallelism)

    corpus_ids = remap_words(corpus, vocab_frame(spark, model.words)).select(
        "doc_id", "word_id", "count"
    )
    packed = pack_docs(corpus_ids, P)

    bc_nwk = sc.broadcast(model.nwk.astype(np.float64))
    bc_nk = sc.broadcast(model.nk.astype(np.float64))
    return packed.mapInPandas(
        _infer_fn(
            bc_nwk, bc_nk, model.alpha, model.beta,
            total_iterations, burn_in_iterations, seed,
        ),
        schema=_OUT_SCHEMA,
    )


def transform_stream(
    model: LDAModel,
    docs: DataFrame,
    total_iterations: int = 15,
    burn_in_iterations: int = 10,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of :func:`transform` over raw ``documents`` rows —
    score an unbounded document stream against a frozen model.

    Scoring is per-document and the model is frozen, so the whole
    pipeline is STATELESS: tokenization is a per-row JVM expression
    (same ``TOKEN_RE``/``MIN_TOKEN_LEN`` as ``corpus.tokenize``) and the
    word→id remap happens against the broadcast vocabulary inside the
    same Arrow UDF that sweeps — no groupBy, no watermark, no state
    store.  Works identically on a batch DataFrame (useful as the
    one-pass scorer that skips the corpus-triples shuffle entirely).

    OOV words are dropped in the UDF (``infer.cc:77-80``); occurrences
    are sorted by word id to match ``pack_docs``'s layout.  Docs with no
    in-vocab words emit all-zero weights (reference behavior: an
    all-OOV doc still writes a line).
    """
    if not (0 <= burn_in_iterations < total_iterations):
        raise ValueError("need 0 <= burn_in_iterations < total_iterations")
    from .corpus import MIN_TOKEN_LEN, TOKEN_RE

    sc = docs.sparkSession.sparkContext
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_RE),
        lambda w: F.length(w) >= MIN_TOKEN_LEN,
    )
    staged = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))

    bc_vocab = sc.broadcast({w: i for i, w in enumerate(model.words)})
    bc_nwk = sc.broadcast(model.nwk.astype(np.float64))
    bc_nk = sc.broadcast(model.nk.astype(np.float64))
    inner = _infer_fn(
        bc_nwk, bc_nk, model.alpha, model.beta,
        total_iterations, burn_in_iterations, seed,
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab = bc_vocab.value

        def remap(batch: pd.DataFrame) -> pd.DataFrame:
            occs = [
                np.sort(
                    np.fromiter(
                        (vocab[w] for w in ws if w in vocab), dtype=np.int32
                    )
                )
                # NULL text tokenizes to a NULL array (None here) — treat
                # as an empty doc, matching the batch twin's explode
                # semantics, instead of crashing the streaming query.
                if ws is not None
                else np.empty(0, dtype=np.int32)
                for ws in batch["toks"]
            ]
            return pd.DataFrame({"doc_id": batch["doc_id"], "word_occ": occs})

        yield from inner(remap(b) for b in batches)

    return staged.mapInPandas(fn, schema=_OUT_SCHEMA)


def _infer_submodel_fn(nk: np.ndarray, alpha: float, beta: float, vocab_size: int,
                       total_iterations: int, burn_in_iterations: int, seed: int):
    """Per-doc inference against a doc-local sub-model (model-as-DataFrame
    path): each input row carries the doc's occurrence list *in local word
    indices* plus the matching rows of the model (one counts-array per
    distinct word).  Only the tiny global n_k is shared."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        rng = kernel.make_rng(seed, pid, 0)
        K = nk.shape[0]
        n_avg = total_iterations - burn_in_iterations
        for pdf in batches:
            out = []
            for occ_local, rows in zip(pdf["occ_local"], pdf["sub_counts"]):
                occ = np.asarray(occ_local, dtype=np.int32)
                sub_nwk = np.asarray([np.asarray(r) for r in rows], dtype=np.float64)
                z = kernel.init_assignments(len(occ), K, rng)
                offsets = np.array([0, len(occ)], dtype=np.int64)
                acc = np.zeros(K, dtype=np.float64)
                for it in range(total_iterations):
                    # sub_nwk rows are this doc's words; the conditional
                    # only ever reads rows for words in the doc, and the
                    # frozen-model denominator uses the true global n_k —
                    # identical math to the broadcast path (sampler.cc:99).
                    kernel.sweep_docs(
                        occ, z, offsets, sub_nwk, nk, alpha, beta, rng,
                        update_model=False, vocab_size=vocab_size,
                    )
                    if it >= burn_in_iterations:
                        acc += np.bincount(z, minlength=K)
                out.append(acc / n_avg)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "topic_weights": out})

    return fn


def transform_model_df(
    model_df: DataFrame,
    nk: np.ndarray,
    corpus: DataFrame,
    alpha: float = 0.1,
    beta: float = 0.01,
    total_iterations: int = 15,
    burn_in_iterations: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Inference with the model as a DataFrame — the cutover path for
    V·K beyond the broadcast ceiling (SURVEY.md §4.2: the reference
    replicates the model per machine and tells users to shrink V or K
    when it does not fit, README.md:125; this path removes that limit).

    ``model_df``: ``(word_id, topic_counts: array<double>)`` (e.g. from
    :meth:`LDAModel.to_dataframe` or a parquet model table).  ``nk``:
    the global K-vector (tiny, passed through the closure).  ``corpus``:
    ``(doc_id, word_id, count)`` triples, already vocab-mapped (OOV
    rows simply find no model row and are dropped by the join —
    ``infer.cc:77-80`` semantics).

    Plan: corpus ⋈ model on ``word_id`` (Catalyst picks shuffle-hash /
    SMJ at scale — no broadcast of the model anywhere), groupBy doc
    assembling the doc's sub-model, then embarrassingly-parallel per-doc
    Gibbs exactly like the broadcast path but against doc-local rows.
    Each doc ships only the model rows for its own distinct words.
    """
    if not (0 <= burn_in_iterations < total_iterations):
        raise ValueError("need 0 <= burn_in_iterations < total_iterations")
    vocab_size = model_df.count()

    joined = corpus.join(model_df, "word_id").select(
        "doc_id", "word_id", "count", "topic_counts"
    )
    # Per doc: distinct words sorted by word_id; local index = position.
    pairs = F.array_sort(
        F.collect_list(F.struct("word_id", "count", "topic_counts"))
    )
    packed = (
        joined.groupBy("doc_id")
        .agg(pairs.alias("pairs"))
        .select(
            "doc_id",
            F.flatten(
                F.transform(
                    "pairs",
                    lambda p, i: F.array_repeat(i.cast("int"), p["count"]),
                )
            ).alias("occ_local"),
            F.transform("pairs", lambda p: p["topic_counts"]).alias("sub_counts"),
        )
        .where(F.size("occ_local") > 0)
    )
    return packed.mapInPandas(
        _infer_submodel_fn(
            nk.astype(np.float64), alpha, beta, vocab_size,
            total_iterations, burn_in_iterations, seed,
        ),
        schema=_OUT_SCHEMA,
    )


def write_inference_result(result: DataFrame, path: str, single_file: bool = False) -> None:
    """Text-format parity with ``infer.cc:94-98``: one line per doc, K
    space-separated averaged topic counts, in doc order.

    ``single_file=True`` collects ``(doc_id, line)`` pairs once, orders
    them on the driver and writes one plain file (the reference's
    single-process writer shape — used by the CLI); the default sorts
    the lines inside one partition and writes a Spark text directory of
    one part file.  Neither samples for range bounds as a global
    ``orderBy`` would, which runs the whole inference plan (read, remap,
    pack, Gibbs sweeps) an extra time.
    """
    lines = result.select(
        "doc_id",
        F.array_join(
            F.transform(
                "topic_weights",
                # format_string, NOT format_number: the latter inserts
                # thousands separators ("1,234.5") that break the
                # space-separated parity format for any weight >= 1000.
                lambda v: F.when(
                    v == F.floor(v), v.cast("long").cast("string")
                ).otherwise(F.format_string("%.6f", v)),
            ),
            " ",
        ).alias("value"),
    )
    if single_file:
        rows = sorted(lines.collect(), key=lambda r: r["doc_id"])
        with open(path, "w", encoding="utf-8") as f:
            f.writelines(r["value"] + "\n" for r in rows)
    else:
        (
            lines.repartition(1)
            .sortWithinPartitions("doc_id")
            .select("value")
            .write.mode("overwrite")
            .text(path)
        )

"""Distributed LDA training — AD-LDA on Spark (the reference's mpi_lda on
DataFrames).

Per iteration, exactly like ``mpi_lda.cc:213-235``:

1. broadcast the current V×K model to all partitions (the reference
   replicates it per rank, ``README.md:125``);
2. each partition sweeps its documents sequentially with a *local* model
   copy (``applyInPandas``-free: a ``mapInPandas`` pass — no shuffle, the
   packed corpus keeps its hash partitioning across iterations);
3. rebuild the global model from the new assignments with Spark's
   partial+final aggregation — the ``groupBy(word_id, topic).count``
   shuffle is the moral equivalent of the reference's chunked
   SUM-AllReduce (``mpi_lda.cc:58-110``); map-side combine bounds the
   shuffle at ≤ V·K rows per partition regardless of corpus size;
4. collect (≤ V·K rows) and re-broadcast.

Within an iteration cross-partition counts are one iteration stale —
precisely the AD-LDA relaxation the reference itself makes across MPI
ranks (Newman et al., NIPS 2007; ``README.md:267``).

Two output modes (SURVEY.md §3.2): post-burn-in averaging (single-node
``lda`` semantics, ``lda.cc:137-145``) and raw final-iteration counts
(``mpi_lda`` semantics — no averaging, ``mpi_lda.cc:234-241``).

Unlike the reference (``srand(time(NULL))``, ``lda.cc:114``) training is
deterministic for a fixed (seed, num_partitions): RNG streams are keyed
by (seed, partition, iteration).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import kernel
from .corpus import pack_docs
from .model import LDAModel
from .vocab import remap_words, vocab_frame

__all__ = ["TrainConfig", "TrainResult", "train", "train_documents"]

# word_occ / z travel as raw little-endian int32 bytes, not array<int>:
# binary columns cross the Arrow boundary as one buffer per row
# (np.frombuffer decode, ~zero-copy) instead of a Python list/ndarray
# materialization per row — a large constant-factor win when the corpus
# round-trips the JVM<->Python boundary every Gibbs iteration.
_SWEEP_SCHEMA = "doc_id long, word_occ binary, z binary, ll double"


@dataclass
class TrainConfig:
    """Mirrors the reference CLI flags + their validators (cmd_flags.cc:74-105)."""

    num_topics: int
    alpha: float = 0.1
    beta: float = 0.01
    total_iterations: int = 150
    burn_in_iterations: int = 100
    compute_likelihood: bool = False
    average_model: bool = True  # True = lda semantics; False = mpi_lda raw counts
    seed: int = 42
    num_partitions: int | None = None
    # Fault tolerance for long jobs: every ``checkpoint_every`` iterations
    # the assignments (parquet) + driver state (npz) land in
    # ``checkpoint_dir``; ``train(..., resume_from=dir)`` continues there.
    checkpoint_dir: str | None = None
    checkpoint_every: int = 10
    # Model distribution strategy.  "broadcast": driver-held numpy V×K
    # re-broadcast each iteration (the reference's per-rank replica,
    # README.md:125 — right while V·K·8B fits one machine).  "join": the
    # model lives as a DataFrame (word_id, cnts) and each iteration
    # ships ONLY the rows a partition's words need via a word_id
    # equi-join + cogroup — no driver copy, no V×K broadcast, no
    # ceiling (see _train_join).  Join mode implies mpi_lda output
    # semantics (raw final counts, average_model=False — the MPI path
    # does no averaging either, mpi_lda.cc:234-241).
    model_mode: str = "broadcast"
    # Model-rebuild reduce strategy.  "driver": read the P sparse payload
    # rows straight to the driver and sum there (one job, no shuffle —
    # best while P·nnz fits driver bandwidth).  "shuffle": pre-combine
    # payloads with a groupBy(flat_idx).sum so the driver receives at
    # most nnz(V×K) rows no matter how many partitions exist — the
    # tree-reduce analog of the reference's recursive AllReduce
    # (mpi_lda.cc:58-92), one extra shuffle per iteration.  "auto" cuts
    # over at _SHUFFLE_AGG_MIN_PARTITIONS.
    aggregate_mode: str = "auto"
    # model_mode='join' only: HOW model state rides the per-iteration
    # shuffle.  "words": each partition receives only the (word_id,
    # cnts) rows for words its documents contain — a word_id equi-join
    # with the static (pid, word_id) membership table.  Fully general,
    # but when every partition contains (nearly) the whole vocabulary —
    # the common case, since a partition with ≥V tokens of Zipfian text
    # sees almost every word — it degenerates into shipping P full
    # model copies as P·V tiny array rows (measured: the row/sort/Arrow
    # overhead, not the kernel, dominated the iteration).  "chunks":
    # the model is C dense binary chunk rows (chunk c = words
    # [c·W, (c+1)·W) as a flat int64 count block); each partition
    # receives all C chunks via a pid×chunk cross join — the same bytes
    # as "words" in the dense case but ~P·C rows instead of P·V, no
    # join, no pivot, and the rebuild is a per-chunk buffer sum (the
    # closest Spark shape to the reference's chunked AllReduce,
    # mpi_lda.cc:58-92).  "auto" picks chunks when the dense model fits
    # the per-task budget AND partitions are token-rich enough to see
    # most of the vocabulary; words otherwise (giant V·K, where dense
    # per-task state is unaffordable and slicing genuinely prunes).
    join_exchange: str = "auto"
    # 'auto' only: per-iteration WIRE-VOLUME cap for the chunks
    # exchange.  Chunks replicate the dense V·K block to every
    # partition — P·V·K·8 bytes on the shuffle per iteration — while
    # words route each partition only its own word slices; a block that
    # comfortably fits one task (the dense_ok test) can still be a
    # multi-TB per-iteration exchange at P=1000.  'auto' falls back to
    # words once P·V·K·8 exceeds this budget.  8 GiB default: at the
    # single-digit-GiB level a 1000-executor shuffle absorbs the
    # replication cheaply, beyond it the words format's slice routing
    # wins.  Ignored unless join_exchange='auto'.
    join_exchange_budget_bytes: int = 8 << 30

    def validate(self) -> None:
        if self.num_topics < 2:
            raise ValueError("num_topics must be >= 2")
        if self.alpha <= 0 or self.beta <= 0:
            raise ValueError("alpha and beta must be > 0")
        if self.total_iterations <= 0:
            raise ValueError("total_iterations must be > 0")
        if not (0 <= self.burn_in_iterations < self.total_iterations):
            raise ValueError("need 0 <= burn_in_iterations < total_iterations")
        if self.aggregate_mode not in ("auto", "driver", "shuffle"):
            raise ValueError("aggregate_mode must be auto|driver|shuffle")
        if self.model_mode not in ("broadcast", "join"):
            raise ValueError("model_mode must be broadcast|join")
        if self.join_exchange not in ("auto", "words", "chunks"):
            raise ValueError("join_exchange must be auto|words|chunks")
        if self.join_exchange_budget_bytes <= 0:
            raise ValueError("join_exchange_budget_bytes must be > 0")
        if self.model_mode == "join" and self.average_model:
            raise ValueError(
                "model_mode='join' keeps the model distributed and emits "
                "raw final counts (mpi_lda semantics); set average_model=False"
            )


# Auto-partitioning targets (used when TrainConfig.num_partitions is None).
# Each Gibbs iteration is one job whose per-task fixed cost (scheduling,
# Arrow round-trip, Python worker dispatch) is amortized over the tokens in
# the partition — so partitions are sized by token volume, not row count:
#   P = min(parallelism, ceil(tokens / _TOKENS_PER_PARTITION))   # small corpora
#   P = max(P, ceil(tokens / _MAX_TOKENS_PER_PARTITION), 1)      # memory floor
# A sf0.1-sized corpus (~1M tokens) gets 4 partitions instead of 32 (8x less
# fixed overhead per iteration); a 100M-token corpus saturates the cluster;
# the floor bounds per-task occ+z memory (~8 bytes/token) regardless of
# parallelism.  More partitions than cores is never useful here: AD-LDA
# staleness and payload volume both grow with P (lda_paper.pdf §4.1).
_TOKENS_PER_PARTITION = 250_000
_MAX_TOKENS_PER_PARTITION = 64_000_000


def _auto_partitions(total_tokens: int, parallelism: int) -> int:
    p = min(parallelism, -(-total_tokens // _TOKENS_PER_PARTITION) or 1)
    return max(p, -(-total_tokens // _MAX_TOKENS_PER_PARTITION), 1)


@dataclass
class TrainResult:
    model: LDAModel                      # averaged or raw per config.average_model
    raw_model: LDAModel                  # final-iteration raw counts (mpi_lda output)
    log_likelihood: list[float] = field(default_factory=list)  # one per iteration if computed
    # model_mode='join' only: the final model as a ``(word_id,
    # topic_counts: array<double>)`` DataFrame — exactly the frame
    # ``infer.transform_model_df`` consumes, so at true scale feed THIS to
    # model-as-DataFrame inference instead of the driver-side `model`
    # (which is still materialized for API parity).
    model_table: DataFrame | None = None


def _count_payload_row(
    pid: int, acc_flat: np.ndarray, ll_total: float = 0.0
) -> pd.DataFrame:
    """Encode a partition's sparse (word,topic) counts as one synthetic
    row: ``doc_id = -(pid+1)``, ``z`` = interleaved [flat_idx, count, …],
    ``ll`` = the partition's summed pre-sweep log-likelihood.

    This rides the sweep's own output schema, so the per-iteration model
    rebuild reads P tiny payload rows from the checkpoint instead of
    re-decoding every token array in a second Arrow pass — the shuffle-
    free end of the reference's local-count-then-AllReduce
    (mpi_lda.cc:99-110).  Piggybacking the LL partial on the same row
    means a likelihood-enabled iteration still launches exactly ONE
    post-sweep job (the payload read), not a second full-scan agg.
    """
    nz = np.flatnonzero(acc_flat)
    if acc_flat.shape[0] >= 2**31:
        raise RuntimeError("V*K exceeds int32 payload indexing")
    if nz.shape[0] and acc_flat[nz].max() >= 2**31:
        raise RuntimeError("a model count delta exceeds int32 payload range")
    packed = np.empty(2 * nz.shape[0], dtype=np.int32)
    packed[0::2] = nz
    packed[1::2] = acc_flat[nz]
    return pd.DataFrame(
        {
            "doc_id": np.array([-(pid + 1)], dtype=np.int64),
            "word_occ": [b""],
            "z": [packed.tobytes()],
            "ll": np.array([ll_total], dtype=np.float64),
        }
    )


def _zinit_fn(num_topics: int, vocab_size: int, seed: int):
    """Consumes packed ``(doc_id, word_occ: array<int>)``; emits the
    binary-column sweep layout plus this partition's count payload."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        rng = kernel.make_rng(seed, pid, 0)
        acc = np.zeros(vocab_size * num_topics, dtype=np.int64)
        for pdf in batches:
            occs = [np.asarray(o, dtype=np.int32) for o in pdf["word_occ"]]
            zs = [kernel.init_assignments(len(o), num_topics, rng) for o in occs]
            if occs:
                occ_all = (
                    np.concatenate(occs).astype(np.int64)
                    if occs else np.empty(0, np.int64)
                )
                z_all = np.concatenate(zs) if zs else np.empty(0, np.int64)
                if occ_all.shape[0]:
                    acc += np.bincount(
                        occ_all * num_topics + z_all, minlength=acc.shape[0]
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "word_occ": [o.tobytes() for o in occs],
                    "z": [zz.tobytes() for zz in zs],
                    "ll": np.zeros(len(pdf)),
                }
            )
        yield _count_payload_row(pid, acc)

    return fn


def _sweep_fn(bc_nwk, bc_nk, alpha: float, beta: float, seed: int, iteration: int,
              compute_likelihood: bool):
    """mapInPandas sweep: partition-local model copy, sequential Gibbs.

    The local copy is made once per partition and shared across Arrow
    batches, matching the reference's per-rank replica; the pre-sweep
    log-likelihood (lda.cc:128-136 computes LL before the sweep) is
    emitted per doc in the ``ll`` column.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        rng = kernel.make_rng(seed, pid, iteration + 1)
        local_nwk = None
        local_nk = None
        acc = None
        ll_total = 0.0
        for pdf in batches:
            if local_nwk is None:
                local_nwk = bc_nwk.value.copy()
                local_nk = bc_nk.value.copy()
                acc = np.zeros(local_nwk.size, dtype=np.int64)
            # Binary columns: one frombuffer over the batch-concatenated
            # bytes (no per-row ndarray materialization).
            lens = (pdf["word_occ"].map(len).to_numpy() // 4).astype(np.int64)
            offsets = np.zeros(len(pdf) + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            word_occ = np.frombuffer(
                b"".join(pdf["word_occ"]), dtype=np.int32
            ).copy() if len(pdf) else np.empty(0, np.int32)
            z = np.frombuffer(
                b"".join(pdf["z"]), dtype=np.int32
            ).copy() if len(pdf) else np.empty(0, np.int32)
            lls = np.zeros(len(pdf))
            if compute_likelihood:
                K = local_nk.shape[0]
                for d in range(len(pdf)):
                    s, e = offsets[d], offsets[d + 1]
                    ndk = np.bincount(z[s:e], minlength=K).astype(np.float64)
                    uw, cnt = np.unique(word_occ[s:e], return_counts=True)
                    lls[d] = kernel.doc_log_likelihood(
                        uw, cnt.astype(np.float64), ndk, local_nwk, local_nk, alpha, beta
                    )
                ll_total += float(lls.sum())
            kernel.sweep_docs(
                word_occ, z, offsets, local_nwk, local_nk, alpha, beta, rng,
                update_model=True,
            )
            if word_occ.shape[0]:
                K = local_nk.shape[0]
                acc += np.bincount(
                    word_occ.astype(np.int64) * K + z, minlength=acc.shape[0]
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "word_occ": pdf["word_occ"],
                    "z": [
                        z[offsets[d]:offsets[d + 1]].tobytes()
                        for d in range(len(pdf))
                    ],
                    "ll": lls,
                }
            )
        if acc is None:  # empty partition still reports (zero) counts
            acc = np.zeros(bc_nwk.value.size, dtype=np.int64)
        yield _count_payload_row(pid, acc, ll_total)

    return fn


# "auto" aggregate_mode switches from driver-side payload summing to the
# shuffle pre-combine at this partition count: below it, one collect of
# P sparse rows beats an extra shuffle; above it, driver bandwidth
# (P·nnz ints) becomes the bottleneck the pre-combine removes.
_SHUFFLE_AGG_MIN_PARTITIONS = 256


def _aggregate_model_shuffle(
    df_z: DataFrame, vocab_size: int, num_topics: int
) -> tuple[np.ndarray, float]:
    """Shuffle-combined model rebuild: decode each payload row into
    (flat_idx, count) pairs executor-side, groupBy(flat_idx).sum (map-side
    combined), and collect at most nnz(V×K) summed rows — driver traffic
    independent of partition count, the tree end of the reference's
    chunked AllReduce (mpi_lda.cc:58-92)."""
    import pandas as pd

    payload = df_z.where(F.col("doc_id") < 0).select("z", "ll")

    def decode(batches):
        for pdf in batches:
            for buf, ll_part in zip(pdf["z"], pdf["ll"]):
                a = np.frombuffer(buf, dtype=np.int32)
                n = a.shape[0] // 2
                yield pd.DataFrame(
                    {
                        "idx": a[0::2].astype(np.int64),
                        "cnt": a[1::2].astype(np.int64),
                        # the LL partial rides the FIRST pair row of its
                        # payload (zero elsewhere), so one aggregation
                        # job returns counts AND likelihood — no second
                        # per-iteration job when likelihood is on, and
                        # none at all when it is off.
                        "ll": np.concatenate(
                            ([float(ll_part)], np.zeros(max(n - 1, 0)))
                        )
                        if n
                        else np.empty(0),
                    }
                )

    pairs = payload.mapInPandas(decode, schema="idx long, cnt long, ll double")
    summed = pairs.groupBy("idx").agg(
        F.sum("cnt").alias("cnt"), F.sum("ll").alias("ll")
    ).toPandas()
    flat = np.zeros(vocab_size * num_topics, dtype=np.int64)
    if len(summed):
        flat[summed["idx"].to_numpy()] = summed["cnt"].to_numpy()
    ll = float(summed["ll"].sum()) if len(summed) else 0.0
    return flat.reshape(vocab_size, num_topics), ll


def _aggregate_model(
    df_z: DataFrame, vocab_size: int, num_topics: int
) -> tuple[np.ndarray, float]:
    """Rebuild n_wk from the per-partition count payloads emitted by the
    z-init / sweep passes — the reduce end of the reference's AllReduce
    (mpi_lda.cc:58-110).  Reads P payload rows from the checkpoint (no
    token-array re-decode, no shuffle) and sums the sparse partials
    driver-side; driver traffic is ≤ P·nnz(V×K) ints, the same volume
    the reference's rank-0 receives per AllReduce.  Returns
    ``(n_wk, corpus_ll)`` — the LL partial rides the same rows, so the
    whole reduce is one job.  Payloads are summed in pid order for a
    deterministic float result."""
    pdf = (
        df_z.where(F.col("doc_id") < 0)
        .select("doc_id", "z", "ll")
        .toPandas()
        .sort_values("doc_id", ascending=False)
    )
    flat = np.zeros(vocab_size * num_topics, dtype=np.int64)
    for buf in pdf["z"]:
        a = np.frombuffer(buf, dtype=np.int32).astype(np.int64)
        flat[a[0::2]] += a[1::2]
    return flat.reshape(vocab_size, num_topics), float(pdf["ll"].sum())


def _save_checkpoint(df_z: DataFrame, path: str, it: int, nwk, accum, lls, words) -> None:
    df_z.write.mode("overwrite").parquet(f"{path}/assignments")
    np.savez(
        f"{path}/state.npz",
        next_iteration=it + 1,
        nwk=nwk,
        accum=accum,
        lls=np.asarray(lls, dtype=np.float64),
        words=np.asarray(words, dtype=object),
    )


# ---------------------------------------------------------------------------
# model_mode="join": model-as-DataFrame AD-LDA (no V·K broadcast, no driver
# copy).  The broadcast path is the reference's design (model replicated per
# rank, README.md:125) and its ceiling is the reference's own documented
# ceiling; this path removes it for vocabularies/topic-counts whose V·K·8B
# exceeds a single machine:
#
#   - the model is a DataFrame ``(word_id, cnts: array<long>)`` (V rows);
#   - per iteration each logical partition receives ONLY the model rows for
#     words its documents contain — a word_id equi-join of the (static)
#     ``(pid, word_id)`` membership table with the model, cogrouped with the
#     assignments by ``pid``; shipped volume is Σ_w K·|partitions(w)| ≤ P·V·K
#     but concentrated near nnz for the rare-word mass, and it flows through
#     a SHUFFLE (scales with the cluster), not a driver broadcast;
#   - the sweep remaps the partition's word ids into a dense local sub-model
#     (searchsorted), runs the identical kernel with the true-V smoothing
#     override, and emits sparse global (word,topic) deltas as payload rows;
#   - the rebuild is a distributed groupBy(word,topic) + pivot back to the
#     (word_id, cnts) table — the driver never holds or ships V·K numbers;
#     only the K-vector n_k (the reference's global vector) is collected.
#
# That word-sliced wire format (join_exchange='words') is the general
# case.  When every partition contains (nearly) the whole vocabulary —
# which a partition holding ≥V tokens of Zipfian text almost always does
# — the slice join ships P near-full model copies as P·V tiny array
# rows, and profiling showed the row/sort/Arrow machinery (not the
# kernel, ~0.2 s of a ~10 s iteration) dominating.  join_exchange=
# 'chunks' (the 'auto' pick in that regime) moves the same bytes as C
# dense binary chunk rows via a pid×chunk cross join and reduces the
# rebuild to a per-chunk buffer sum — measured ~2× faster per iteration
# at NYTimes scale with bit-identical output (see TrainConfig and
# BENCH_LDA_SCALE.json).
#
# Partition identity is the LOGICAL pid = pmod(hash(doc_id), P) carried as a
# column, so RNG streams (seed, pid, iteration) are independent of physical
# scheduling.  Output is mpi_lda semantics (raw final counts, no averaging).
# ---------------------------------------------------------------------------

_JOIN_SWEEP_SCHEMA = "pid int, doc_id long, word_occ binary, z binary, ll double"


def _fresh_stats(df: DataFrame) -> DataFrame:
    """Re-wrap a (lazily) localCheckpointed frame as a fresh scan of the
    same RDD with DEFAULT leaf statistics.

    Spark 4's ``Dataset.checkpoint`` copies the child plan's *estimated*
    statistics onto the checkpoint's LogicalRDD
    (``LogicalRDD.rewriteStatsAndConstraints``).  Join-mode's
    per-iteration plan MULTIPLIES child sizes (cogroup × equi-join both
    use the product-of-children default estimator), so the inherited
    ``sizeInBytes`` compounds double-exponentially across iterations —
    by ~iteration 10 every plan-stats query is multiplying million-digit
    BigIntegers and the driver spins forever in
    ``BigInteger.multiplyToomCook3`` (observed via jstack).  The
    broadcast path never hits this because its per-iteration plan is a
    unary chain.  Scanning the same checkpointed RDD through
    ``internalCreateDataFrame`` resets the leaf to
    ``defaultSizeInBytes``, keeping every iteration's stats O(1); the
    returned frame shares the checkpoint blocks (unpersist the ORIGINAL
    handle, not this one)."""
    spark = df.sparkSession
    jdf = df._jdf
    jrdd = jdf.queryExecution().toRdd()
    new_jdf = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
    return DataFrame(new_jdf, spark)


def _join_payload_row(pid: int, local_words: np.ndarray, acc_local: np.ndarray,
                      K: int, ll_total: float = 0.0) -> pd.DataFrame:
    """Sparse LOCAL counts → one payload row of global flat (word·K+topic)
    pairs (same wire format as the broadcast path's payload rows)."""
    nz = np.flatnonzero(acc_local)
    gword = local_words[nz // K].astype(np.int64)
    gidx = gword * K + (nz % K)
    packed = np.empty(2 * nz.shape[0], dtype=np.int64)
    packed[0::2] = gidx
    packed[1::2] = acc_local[nz]
    return pd.DataFrame(
        {
            "pid": np.array([pid], dtype=np.int32),
            "doc_id": np.array([-(pid + 1)], dtype=np.int64),
            "word_occ": [b""],
            "z": [packed.astype(np.int64).tobytes()],
            "ll": np.array([ll_total], dtype=np.float64),
        }
    )


# Shared doc-side mechanics for BOTH join-mode wire formats.  The two
# exchanges are bit-identical precisely because these blocks are the
# SAME code: same doc sort, same RNG consumption order, same unpack
# math, same LL loop, same kernel call.  Only the model representation
# (sparse local slice vs dense global block) differs, and each sweep fn
# contributes exactly that part.


def _zinit_docs(pdf: pd.DataFrame, num_topics: int, seed: int):
    """Sorted docs + per-occurrence initial assignments + the doc output
    frame.  Returns (pid, occ_all, z_all, out_frame)."""
    pid = int(pdf["pid"].iloc[0])
    pdf = pdf.sort_values("doc_id")
    rng = kernel.make_rng(seed, pid, 0)
    occs = [np.asarray(o, dtype=np.int32) for o in pdf["word_occ"]]
    zs = [kernel.init_assignments(len(o), num_topics, rng) for o in occs]
    occ_all = np.concatenate(occs) if occs else np.empty(0, np.int32)
    z_all = np.concatenate(zs) if zs else np.empty(0, np.int32)
    out = pd.DataFrame(
        {
            "pid": np.full(len(pdf), pid, dtype=np.int32),
            "doc_id": pdf["doc_id"].to_numpy(),
            "word_occ": [o.tobytes() for o in occs],
            "z": [zz.tobytes() for zz in zs],
            "ll": np.zeros(len(pdf)),
        }
    )
    return pid, occ_all, z_all, out


def _unpack_docs(docs: pd.DataFrame):
    """Binary doc rows → (offsets, word_occ, z) flat int32 arrays."""
    lens = (docs["word_occ"].map(len).to_numpy() // 4).astype(np.int64)
    offsets = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    word_occ = (
        np.frombuffer(b"".join(docs["word_occ"]), dtype=np.int32).copy()
        if len(docs) else np.empty(0, np.int32)
    )
    z = (
        np.frombuffer(b"".join(docs["z"]), dtype=np.int32).copy()
        if len(docs) else np.empty(0, np.int32)
    )
    return offsets, word_occ, z


def _ll_sweep_docs(pid, docs, offsets, occ_idx, z, nwk, nk, alpha, beta, rng,
                   vocab_size, compute_likelihood):
    """Pre-sweep LL loop + the Gibbs sweep + the doc output frame.
    ``occ_idx`` indexes ``nwk`` rows — partition-local ids in the words
    exchange, global word ids in the chunks exchange; the sampled values
    are identical either way.  Returns (out_frame, ll_total)."""
    K = nk.shape[0]
    lls = np.zeros(len(docs))
    ll_total = 0.0
    if compute_likelihood:
        for d in range(len(docs)):
            s, e = offsets[d], offsets[d + 1]
            ndk = np.bincount(z[s:e], minlength=K).astype(np.float64)
            uw, cnt = np.unique(occ_idx[s:e], return_counts=True)
            lls[d] = kernel.doc_log_likelihood(
                uw, cnt.astype(np.float64), ndk, nwk, nk, alpha, beta,
                vocab_size=vocab_size,
            )
        ll_total = float(lls.sum())

    kernel.sweep_docs(
        occ_idx, z, offsets, nwk, nk, alpha, beta, rng,
        update_model=True, vocab_size=vocab_size,
    )
    out = pd.DataFrame(
        {
            "pid": np.full(len(docs), pid, dtype=np.int32),
            "doc_id": docs["doc_id"].to_numpy(),
            "word_occ": docs["word_occ"],
            "z": [z[offsets[d]:offsets[d + 1]].tobytes() for d in range(len(docs))],
            "ll": lls,
        }
    )
    return out, ll_total


def _join_zinit_fn(num_topics: int, seed: int):
    """applyInPandas per-pid z-init: packed arrays → binary layout +
    payload row of this pid's initial counts (global indices)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pid, occ_all, z_all, out = _zinit_docs(pdf, num_topics, seed)
        local_words = np.unique(occ_all.astype(np.int64))
        acc = np.zeros(local_words.shape[0] * num_topics, dtype=np.int64)
        if occ_all.shape[0]:
            loc = np.searchsorted(local_words, occ_all.astype(np.int64))
            np.add.at(acc, loc * num_topics + z_all, 1)
        return pd.concat(
            [out, _join_payload_row(pid, local_words, acc, num_topics)],
            ignore_index=True,
        )

    return fn


def _join_sweep_fn(nk_global: list[int], vocab_size: int, alpha: float, beta: float,
                   seed: int, iteration: int, compute_likelihood: bool):
    """Cogrouped sweep: (docs for pid) × (model rows for pid's words)."""
    K = len(nk_global)

    def fn(key, docs: pd.DataFrame, model: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        rng = kernel.make_rng(seed, pid, iteration + 1)
        docs = docs.sort_values("doc_id")
        order = np.argsort(model["word_id"].to_numpy())
        local_words = model["word_id"].to_numpy()[order].astype(np.int64)
        local_nwk = (
            np.stack([np.asarray(c, dtype=np.int64) for c in model["cnts"].to_numpy()[order]])
            if len(model)
            else np.zeros((0, K), dtype=np.int64)
        )
        nk = np.asarray(nk_global, dtype=np.int64)

        offsets, word_occ, z = _unpack_docs(docs)
        loc_occ = np.searchsorted(local_words, word_occ.astype(np.int64)).astype(np.int32)
        # Invariant: every word occurring in this partition has a model
        # row in the slice.  Checked with a real raise (not assert — that
        # vanishes under ``python -O``), and searchsorted can return
        # len(local_words) for past-the-end words, so bounds-check before
        # fancy-indexing or the error surfaces as an opaque IndexError.
        if loc_occ.shape[0]:
            in_range = loc_occ < len(local_words)
            ok = in_range.copy()
            ok[in_range] = local_words[loc_occ[in_range]] == word_occ[in_range]
            if not ok.all():
                missing = np.unique(word_occ[~ok])[:20]
                raise RuntimeError(
                    "partition word(s) missing from model slice: "
                    f"{missing.tolist()}"
                )

        out, ll_total = _ll_sweep_docs(
            pid, docs, offsets, loc_occ, z, local_nwk, nk, alpha, beta, rng,
            vocab_size, compute_likelihood,
        )
        acc = np.zeros(local_words.shape[0] * K, dtype=np.int64)
        if loc_occ.shape[0]:
            np.add.at(acc, loc_occ.astype(np.int64) * K + z, 1)
        return pd.concat(
            [out, _join_payload_row(pid, local_words, acc, K, ll_total)],
            ignore_index=True,
        )

    return fn


def _join_model_df(df_z: DataFrame, num_topics: int) -> DataFrame:
    """Payload rows → the ``(word_id, cnts: array<long>)`` model table.

    Distributed end-to-end: decode each payload's int64 (idx, cnt) pairs
    executor-side, sum by (word, topic) (map-side combined), pivot the K
    known topics into a dense array.  The driver touches nothing."""
    K = num_topics

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for buf in pdf["z"]:
                a = np.frombuffer(buf, dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "word_id": a[0::2] // K,
                        "topic": (a[0::2] % K).astype(np.int32),
                        "cnt": a[1::2],
                    }
                )

    pairs = (
        df_z.where(F.col("doc_id") < 0)
        .select("z")
        .mapInPandas(decode, schema="word_id long, topic int, cnt long")
    )
    pivoted = (
        pairs.groupBy("word_id")
        .pivot("topic", list(range(K)))
        .agg(F.sum("cnt"))
    )
    return pivoted.select(
        "word_id",
        F.array(
            *[F.coalesce(F.col(str(t)), F.lit(0)).cast("long") for t in range(K)]
        ).alias("cnts"),
    )


# --- join_exchange='chunks': dense binary chunk model exchange ----------
# The model is C rows (chunk_id, cnts: binary), chunk c = the flat int64
# count block for words [c·W, min(V,(c+1)·W)).  Per iteration each pid
# receives all C chunks (pid×chunk cross join, the broadcast side being
# the P-row pid table — the model itself NEVER rides a driver broadcast),
# and emits its local counts back as per-chunk binary delta rows that a
# per-chunk buffer sum reduces into the next model.  Identical kernel,
# identical RNG streams — bit-identical output to join_exchange='words'
# (pinned in tests).

_CHUNK_TARGET_BYTES = 4 << 20     # aim ~4 MB per chunk row
# 'auto' per-task memory budget for the chunks exchange.  A chunk-mode
# task holds ~3 dense V·K copies at peak (the assembled nwk, the local
# acc, and the received chunk / emitted delta byte buffers), so the
# V·K·8 block itself is budgeted at a third of the allowance
# (384 MB/task → dense blocks up to 128 MB qualify).
_CHUNK_TASK_BUDGET_BYTES = 384 << 20
_CHUNK_DENSE_COPIES = 3


def _chunk_grid(vocab_size: int, num_topics: int, parallelism: int) -> tuple[int, int]:
    """(C, W): chunk count and width.  C ≥ parallelism so the rebuild's
    per-chunk sum saturates the cluster; chunks shrink toward
    _CHUNK_TARGET_BYTES as V·K grows."""
    nbytes = vocab_size * num_topics * 8
    c = max(parallelism, -(-nbytes // _CHUNK_TARGET_BYTES), 1)
    c = min(c, vocab_size)
    w = -(-vocab_size // c)
    return -(-vocab_size // w), w


def _chunk_delta_rows(pid: int, acc_flat: np.ndarray, num_topics: int,
                      chunk_width: int, ll_total: float = 0.0) -> pd.DataFrame:
    """Dense local counts → one binary row per NONZERO chunk:
    ``doc_id = -(chunk_id+1)``, ``z`` = the chunk's flat int64 block.
    The partition's LL partial rides the first emitted row."""
    K, W = num_topics, chunk_width
    acc2 = acc_flat.reshape(-1, K)
    V = acc2.shape[0]
    chunks, bufs = [], []
    for c in range(-(-V // W)):
        block = acc2[c * W : (c + 1) * W]
        if block.any():
            chunks.append(c)
            bufs.append(np.ascontiguousarray(block, dtype=np.int64).tobytes())
    lls = np.zeros(len(chunks))
    if len(lls):
        lls[0] = ll_total
    return pd.DataFrame(
        {
            "pid": np.full(len(chunks), pid, dtype=np.int32),
            "doc_id": np.array([-(c + 1) for c in chunks], dtype=np.int64),
            "word_occ": [b""] * len(chunks),
            "z": bufs,
            "ll": lls,
        }
    )


def _chunk_zinit_fn(num_topics: int, seed: int, vocab_size: int, chunk_width: int):
    """applyInPandas per-pid z-init, chunk wire format."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pid, occ_all, z_all, out = _zinit_docs(pdf, num_topics, seed)
        acc = np.zeros(vocab_size * num_topics, dtype=np.int64)
        if occ_all.shape[0]:
            np.add.at(acc, occ_all.astype(np.int64) * num_topics + z_all, 1)
        return pd.concat(
            [out, _chunk_delta_rows(pid, acc, num_topics, chunk_width)],
            ignore_index=True,
        )

    return fn


def _chunk_sweep_fn(nk_global: list[int], vocab_size: int, alpha: float, beta: float,
                    seed: int, iteration: int, compute_likelihood: bool,
                    chunk_width: int):
    """Cogrouped sweep, chunk wire format: (docs for pid) × (all model
    chunks).  The kernel input is the FULL dense n_wk, so word ids need
    no local remap (occ_idx = global id) — everything else is the SAME
    code as the words-mode sweep (shared helpers), which makes the two
    modes bit-identical."""
    K, W = len(nk_global), chunk_width

    def fn(key, docs: pd.DataFrame, model: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        rng = kernel.make_rng(seed, pid, iteration + 1)
        docs = docs.sort_values("doc_id")
        nwk = np.zeros((vocab_size, K), dtype=np.int64)
        for cid, buf in zip(model["chunk_id"], model["cnts"]):
            block = np.frombuffer(buf, dtype=np.int64).reshape(-1, K)
            nwk[cid * W : cid * W + block.shape[0]] = block
        nk = np.asarray(nk_global, dtype=np.int64)

        offsets, word_occ, z = _unpack_docs(docs)
        # Invariant (the chunks counterpart of the words-mode slice
        # guard): every word occurring here was counted at init, so its
        # model row must be nonzero.  A zero row means a chunk went
        # missing (lost/partial checkpoint, pid-geometry mismatch) and
        # sweeping against it would drive counts negative and corrupt
        # the model SILENTLY — raise instead (a real raise, not assert).
        if word_occ.shape[0]:
            present = np.unique(word_occ.astype(np.int64))
            covered = nwk[present].sum(axis=1) > 0
            if not covered.all():
                missing = present[~covered][:20]
                raise RuntimeError(
                    "partition word(s) have empty model chunks: "
                    f"{missing.tolist()}"
                )

        out, ll_total = _ll_sweep_docs(
            pid, docs, offsets, word_occ, z, nwk, nk, alpha, beta, rng,
            vocab_size, compute_likelihood,
        )
        acc = np.zeros(vocab_size * K, dtype=np.int64)
        if word_occ.shape[0]:
            np.add.at(acc, word_occ.astype(np.int64) * K + z, 1)
        return pd.concat(
            [out, _chunk_delta_rows(pid, acc, K, W, ll_total)],
            ignore_index=True,
        )

    return fn


def _chunk_model_df(df_z: DataFrame, num_topics: int) -> DataFrame:
    """Per-pid chunk delta rows → the (chunk_id, cnts, tsum) model
    table: one buffer sum per chunk (groups are ≤P rows of one chunk's
    block).  ``tsum`` is the chunk's K-vector of per-topic totals,
    computed here while the summed block is already in hand, so the
    per-iteration n_k read (:func:`_chunk_nk`) is a narrow C-row
    collect instead of a re-decode + shuffle of the count blocks."""
    K = num_topics

    def sum_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cid = -int(key[0]) - 1
        bufs = [np.frombuffer(b, dtype=np.int64) for b in pdf["z"]]
        width = max(b.shape[0] for b in bufs)
        total = np.zeros(width, dtype=np.int64)
        for b in bufs:
            total[: b.shape[0]] += b
        tsum = total.reshape(-1, K).sum(axis=0)
        return pd.DataFrame(
            {
                "chunk_id": [cid],
                "cnts": [total.tobytes()],
                "tsum": [tsum.tobytes()],
            }
        )

    return (
        df_z.where(F.col("doc_id") < 0)
        .select("doc_id", "z")
        .groupBy("doc_id")
        .applyInPandas(sum_fn, schema="chunk_id int, cnts binary, tsum binary")
    )


def _chunk_nk(model_chunks: DataFrame, num_topics: int) -> list[int]:
    """The global K-vector: the C pre-summed ``tsum`` rows (K longs
    each) collected and added on the driver — one narrow job over the
    checkpointed chunk table, no shuffle."""
    nk = np.zeros(num_topics, dtype=np.int64)
    for r in model_chunks.select("tsum").collect():
        nk += np.frombuffer(r["tsum"], dtype=np.int64)
    return [int(x) for x in nk]


def _chunk_rows_df(model_chunks: DataFrame, num_topics: int, chunk_width: int) -> DataFrame:
    """Chunk table → (word_id, cnts: array<long>) rows (the words-mode /
    model_table shape), decoded executor-side."""
    K, W = num_topics, chunk_width

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for cid, buf in zip(pdf["chunk_id"], pdf["cnts"]):
                block = np.frombuffer(buf, dtype=np.int64).reshape(-1, K)
                yield pd.DataFrame(
                    {
                        "word_id": cid * W + np.arange(block.shape[0], dtype=np.int64),
                        "cnts": list(block),
                    }
                )

    return model_chunks.mapInPandas(decode, schema="word_id long, cnts array<long>")


def _save_join_checkpoint(
    path: str, df_z: DataFrame, word_pid: DataFrame | None, it: int, lls, words,
    exchange: str, chunk_width: int, num_partitions: int,
) -> None:
    """Join-mode fault-tolerance state: the assignments (parquet), the
    static word-membership table (parquet; words exchange only), and
    driver metadata (npz — including the exchange mode, chunk grid, and
    partition count, so a resumed run always continues in the geometry
    it started with: assignment rows carry pids baked from the original
    P, and a resume-time P from a different machine/config would
    otherwise leave pids ≥ P without model chunks).  The model table is
    NOT saved — it is a pure function of the assignment payload rows
    and is rebuilt on resume."""
    df_z.write.mode("overwrite").parquet(f"{path}/assignments")
    if word_pid is not None:
        word_pid.write.mode("overwrite").parquet(f"{path}/word_pid")
    np.savez(
        f"{path}/join_state.npz",
        next_iteration=it + 1,
        lls=np.asarray(lls, dtype=np.float64),
        words=np.asarray(words, dtype=object),
        exchange=exchange,
        chunk_width=chunk_width,
        num_partitions=num_partitions,
    )


def _resolve_join_exchange(config: TrainConfig, vocab_size: int,
                           total_tokens: int, num_partitions: int) -> str:
    """'auto' picks chunks when (a) the dense V·K block fits the
    per-task budget, (b) partitions average ≥V tokens — the regime
    where word-slicing degenerates into shipping near-full model copies
    row by row — and (c) the per-iteration replication volume P·V·K·8
    stays inside ``config.join_exchange_budget_bytes`` (chunks ship the
    whole model to EVERY partition each iteration; a block that fits
    one task is still a multi-TB exchange at P=1000).  Words otherwise
    (see TrainConfig.join_exchange)."""
    if config.join_exchange != "auto":
        return config.join_exchange
    nbytes = vocab_size * config.num_topics * 8
    dense_ok = nbytes * _CHUNK_DENSE_COPIES <= _CHUNK_TASK_BUDGET_BYTES
    token_rich = total_tokens >= vocab_size * num_partitions
    volume_ok = nbytes * num_partitions <= config.join_exchange_budget_bytes
    return "chunks" if (dense_ok and token_rich and volume_ok) else "words"


def _train_join(
    corpus: DataFrame, config: TrainConfig, resume_from: str | None = None,
    total_tokens: int | None = None,
) -> TrainResult:
    """model_mode='join' driver loop — see the block comment above."""
    spark = corpus.sparkSession
    sc = spark.sparkContext
    if config.num_partitions:
        P = config.num_partitions
    else:
        if total_tokens is None:
            total_tokens = int(corpus.agg(F.sum("count")).collect()[0][0] or 0)
        P = _auto_partitions(total_tokens, sc.defaultParallelism)

    chunk_w = 0  # chunks exchange only; saved in checkpoints
    if resume_from is None:
        # The sorted word list is collected to the driver regardless
        # (API parity + checkpoint metadata), and word_id is BY
        # CONTRACT the lexicographic rank — so collect the sorted
        # distinct words directly and rebuild the (word, word_id)
        # frame from the driver list (round 12): one distributed
        # distinct+sort job instead of the build_vocab plan running
        # once for this collect and AGAIN inside every consumer of the
        # remap join.  The vocab is broadcast by remap_words either
        # way, so the driver list is within the existing memory
        # envelope; ids are identical (enumerate == rank).
        words = [
            r["word"]
            for r in corpus.select("word").distinct().orderBy("word").collect()
        ]
        V, K = len(words), config.num_topics
        if V == 0:
            raise ValueError("empty vocabulary")
        vocab = vocab_frame(spark, words)
        if total_tokens is None and config.join_exchange == "auto":
            total_tokens = int(corpus.agg(F.sum("count")).collect()[0][0] or 0)
        exch = _resolve_join_exchange(config, V, total_tokens or 0, P)

        pid = F.pmod(F.hash("doc_id"), F.lit(P)).cast("int")
        corpus_ids = remap_words(corpus, vocab).select("doc_id", "word_id", "count")
        packed = pack_docs(corpus_ids, P).withColumn("pid", pid)
        if exch == "words":
            # Static word-membership table: which partitions contain which words.
            # Docs never move between pids, so this is built once and reused every
            # iteration (≤ P·V slim rows; in practice near the corpus's distinct
            # (doc-hash, word) mass).
            # Pre-partitioned by word_id and PERSISTED (not localCheckpoint:
            # a checkpoint's Scan ExistingRDD reports UnknownPartitioning,
            # so the per-iteration slice join would re-exchange this table —
            # the LARGEST relation in that join — every iteration; an
            # InMemoryRelation keeps the hash partitioning, so the join
            # reuses it, plan-verified).  At local bench scale AQE simply
            # broadcasts the cached table instead — also exchange-free.
            word_pid = (
                corpus_ids.select(pid.alias("pid"), "word_id")
                .distinct()
                .repartition("word_id")
                .persist()
            )
            word_pid.count()  # materialize once, before the iteration loop
            zinit = _join_zinit_fn(K, config.seed)
        else:
            word_pid = None
            _, chunk_w = _chunk_grid(V, K, sc.defaultParallelism)
            zinit = _chunk_zinit_fn(K, config.seed, V, chunk_w)

        z_ckpt = (
            packed.select("pid", "doc_id", "word_occ")
            .groupBy("pid")
            .applyInPandas(zinit, schema=_JOIN_SWEEP_SCHEMA)
            .localCheckpoint(eager=False)
        )
        df_z = _fresh_stats(z_ckpt)
        lls: list[float] = []
        start_it = 0
    else:
        state = np.load(f"{resume_from}/join_state.npz", allow_pickle=True)
        words = [str(w) for w in state["words"]]
        V, K = len(words), config.num_topics
        lls = [float(x) for x in state["lls"]]
        start_it = int(state["next_iteration"])
        # The checkpoint's exchange geometry wins over config — a chain
        # must continue in the wire format AND partition count it
        # started with: assignment rows carry pids baked from the
        # original P, so a resume-time P (different machine, changed
        # num_partitions) would leave pids ≥ P without model chunks.
        # (Older checkpoints predate these fields and are
        # words-exchange; their pid geometry rides in word_pid.)
        exch = str(state["exchange"]) if "exchange" in state.files else "words"
        if "num_partitions" in state.files:
            P = int(state["num_partitions"])
        if exch == "words":
            word_pid = (
                spark.read.parquet(f"{resume_from}/word_pid")
                .repartition("word_id")  # same join-side partitioning as a fresh run
                .persist()
            )
            word_pid.count()
        else:
            word_pid = None
            chunk_w = int(state["chunk_width"])
        z_ckpt = spark.read.parquet(f"{resume_from}/assignments").localCheckpoint(
            eager=True
        )
        df_z = z_ckpt
    _model_of = _join_model_df if exch == "words" else _chunk_model_df
    # LAZY model checkpoint (the graph_hits lesson, round 12): the
    # per-iteration n_k read below is a full pass over the model table,
    # so it is the materializing action — ONE job per iteration now
    # runs sweep → persist z blocks → model rebuild → persist model
    # blocks → n_k collect, where the eager checkpoint previously split
    # that into a materialization job plus a separate n_k job.  Values
    # are unchanged (same kernel, same RNG streams, same payload
    # decode); only the job boundary moves — broadcast≡join≡chunks
    # bit-parity re-proven in tests/test_train.py after this change.
    m_ckpt = _model_of(df_z, K).localCheckpoint(eager=False)
    model_df = _fresh_stats(m_ckpt)
    # chunks exchange: every pid receives every chunk — a cross join
    # whose BROADCAST side is the P-row pid table, so the model itself
    # only ever rides the shuffle.
    pids_df = spark.range(P).select(F.col("id").cast("int").alias("pid"))
    # Generation awaiting release: with a lazy model checkpoint the
    # sweep that CONSUMES generation g's blocks only runs inside
    # generation g+1's first action (the n_k collect), so g may not be
    # unpersisted at the bottom of its own iteration — it is parked
    # here and released right after the next action completes.
    pending: list = []

    for it in range(start_it, config.total_iterations):
        # n_k (the reference's global K-vector, model.cc:147-151): K numbers
        # — the ONLY model state that touches the driver per iteration.
        # This collect is ALSO the action that materializes the lazily
        # checkpointed (z, model) generation built last iteration.
        if exch == "words":
            nk_rows = (
                model_df.select(F.posexplode("cnts").alias("t", "c"))
                .groupBy("t")
                .agg(F.sum("c").alias("c"))
                .collect()
            )
            nk_global = [0] * K
            for r in nk_rows:
                nk_global[r["t"]] = int(r["c"])
            slices = word_pid.join(model_df, "word_id").select("pid", "word_id", "cnts")
            sweep_fn = _join_sweep_fn(
                nk_global, V, config.alpha, config.beta, config.seed, it,
                config.compute_likelihood,
            )
        else:
            nk_global = _chunk_nk(model_df, K)
            slices = F.broadcast(pids_df).crossJoin(model_df.select("chunk_id", "cnts"))
            sweep_fn = _chunk_sweep_fn(
                nk_global, V, config.alpha, config.beta, config.seed, it,
                config.compute_likelihood, chunk_w,
            )
        # The n_k action above materialized this iteration's inputs, so
        # the generation parked last iteration is no longer referenced.
        for h in pending:
            h.unpersist()
        pending = []
        if it == start_it:
            # first action of the loop also materialized z-init — the
            # corpus triples' setup checkpoint has no readers left
            # (no-op on resume, where the corpus was never persisted)
            corpus.unpersist()
        swept = (
            df_z.where(F.col("doc_id") >= 0)
            .groupby("pid")
            .cogroup(slices.groupby("pid"))
            .applyInPandas(sweep_fn, schema=_JOIN_SWEEP_SCHEMA)
        )
        new_z_ckpt = swept.localCheckpoint(eager=False)
        # No _fresh_stats on df_z: keeping the checkpoint's own plan
        # preserves whatever output partitioning/ordering metadata the
        # checkpoint captured from the cogroup (measured ~6% faster per
        # run at sf0.1 than rebasing both frames).  Its inherited stats
        # grow only LINEARLY in digit count per iteration (each
        # iteration multiplies by the bounded slices product — ~+40
        # digits, harmless); only the model's rebase below is needed to
        # break the exponential squaring (the model would otherwise
        # inherit the corpus product and feed it back in).
        new_df_z = new_z_ckpt
        # Lazy model build: no job is launched here — the NEXT
        # iteration's n_k collect (or the final model read) runs sweep,
        # z persistence, model rebuild, and model persistence as one
        # job.  The old generation's blocks are exactly what that job
        # reads, so they are parked in `pending`, not unpersisted.
        new_m_ckpt = _model_of(new_df_z, K).localCheckpoint(eager=False)
        new_model_df = _fresh_stats(new_m_ckpt)
        if config.compute_likelihood:
            ll = (
                new_df_z.where(F.col("doc_id") < 0).agg(F.sum("ll")).collect()[0][0]
                or 0.0
            )
            lls.append(float(ll))
        pending = [z_ckpt, m_ckpt]
        z_ckpt, m_ckpt = new_z_ckpt, new_m_ckpt
        df_z, model_df = new_df_z, new_model_df
        if config.checkpoint_dir and (it + 1) % config.checkpoint_every == 0:
            _save_join_checkpoint(
                config.checkpoint_dir, df_z, word_pid, it, lls, words,
                exch, chunk_w, P,
            )

    # Driver materialization for API parity (tests, describe_topics, serde).
    # At true scale, use `model_table` + model-as-DataFrame inference and
    # skip this collect.
    model_rows = (
        model_df if exch == "words" else _chunk_rows_df(model_df, K, chunk_w)
    )
    mpdf = model_rows.toPandas()
    nwk = np.zeros((V, K), dtype=np.int64)
    if len(mpdf):
        nwk[mpdf["word_id"].to_numpy().astype(np.int64)] = np.stack(
            [np.asarray(c, dtype=np.int64) for c in mpdf["cnts"]]
        )
    if word_pid is not None:
        word_pid.unpersist()
    # toPandas above materialized the final generation; release the
    # parked one and the final z (the final MODEL stays persisted — the
    # returned model_table reads it).
    for h in pending:
        h.unpersist()
    z_ckpt.unpersist()
    raw_model = LDAModel(nwk, words, config.alpha, config.beta)
    # model_table in the exact shape transform_model_df consumes
    # ((word_id, topic_counts: array<double>)) so the documented
    # at-scale hand-off needs no rename or cast.
    return TrainResult(
        model=raw_model, raw_model=raw_model, log_likelihood=lls,
        model_table=model_rows.select(
            "word_id",
            F.transform("cnts", lambda c: c.cast("double")).alias("topic_counts"),
        ),
    )


def train(corpus: DataFrame, config: TrainConfig, resume_from: str | None = None) -> TrainResult:
    """Train on canonical ``(doc_id, word, count)`` triples.

    ``resume_from`` restarts from a checkpoint written by
    ``config.checkpoint_dir`` (assignments re-hashed to the same
    partition count, so the continued run is a valid AD-LDA chain;
    results are statistically — not bit — identical to an uninterrupted
    run because shuffle gather order differs after the restart).
    """
    config.validate()
    total_tokens: int | None = None
    if resume_from is None:
        # LAZY checkpoint on the corpus triples (round 12): three setup
        # passes consume this frame — the guard/token aggregate below,
        # build_vocab's distinct, and the remap+pack feeding z-init.
        # When the triples arrive as doc_term_counts(tokenize(docs))
        # (the train_documents path), each pass re-ran the full
        # tokenize explode + count aggregation over the corpus; the
        # checkpoint materializes it ONCE (the guard agg is the first
        # action) and the other passes read the persisted blocks.  The
        # blocks are released as soon as the initial assignments are
        # materialized (z-init is the last reader).  Values are
        # untouched — the same triples, same partition layout, feed
        # every pass.
        corpus = corpus.localCheckpoint(eager=False)
        # doc_id < 0 is the internal payload-row sentinel: a negative
        # user doc_id would be excluded from every sweep AND decoded as
        # count-payload garbage into the model.  One cheap columnar agg
        # up front rejects it loudly — and the token total every
        # non-resume path needs (auto partition sizing, join exchange
        # resolution) rides the SAME aggregation, so the guard no
        # longer costs a second full corpus pass.
        guard = corpus.agg(
            F.min("doc_id").alias("__min_id"), F.sum("count").alias("__tokens")
        ).collect()[0]
        min_id = guard["__min_id"]
        total_tokens = int(guard["__tokens"] or 0)
        if min_id is not None and min_id < 0:
            raise ValueError(
                f"doc_id must be >= 0 (got {min_id}); negative ids are "
                "reserved for internal payload rows"
            )
    if config.model_mode == "join":
        return _train_join(corpus, config, resume_from, total_tokens)
    spark = corpus.sparkSession
    sc = spark.sparkContext
    if config.num_partitions:
        P = config.num_partitions
    else:
        if total_tokens is None:
            total_tokens = int(
                corpus.agg(F.sum("count")).collect()[0][0] or 0
            )
        P = _auto_partitions(total_tokens, sc.defaultParallelism)
    if config.aggregate_mode == "shuffle" or (
        config.aggregate_mode == "auto" and P >= _SHUFFLE_AGG_MIN_PARTITIONS
    ):
        agg_model = _aggregate_model_shuffle
    else:
        agg_model = _aggregate_model

    if resume_from is None:
        # same driver-list vocab rebuild as _train_join (one
        # distinct+sort job; ids are the lexicographic rank either way)
        words = [
            r["word"]
            for r in corpus.select("word").distinct().orderBy("word").collect()
        ]
        V, K = len(words), config.num_topics
        if V == 0:
            raise ValueError("empty vocabulary")
        vocab = vocab_frame(spark, words)

        corpus_ids = remap_words(corpus, vocab).select("doc_id", "word_id", "count")
        packed = pack_docs(corpus_ids, P)

        # z-init (O1's random init, distributed) then initial model (O4).
        df_z = packed.select("doc_id", "word_occ").mapInPandas(
            _zinit_fn(K, V, config.seed), schema=_SWEEP_SCHEMA
        )
        # LAZY checkpoint: the payload collect inside agg_model is the
        # first action, so one job computes the init pass, persists the
        # blocks (truncating lineage), and returns the payload rows —
        # no separate materialization job.
        df_z = df_z.localCheckpoint(eager=False)
        nwk, _ = agg_model(df_z, V, K)
        # z-init just materialized — nothing reads the corpus triples
        # again; release the setup checkpoint's blocks.
        corpus.unpersist()
        accum = np.zeros((V, K), dtype=np.float64)
        lls: list[float] = []
        start_it = 0
    else:
        state = np.load(f"{resume_from}/state.npz", allow_pickle=True)
        words = [str(w) for w in state["words"]]
        V, K = len(words), config.num_topics
        nwk = state["nwk"]
        accum = state["accum"]
        lls = [float(x) for x in state["lls"]]
        start_it = int(state["next_iteration"])
        df_z = (
            spark.read.parquet(f"{resume_from}/assignments")
            .repartition(P, "doc_id")
            .localCheckpoint(eager=True)
        )

    n_avg = config.total_iterations - config.burn_in_iterations

    for it in range(start_it, config.total_iterations):
        bc_nwk = sc.broadcast(nwk)
        bc_nk = sc.broadcast(nwk.sum(axis=0))
        # Payload rows (doc_id < 0) carry the previous pass's counts and
        # must not enter the sweep; the filter is narrow (no shuffle).
        swept = df_z.where(F.col("doc_id") >= 0).mapInPandas(
            _sweep_fn(
                bc_nwk, bc_nk, config.alpha, config.beta, config.seed, it,
                config.compute_likelihood,
            ),
            schema=_SWEEP_SCHEMA,
        )
        # localCheckpoint (not persist): it truncates lineage, which is
        # REQUIRED here — the sweep closure captures this iteration's
        # broadcasts, which are destroyed below, so any retained lineage
        # would reference dead broadcasts and fail on recompute
        # (persist(MEMORY_AND_DISK) crashes by iteration 2 for that
        # reason).  The checkpoint is LAZY: agg_model's payload collect
        # is the first action, so ONE job runs the sweep, persists the
        # blocks, and returns the payload rows — fusing what were a
        # materialization job and a payload-scan job (~25% of steady
        # iteration wall at sf0.1).  The old generation is unpersisted
        # only AFTER that job: its blocks are the checkpoint data the
        # sweep reads, and its truncated lineage cannot recompute them.
        new_df_z = swept.localCheckpoint(eager=False)
        nwk, ll = agg_model(new_df_z, V, K)
        df_z.unpersist()
        df_z = new_df_z
        if config.compute_likelihood:
            lls.append(ll)
        bc_nwk.destroy()
        bc_nk.destroy()
        if it >= config.burn_in_iterations:
            accum += nwk
        if config.checkpoint_dir and (it + 1) % config.checkpoint_every == 0:
            _save_checkpoint(df_z, config.checkpoint_dir, it, nwk, accum, lls, words)

    raw_model = LDAModel(nwk, words, config.alpha, config.beta)
    if config.average_model:
        model = LDAModel(accum / n_avg, words, config.alpha, config.beta)
    else:
        model = raw_model
    df_z.unpersist()
    return TrainResult(model=model, raw_model=raw_model, log_likelihood=lls)


def train_documents(
    docs: DataFrame, config: TrainConfig, text_col: str = "text", id_col: str = "doc_id"
) -> TrainResult:
    """Train directly on a ``documents(doc_id, text, …)`` table."""
    from .corpus import doc_term_counts, tokenize

    return train(doc_term_counts(tokenize(docs, text_col, id_col)), config)

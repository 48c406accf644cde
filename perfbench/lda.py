"""LDA workloads through the library's public calls.

- ``lda_train``: ``read_plda_corpus`` → ``lda.train.train`` →
  ``LDAModel.save_text`` → ``LDAModel.load_text`` → ``lda.infer.transform``
  on the held-out documents → ``write_inference_result``.
- ``lda_wide``: ``read_plda_corpus`` → ``lda.train.train`` in join mode →
  ``LDAModel.save_text``.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

import numpy as np

from corpus import Corpus, CorpusShape, generate, write_plda_files
from eventlog import Counters, per_unit
from harness import EXTRA, Bench, Check, NoTracer, median

__all__ = ["LdaSpec", "lda_train_spec", "lda_wide_spec", "LdaWorkload"]

# Reference defaults of the infer binary.
INFER_ITERATIONS = 15
INFER_BURN_IN = 10
TRAIN_FILES = 8
KERNEL_REPEATS = 3
# train.py sizes partitions at 250k tokens each; a corpus of at least
# this many tokens per core gets one partition per core.
TOKENS_PER_CORE = 250_000


@dataclass(frozen=True)
class LdaSpec:
    name: str
    shape: CorpusShape
    num_topics: int
    iterations: int
    model_mode: str = "broadcast"
    infer: bool = True


def lda_train_spec(cores: int) -> LdaSpec:
    """Token-rich, small model: documents of ~300 tokens (NYTimes has
    333), at least 250k tokens per core, K=10; a fifth of the documents
    are held out for inference."""
    mean_len = 300
    train_docs = math.ceil(cores * TOKENS_PER_CORE * 1.05 / mean_len)
    return LdaSpec(
        "lda_train",
        CorpusShape(vocab_size=50_000, train_docs=train_docs, heldout_docs=train_docs // 4,
                    mean_doc_len=mean_len, planted_topics=10),
        num_topics=10, iterations=4,
    )


def lda_wide_spec(cores: int) -> LdaSpec:
    """Token-poor, wide model: a flat vocabulary of 150k words drawn
    about three times each over short documents, K=50, join mode."""
    return LdaSpec(
        "lda_wide",
        CorpusShape(vocab_size=150_000, train_docs=12_000, heldout_docs=0,
                    mean_doc_len=40, planted_topics=10, zipf_s=0.3),
        num_topics=50, iterations=4, model_mode="join", infer=False,
    )


@dataclass
class LdaPass:
    result: object          # lda.train.TrainResult
    model_path: str
    theta_path: str | None


class LdaWorkload:
    # a fixed count keeps every run's timed passes the same ones; the
    # median of two halves the weight of a pass slowed by a host stall
    min_passes = 2

    def __init__(self, spec: LdaSpec, bench: Bench, seed: int):
        self.spec = spec
        self.bench = bench
        self.seed = seed
        self.train_dir = bench.path("inputs", "train")
        self.heldout_dir = bench.path("inputs", "heldout")
        self.train: Corpus | None = None
        self.heldout: Corpus | None = None
        self.vocab: np.ndarray | None = None   # generator ids of the training words
        self._passes = 0

    # -- set-up ---------------------------------------------------------------
    def generate(self) -> None:
        self.train, self.heldout = generate(self.spec.shape, self.seed)
        self.vocab = np.unique(np.concatenate(self.train.doc_words))
        write_plda_files(self.train, self.train_dir, TRAIN_FILES)
        if self.spec.infer:
            # One file, so the reader's line order is the document order
            # and θ line j belongs to the j-th held-out document.
            write_plda_files(self.heldout, self.heldout_dir, 1)

    def describe(self) -> dict:
        out = {"train_tokens": self.train.tokens, "train_docs": len(self.train.doc_words),
               "vocab": int(self.vocab.shape[0]), "num_topics": self.spec.num_topics,
               "iterations": self.spec.iterations, "model_mode": self.spec.model_mode,
               "heldout_docs": len(self.heldout.doc_words) if self.spec.infer else 0}
        if self.spec.model_mode == "join":
            out["join_exchange"] = self._auto_exchange()
        return out

    def _auto_exchange(self) -> str:
        """The exchange ``join_exchange='auto'`` picks for these inputs, by
        the trainer's own rule (private, so looked up defensively: the
        rule goes away once the trainer keeps one exchange path)."""
        from plda_spark.lda import train as lda_train

        resolve = getattr(lda_train, "_resolve_join_exchange", None)
        partitions = getattr(lda_train, "_auto_partitions", None)
        if resolve is None or partitions is None:
            return "unknown"
        config = lda_train.TrainConfig(num_topics=self.spec.num_topics, model_mode="join",
                                       average_model=False)
        tokens = self.train.tokens
        return resolve(config, int(self.vocab.shape[0]), tokens,
                       partitions(tokens, self.bench.cores))

    def items(self) -> float:
        """Gibbs token samples of one pass: training plus inference."""
        n = self.train.tokens * self.spec.iterations
        if self.spec.infer:
            n += self._heldout_known_tokens() * INFER_ITERATIONS
        return float(n)

    def _heldout_known_tokens(self) -> int:
        known = np.isin(np.concatenate(self.heldout.doc_words), self.vocab)
        return int(np.concatenate(self.heldout.doc_counts)[known].sum())

    # -- one pass -------------------------------------------------------------
    def run_pass(self, spark, tracer, iterations: int | None = None,
                 infer: bool | None = None, group_prefix: str = "") -> LdaPass:
        from plda_spark.lda import infer as lda_infer
        from plda_spark.lda.model import LDAModel
        from plda_spark.lda.train import TrainConfig, train
        from plda_spark.sources.plda_text import read_plda_corpus

        n = iterations or self.spec.iterations
        infer = self.spec.infer if infer is None else infer
        self._passes += 1
        model_path = self.bench.path("outputs", f"model-{self._passes}.txt")
        theta_path = self.bench.path("outputs", f"theta-{self._passes}.txt") if infer else None
        join = self.spec.model_mode == "join"
        config = TrainConfig(
            num_topics=self.spec.num_topics, total_iterations=n,
            burn_in_iterations=n // 2, seed=self.seed,
            model_mode=self.spec.model_mode, average_model=not join,
        )
        with tracer.span("train", group=f"{group_prefix}train.{n}"):
            result = train(read_plda_corpus(spark, self.train_dir), config)
        with tracer.span("model.save_text", group=f"{group_prefix}model.save_text"):
            result.model.save_text(model_path)
        if infer:
            with tracer.span("model.load_text"):
                model = LDAModel.load_text(model_path)
            with tracer.span("infer", group="infer"):
                theta = lda_infer.transform(
                    model, read_plda_corpus(spark, self.heldout_dir),
                    total_iterations=INFER_ITERATIONS, burn_in_iterations=INFER_BURN_IN,
                    seed=self.seed,
                )
                lda_infer.write_inference_result(theta, theta_path, single_file=True)
        return LdaPass(result, model_path, theta_path)

    def warm_up(self, spark) -> None:
        """One full-size pass: the first jobs, a Python worker per core with
        the compiled sweep kernel, and the JVM code of every step."""
        self.run_pass(spark, NoTracer())

    # -- output checks (outside the timed region) -----------------------------
    def check(self, spark, p: LdaPass) -> Check:
        from plda_spark.lda.model import LDAModel

        fails = []
        train_words = sorted(self.train.words[w] for w in self.vocab)
        V, K = len(train_words), self.spec.num_topics
        for label, m in (("raw", p.result.raw_model), ("final", p.result.model)):
            if m.nwk.shape != (V, K) or m.words != train_words:
                fails.append(f"{label} model is {m.nwk.shape}, expected {(V, K)} "
                             "over the training words")
                continue
            if not np.isclose(m.nwk.sum(), self.train.tokens, rtol=1e-9, atol=1e-6):
                fails.append(f"{label} model holds {m.nwk.sum()} counts "
                             f"for {self.train.tokens} tokens")
            if not np.allclose(m.nk, m.nwk.sum(axis=0)):
                fails.append(f"{label} model n_k differs from its column sums")
            if (m.nwk < 0).any():
                fails.append(f"{label} model has negative counts")
        model = LDAModel.load_text(p.model_path)
        if model.nwk.shape != (V, K):
            fails.append(f"saved model reloads as {model.nwk.shape}, expected {(V, K)}")
        details = {}
        if p.theta_path is not None:
            ppl, unigram, theta_fails = self._check_theta(model, p.theta_path)
            fails += theta_fails
            details = {"heldout_perplexity": ppl, "unigram_perplexity": unigram}
        return Check(attempted=1, failed=1 if fails else 0, messages=fails, details=details)

    def _check_theta(self, model, theta_path: str) -> tuple[float, float, list[str]]:
        """θ rows against the held-out documents' in-vocabulary lengths,
        and held-out perplexity against the smoothed unigram model."""
        from plda_spark.lda import kernel

        fails = []
        index = model.word_index()
        names = self.heldout.words
        docs = []
        for words, counts in zip(self.heldout.doc_words, self.heldout.doc_counts):
            ids = np.array([index.get(names[w], -1) for w in words.tolist()], dtype=np.int64)
            keep = ids >= 0
            if keep.any():
                docs.append((ids[keep], counts[keep].astype(np.float64)))
        with open(theta_path, encoding="utf-8") as f:
            theta = [np.array(line.split(), dtype=np.float64) for line in f]
        if len(theta) != len(docs):
            return math.nan, math.nan, [f"{len(theta)} θ rows for {len(docs)} held-out "
                                        "documents with in-vocabulary words"]
        K, V = model.num_topics, model.num_words
        n_w = model.nwk.sum(axis=1).astype(np.float64)
        p_w = (n_w + model.beta) / (n_w.sum() + V * model.beta)
        ll = uni_ll = 0.0
        tokens = 0
        for j, (ndk, (ids, counts)) in enumerate(zip(theta, docs)):
            if ndk.shape != (K,) or not math.isclose(ndk.sum(), counts.sum(), abs_tol=1e-3):
                fails.append(f"θ row {j} sums to {ndk.sum()}, its in-vocabulary "
                             f"length is {counts.sum()}")
                continue
            ll += kernel.doc_log_likelihood(ids, counts, ndk, model.nwk, model.nk,
                                            model.alpha, model.beta)
            uni_ll += float(counts @ np.log(p_w[ids]))
            tokens += int(counts.sum())
        ppl = math.exp(-ll / max(tokens, 1))
        unigram = math.exp(-uni_ll / max(tokens, 1))
        if not ppl < unigram:
            fails.append(f"held-out perplexity {ppl:.1f} is not below the unigram {unigram:.1f}")
        return ppl, unigram, fails

    # -- traced layer split ---------------------------------------------------
    def trace_extra(self, spark, tracer) -> None:
        """Train at one iteration and the text reader alone, for the
        setup/iteration and reader splits.  Their job groups start with
        ``EXTRA``, so they stay out of the traced pass's totals."""
        from plda_spark.sources.plda_text import read_plda_corpus

        self.run_pass(spark, tracer, iterations=1, infer=False, group_prefix=EXTRA)
        with tracer.span("sources.read", group=f"{EXTRA}sources"):
            read_plda_corpus(spark, self.train_dir).write.format("noop").mode("overwrite").save()

    def kernel_probe(self) -> dict[str, float]:
        """ns/token of ``kernel.sweep_docs`` on one partition's share of the
        training tokens (tokens / cores), at the workload's V and K: train
        mode on an int64 model, infer mode on a frozen float64 one.
        Median of ``KERNEL_REPEATS`` sweeps after one that loads the kernel."""
        from plda_spark.lda import kernel

        K = self.spec.num_topics
        rng = kernel.make_rng(self.seed, 0, 0)
        budget = self.train.tokens / self.bench.cores
        occ, offsets = [], [0]
        for words, counts in zip(self.train.doc_words, self.train.doc_counts):
            occ.append(np.repeat(np.searchsorted(self.vocab, words), counts).astype(np.int32))
            offsets.append(offsets[-1] + occ[-1].shape[0])
            if offsets[-1] >= budget:
                break
        word_occ = np.concatenate(occ)
        offsets = np.asarray(offsets, dtype=np.int64)
        z0 = kernel.init_assignments(word_occ.shape[0], K, rng)
        nwk0 = kernel.count_nwk(word_occ, z0, len(self.vocab), K)

        def ns_per_token(model: np.ndarray, update_model: bool) -> float:
            model, z = model.copy(), z0.copy()
            totals = model.sum(axis=0)
            times = []
            for _ in range(KERNEL_REPEATS + 1):
                t0 = time.perf_counter()
                kernel.sweep_docs(word_occ, z, offsets, model, totals, 0.1, 0.01, rng,
                                  update_model=update_model)
                times.append(time.perf_counter() - t0)
            return median(times[1:]) * 1e9 / word_occ.shape[0]

        return {
            "kernel.train_ns_per_token": ns_per_token(nwk0, True),
            "kernel.infer_ns_per_token": ns_per_token(nwk0.astype(np.float64), False),
        }

    def layer_metrics(self, traced: LdaPass, tracer, groups: dict[str, Counters],
                      check: Check) -> dict[str, float]:
        n = self.spec.iterations
        t_n, t_1 = tracer.seconds("train")[-2:]
        iter_s = (t_n - t_1) / (n - 1)
        c_1 = groups.get(f"{EXTRA}train.1", Counters())
        it = per_unit(groups.get(f"train.{n}", Counters()), c_1, n - 1)
        probe = self.kernel_probe()
        kernel_ns = probe["kernel.train_ns_per_token"] * self.train.tokens
        src = groups.get(f"{EXTRA}sources", Counters())
        out = {
            **probe,
            "train.iter_s": iter_s,
            "train.iter_jobs": it["jobs"],
            "train.iter_tasks": it["tasks"],
            "train.iter_executor_cpu_s": it["executor_cpu_s"],
            "train.iter_python_bytes": it["python_sent_bytes"] + it["python_returned_bytes"]
            + it["python_rdd_input_bytes"],
            "train.iter_shuffle_bytes": it["shuffle_write_bytes"],
            "train.iter_result_bytes": it["result_bytes"],
            "train.iter_driver_s": iter_s - it["job_s"],
            "train.kernel_share": kernel_ns / (it["executor_run_s"] * 1e9)
            if it["executor_run_s"] > 0 else 0.0,
            "train.setup_s": t_1 - iter_s,
            "train.setup_jobs": c_1.jobs - it["jobs"],
            "train.setup_shuffle_bytes": c_1.shuffle_write_bytes - it["shuffle_write_bytes"],
            "sources.read_s": tracer.seconds("sources.read")[-1],
            "sources.jobs": float(src.jobs),
            "model.save_text_s": tracer.seconds("model.save_text")[0],
        }
        if self.spec.infer:
            inf = groups.get("infer", Counters())
            out.update({
                "infer.transform_s": tracer.seconds("infer")[0],
                "infer.jobs": float(inf.jobs),
                "infer.python_bytes": float(inf.python_bytes),
                "infer.heldout_perplexity": check.details["heldout_perplexity"],
                "model.load_text_s": tracer.seconds("model.load_text")[0],
            })
        return out

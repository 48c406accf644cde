"""Curation workload: dedup, quality filter and mergeable daily summaries
over a seeded document table, through ``plda_spark.operators``.

The pass runs five steps; each builds its DataFrame from the previous
step's parquet output and writes its own, as a batch pipeline would:

1. ``dedup.exact``      ``exact_dedup``
2. ``dedup.minhash``    ``minhash_lsh_pairs``
3. ``dedup.components`` ``connected_components`` (fires eager jobs while building)
4. ``text.quality``     drop non-representative cluster members, ``quality_score`` filter
5. ``stats.sketch``     ``hll_daily_sketches`` and ``hist_daily_sketches`` of the survivors

The generator plants exact-duplicate groups, near-duplicate variants
(one word replaced) and repetitive junk documents, and knows the
expected output of every step.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

from eventlog import Counters
from harness import Bench, Check, NoTracer

__all__ = ["TableShape", "Planted", "generate", "write_table", "CurationWorkload"]

STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"]
QUALITY_MIN = 0.5
NUM_HASHES, BANDS, PAIR_MIN_JACCARD = 32, 8, 0.5
HLL_LG_K = 12
HIST_BINS = 20
TABLE_FILES = 8
STEPS = ["dedup.exact", "dedup.minhash", "dedup.components", "text.quality", "stats.sketch"]


@dataclass(frozen=True)
class TableShape:
    base_docs: int = 3000       # distinct texts before duplication
    clusters: int = 400         # base docs that get duplicates
    max_exact: int = 2          # exact copies per cluster: 0..max_exact
    max_near: int = 3           # near copies per cluster: 1..max_near
    junk_docs: int = 150        # one word repeated: fails the quality filter
    mean_words: int = 150
    vocab_size: int = 20_000
    zipf_s: float = 0.7
    stopword_share: float = 0.2
    days: int = 14
    sources: int = 40


@dataclass
class Planted:
    """The table and what every step must produce from it."""

    doc_id: np.ndarray
    text: list[str]
    source: list[str]
    ts_s: np.ndarray                 # epoch seconds
    clusters: list[list[int]]        # doc ids of each planted cluster
    kept: set[int]                   # survivors of exact dedup
    components: dict[int, int]       # kept doc in a cluster -> cluster min id
    survivors: set[int]              # survivors of the whole pipeline


def _names(n: int, rng: np.random.Generator, prefix: str = "") -> list[str]:
    # A random letter stem, then the index in base 26 (letters only, so
    # the alpha ratio stays high and no two names collide).
    letters = "abcdefghijklmnopqrstuvwxyz"
    lens = rng.integers(2, 7, size=n)
    stems = rng.integers(0, 26, size=(n, 7))
    out = []
    for i in range(n):
        tail, k = "", i
        while True:
            tail = letters[k % 26] + tail
            k //= 26
            if k == 0:
                break
        out.append(prefix + "".join(letters[c] for c in stems[i, : lens[i]]) + tail)
    return out


def generate(shape: TableShape, seed: int) -> Planted:
    rng = np.random.default_rng(seed)
    vocab = np.array(_names(shape.vocab_size, rng), dtype=object)
    weights = np.arange(1, shape.vocab_size + 1, dtype=np.float64) ** -shape.zipf_s
    weights /= weights.sum()

    def draw_words() -> list[str]:
        n = max(int(rng.poisson(shape.mean_words)), 30)
        words = vocab[rng.choice(shape.vocab_size, size=n, p=weights)]
        stop = rng.random(n) < shape.stopword_share
        words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), stop.sum())]
        return list(words)

    def render(words: list[str]) -> str:
        # a full stop every 12 words, so the text reads as sentences
        return " ".join(w + ("." if (i + 1) % 12 == 0 else "") for i, w in enumerate(words))

    base = [draw_words() for _ in range(shape.base_docs)]
    texts: list[str] = [render(w) for w in base]
    groups: list[int] = list(range(shape.base_docs))   # exact-text group of each doc
    cluster_of: list[int] = [-1] * shape.base_docs
    for c in range(shape.clusters):
        cluster_of[c] = c
        for _ in range(int(rng.integers(0, shape.max_exact + 1))):
            texts.append(texts[c])
            groups.append(c)
            cluster_of.append(c)
        for _ in range(int(rng.integers(1, shape.max_near + 1))):
            words = list(base[c])
            pos = int(rng.integers(0, len(words)))
            new = words[pos]
            while new == words[pos]:
                new = vocab[int(rng.integers(0, shape.vocab_size))]
            words[pos] = new
            texts.append(render(words))
            groups.append(len(groups))
            cluster_of.append(c)
    junk = _names(shape.junk_docs, rng, prefix="zq")
    for w in junk:
        texts.append(" ".join([w] * 40))
        groups.append(len(groups))
        cluster_of.append(-1)
    n = len(texts)
    n_junk_start = n - shape.junk_docs

    ids = rng.permutation(n).astype(np.int64)        # doc_id of the i-th generated doc
    day0 = 1_700_006_400                              # 2023-11-15 00:00:00 UTC
    ts_s = day0 + rng.integers(0, shape.days * 86_400, size=n)
    source = [f"site{k}.example" for k in rng.integers(0, shape.sources, size=n).tolist()]

    group_min: dict[int, int] = {}
    for i, g in enumerate(groups):
        group_min[g] = min(group_min.get(g, ids[i]), int(ids[i]))
    kept = {int(ids[i]) for i, g in enumerate(groups) if ids[i] == group_min[g]}
    clusters: list[list[int]] = [[] for _ in range(shape.clusters)]
    for i, c in enumerate(cluster_of):
        if c >= 0:
            clusters[c].append(int(ids[i]))
    components = {}
    for members in clusters:
        label = min(members)
        components.update({d: label for d in members if d in kept})
    junk_ids = {int(ids[i]) for i in range(n_junk_start, n)}
    survivors = {d for d in kept if components.get(d, d) == d and d not in junk_ids}
    # The table's row order is shuffled too, so no file holds one kind of doc.
    order = rng.permutation(n)
    return Planted(
        doc_id=ids[order], text=[texts[i] for i in order], source=[source[i] for i in order],
        ts_s=ts_s[order], clusters=clusters, kept=kept, components=components,
        survivors=survivors,
    )


def write_table(planted: Planted, directory: str, num_files: int = TABLE_FILES) -> list[str]:
    """``(doc_id, text, source, ts)`` as ``num_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    n = len(planted.text)
    cuts = np.linspace(0, n, num_files + 1).astype(int)
    paths = []
    for f in range(num_files):
        s = slice(cuts[f], cuts[f + 1])
        table = pa.table({
            "doc_id": pa.array(planted.doc_id[s]),
            "text": pa.array(planted.text[s]),
            "source": pa.array(planted.source[s]),
            "ts": pa.array(planted.ts_s[s] * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        })
        path = os.path.join(directory, f"part-{f:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


@dataclass
class CurationPass:
    out: dict[str, str]
    leaked_rdds: int = 0


class CurationWorkload:
    # passes still speed up after the warm-up; a fixed count keeps every
    # run's timed passes the same ones
    min_passes = 2

    def __init__(self, shape: TableShape, bench: Bench, seed: int):
        self.shape = shape
        self.bench = bench
        self.seed = seed
        self.input_dir = bench.path("inputs", "docs")
        self.planted: Planted | None = None
        self._passes = 0

    def generate(self) -> None:
        self.planted = generate(self.shape, self.seed)
        write_table(self.planted, self.input_dir)

    def describe(self) -> dict:
        p = self.planted
        return {"docs": len(p.text), "clusters": len(p.clusters), "kept": len(p.kept),
                "survivors": len(p.survivors)}

    def items(self) -> float:
        """Input documents of one pass."""
        return float(len(self.planted.text))

    def run_pass(self, spark, tracer) -> CurationPass:
        from plda_spark.operators import dedup, stats, text
        from pyspark.sql import functions as F

        self._passes += 1
        base = self.bench.path("outputs", f"pass-{self._passes}")
        out = {k: os.path.join(base, k) for k in ("kept", "pairs", "components", "survivors",
                                                  "hll", "hist")}
        read = spark.read.parquet
        before = self.bench.persisted_rdds()

        def step(name: str, build, paths: list[str]) -> None:
            with tracer.span(name):
                with tracer.span(f"ops.build.{name}", group=f"build.{name}"):
                    frames = build()
                with tracer.span(f"ops.exec.{name}", group=f"exec.{name}"):
                    for path, df in zip(paths, frames):
                        df.write.mode("overwrite").parquet(path)

        step("dedup.exact", lambda: [dedup.exact_dedup(read(self.input_dir))], [out["kept"]])
        step("dedup.minhash", lambda: [dedup.minhash_lsh_pairs(
            read(out["kept"]), num_hashes=NUM_HASHES, bands=BANDS,
            threshold=PAIR_MIN_JACCARD)], [out["pairs"]])
        step("dedup.components", lambda: [dedup.connected_components(read(out["pairs"]))],
             [out["components"]])

        def quality():
            kept = read(out["kept"])
            dropped = read(out["components"]).where(F.col("doc_id") != F.col("component"))
            members = kept.join(dropped.select("doc_id"), "doc_id", "left_anti")
            good = (text.quality_score(members)
                    .where(F.col("quality_score") >= QUALITY_MIN)
                    .select("doc_id", "quality_score"))
            return [members.select("doc_id", "source", "ts").join(good, "doc_id")]

        step("text.quality", quality, [out["survivors"]])
        step("stats.sketch", lambda: [
            stats.hll_daily_sketches(read(out["survivors"]), key_col="doc_id", ts_col="ts",
                                     lg_k=HLL_LG_K),
            stats.hist_daily_sketches(read(out["survivors"]), "quality_score", 0.0, 1.0,
                                      HIST_BINS, ts_col="ts"),
        ], [out["hll"], out["hist"]])
        return CurationPass(out, self.bench.persisted_rdds() - before)

    def warm_up(self, spark) -> None:
        """One full-size pass: the first jobs and the JVM code of every step."""
        self.run_pass(spark, NoTracer())

    # -- output checks (outside the timed region) -----------------------------
    def check(self, spark, p: CurationPass) -> Check:
        import pyarrow.parquet as pq

        from plda_spark.operators import stats

        planted = self.planted
        fails = []

        def ids(key: str, *cols: str):
            t = pq.read_table(p.out[key], columns=list(cols))
            return [t.column(c).to_pylist() for c in cols]

        (kept,) = ids("kept", "doc_id")
        if len(kept) != len(planted.kept) or set(kept) != planted.kept:
            fails.append(f"exact dedup kept {len(kept)} docs, expected {len(planted.kept)}")
        doc, comp = ids("components", "doc_id", "component")
        got = dict(zip(doc, comp))
        if got != planted.components:
            wrong = sum(1 for d, c in planted.components.items() if got.get(d) != c)
            fails.append(f"components differ from the {len(planted.clusters)} planted clusters: "
                         f"{wrong} planted docs mislabelled, {len(set(got) - set(planted.components))}"
                         " unplanted docs in a component")
        (surv,) = ids("survivors", "doc_id")
        if len(surv) != len(planted.survivors) or set(surv) != planted.survivors:
            fails.append(f"{len(surv)} survivors, expected {len(planted.survivors)}")
        (bins,) = ids("hist", "bin_counts")
        if sum(sum(b) for b in bins) != len(planted.survivors):
            fails.append(f"daily histograms hold {sum(sum(b) for b in bins)} values for "
                         f"{len(planted.survivors)} survivors")
        est = stats.hll_estimate_range(spark.read.parquet(p.out["hll"])).collect()[0][0]
        exact = len(planted.survivors)
        # four standard errors of an HLL sketch with 2^lg_k registers
        tol = 4 * 1.04 / math.sqrt(2 ** HLL_LG_K)
        if abs(est - exact) > tol * exact:
            fails.append(f"HLL estimate {est:.0f} is not within {tol:.1%} of {exact}")
        return Check(attempted=1, failed=1 if fails else 0, messages=fails,
                     details={"hll_estimate": float(est)})

    # -- traced layer split ---------------------------------------------------
    def trace_extra(self, spark, tracer) -> None:
        pass

    def layer_metrics(self, traced: CurationPass, tracer, groups: dict[str, Counters],
                      check: Check) -> dict[str, float]:
        def phase(kind: str) -> Counters:
            return sum((groups.get(f"{kind}.{s}", Counters()) for s in STEPS), Counters())

        build, exe = phase("build"), phase("exec")
        both = build + exe
        comp = groups.get("build.dedup.components", Counters()) + groups.get(
            "exec.dedup.components", Counters())
        return {
            "ops.build_s": sum(tracer.total(f"ops.build.{s}") for s in STEPS),
            "ops.build_jobs": float(build.jobs),
            "ops.exec_s": sum(tracer.total(f"ops.exec.{s}") for s in STEPS),
            "ops.exec_jobs": float(exe.jobs),
            "ops.stages": float(both.stages),
            "ops.single_task_stages": float(both.single_task_stages),
            "ops.tasks": float(both.tasks),
            "ops.shuffle_bytes": float(both.shuffle_write_bytes),
            "ops.executor_cpu_s": both.executor_cpu_s,
            "dedup.minhash_s": tracer.total("dedup.minhash"),
            "dedup.components_s": tracer.total("dedup.components"),
            "dedup.components_jobs": float(comp.jobs),
            "stats.sketch_s": tracer.total("stats.sketch"),
            "ops.persisted_rdds_leaked": float(traced.leaked_rdds),
        }

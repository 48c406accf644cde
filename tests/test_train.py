"""End-to-end LDA training tests (SURVEY.md §5.2-3/4)."""

import glob
import hashlib

import numpy as np
import pytest

from plda_spark.lda import kernel
from plda_spark.lda.train import TrainConfig, TrainResult, train


def synthetic_corpus(spark, n_docs=60, doc_len=40, k_true=3, vocab_per_topic=10, seed=5):
    """Docs drawn from K disjoint-vocab topics — recoverable by Gibbs."""
    rng = kernel.make_rng(seed)
    rows = []
    for d in range(n_docs):
        t = d % k_true
        words = rng.integers(0, vocab_per_topic, size=doc_len) + t * vocab_per_topic
        uniq, cnt = np.unique(words, return_counts=True)
        for w, c in zip(uniq, cnt):
            rows.append((d, f"w{w:03d}", int(c)))
    return spark.createDataFrame(rows, "doc_id long, word string, count int")


@pytest.fixture(scope="module")
def tiny_result(spark) -> TrainResult:
    corpus = synthetic_corpus(spark)
    cfg = TrainConfig(
        num_topics=3, total_iterations=25, burn_in_iterations=15,
        compute_likelihood=True, seed=7, num_partitions=2,
    )
    return train(corpus, cfg)


def test_counts_conserved(tiny_result):
    m = tiny_result.raw_model
    assert m.nwk.sum() == 60 * 40  # every occurrence assigned exactly one topic
    assert np.array_equal(m.nk, m.nwk.sum(axis=0))


def test_vocab_sorted(tiny_result):
    assert tiny_result.model.words == sorted(tiny_result.model.words)


def test_likelihood_increases(tiny_result):
    lls = tiny_result.log_likelihood
    assert len(lls) == 25
    # The de-facto correctness oracle of the reference (--compute_likelihood):
    # LL must improve substantially from random init and be stable late.
    assert lls[-1] > lls[0]
    assert np.mean(lls[-5:]) > np.mean(lls[:5])


def test_topics_recovered(tiny_result):
    """Disjoint-vocab topics: each true block concentrates on one topic."""
    nwk = tiny_result.raw_model.nwk
    owners = set()
    for t in range(3):
        block = nwk[t * 10 : (t + 1) * 10].sum(axis=0)
        assert block.max() / block.sum() > 0.85
        owners.add(int(block.argmax()))
    assert len(owners) == 3


def test_averaged_vs_raw(tiny_result):
    avg = tiny_result.model
    assert avg.nwk.dtype == np.float64
    # Averaged totals equal the mean per-iteration total token count.
    assert avg.nwk.sum() == pytest.approx(60 * 40)


def test_auto_partitions():
    from plda_spark.lda.train import (
        _MAX_TOKENS_PER_PARTITION, _TOKENS_PER_PARTITION, _auto_partitions,
    )

    assert _auto_partitions(0, 32) == 1                     # empty corpus
    assert _auto_partitions(1, 32) == 1                     # tiny corpus: one task
    assert _auto_partitions(_TOKENS_PER_PARTITION, 32) == 1
    assert _auto_partitions(_TOKENS_PER_PARTITION + 1, 32) == 2
    assert _auto_partitions(10**8, 32) == 32                # saturates the cluster
    # memory floor: more partitions than cores when a partition would exceed cap
    big = 3 * _MAX_TOKENS_PER_PARTITION
    assert _auto_partitions(big, 2) == 3


def test_determinism(spark):
    corpus = synthetic_corpus(spark, n_docs=20, doc_len=15)
    cfg = TrainConfig(
        num_topics=3, total_iterations=5, burn_in_iterations=2,
        seed=123, num_partitions=2,
    )
    m1 = train(corpus, cfg).raw_model
    m2 = train(corpus, cfg).raw_model
    assert np.array_equal(m1.nwk, m2.nwk)
    assert m1.words == m2.words


def test_infer_and_oov(spark, tiny_result):
    from plda_spark.lda import infer

    model = tiny_result.raw_model
    # Doc 0: pure topic-0 vocab plus an OOV word that must be dropped.
    new_docs = spark.createDataFrame(
        [(0, "w001", 5), (0, "w002", 5), (0, "zzz_oov", 99), (1, "w025", 10)],
        "doc_id long, word string, count int",
    )
    res = infer.transform(model, new_docs, total_iterations=12, burn_in_iterations=6, seed=3)
    rows = {r["doc_id"]: np.array(r["topic_weights"]) for r in res.collect()}
    # OOV dropped: doc 0 weights sum to 10 occurrences, not 109.
    assert rows[0].sum() == pytest.approx(10.0)
    assert rows[1].sum() == pytest.approx(10.0)
    # Each doc's mass lands on the topic owning its vocab block.
    block0_owner = int(tiny_result.raw_model.nwk[0:10].sum(axis=0).argmax())
    block2_owner = int(tiny_result.raw_model.nwk[20:30].sum(axis=0).argmax())
    assert int(rows[0].argmax()) == block0_owner
    assert int(rows[1].argmax()) == block2_owner


def test_infer_model_df_matches_broadcast(spark, tiny_result):
    """Model-as-DataFrame inference (the beyond-broadcast cutover) agrees
    with the broadcast path on where each doc's topic mass lands."""
    from plda_spark.lda import infer
    from plda_spark.lda.vocab import build_vocab, remap_words

    model = tiny_result.raw_model
    new_docs = spark.createDataFrame(
        [(0, "w001", 5), (0, "w002", 5), (0, "zzz_oov", 99), (1, "w025", 10)],
        "doc_id long, word string, count int",
    )
    bc = infer.transform(model, new_docs, total_iterations=12, burn_in_iterations=6, seed=3)
    bc_rows = {r["doc_id"]: np.array(r["topic_weights"]) for r in bc.collect()}

    vocab = spark.createDataFrame(
        [(w, i) for i, w in enumerate(model.words)], "word string, word_id long"
    )
    triples = remap_words(new_docs, vocab).select("doc_id", "word_id", "count")
    model_df = model.to_dataframe(spark).select("word_id", "topic_counts")
    df = infer.transform_model_df(
        model_df, model.nk, triples, alpha=model.alpha, beta=model.beta,
        total_iterations=12, burn_in_iterations=6, seed=3,
    )
    df_rows = {r["doc_id"]: np.array(r["topic_weights"]) for r in df.collect()}

    assert set(df_rows) == set(bc_rows)
    for d in df_rows:
        # Same total mass (OOV dropped identically) and same argmax topic.
        assert df_rows[d].sum() == pytest.approx(bc_rows[d].sum())
        assert int(df_rows[d].argmax()) == int(bc_rows[d].argmax())


def _infer_and_write(spark, tmp_path, single_file):
    """read → ``transform`` → ``write_inference_result`` on a held-out
    corpus file against a fixed model.  The transform and the write run
    under one job group; returns (jobs in the group, rows through the
    sweep, written lines, θ rows in doc_id order).  One input file reads
    as one partition on any core count, so θ does not depend on it."""
    from plda_spark.lda import infer
    from plda_spark.lda.model import LDAModel
    from plda_spark.sources import read_plda_corpus

    rng = np.random.default_rng(17)
    words = [f"w{i:03d}" for i in range(30)]
    model = LDAModel(rng.integers(0, 40, size=(30, 3)), words)
    docs = [
        " ".join(f"{w} {rng.integers(1, 6)}" for w in rng.choice(words, 4, replace=False))
        for _ in range(30)
    ]
    # an all-OOV doc drops out before the sweep (infer.cc:77-80)
    src = tmp_path / f"heldout-{single_file}.txt"
    src.write_text("\n".join(docs[:12] + ["oov_only 3"] + docs[12:]) + "\n")
    corpus = read_plda_corpus(spark, str(src))

    sc = spark.sparkContext
    swept = sc.accumulator(0)

    def count_rows(batches):
        for b in batches:
            swept.add(len(b))
            yield b

    out = str(tmp_path / f"theta-{single_file}")
    group = f"infer-write-{single_file}"
    sc.setJobGroup(group, "transform + write_inference_result")
    try:
        theta = infer.transform(
            model, corpus, total_iterations=8, burn_in_iterations=3, seed=5,
            num_partitions=3,
        )
        infer.write_inference_result(
            theta.mapInPandas(count_rows, theta.schema), out, single_file=single_file
        )
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    if single_file:
        text = open(out, encoding="utf-8").read()
    else:
        (part,) = glob.glob(f"{out}/part-*")
        text = open(part, encoding="utf-8").read()
    by_doc = sorted(theta.collect(), key=lambda r: r["doc_id"])
    return jobs, swept.value, text, [r["topic_weights"] for r in by_doc]


# θ file of _infer_and_write, and the jobs its transform + write fired,
# before the write sorted in one partition (a global orderBy re-ran the
# whole inference plan for its range-bound sample).
_THETA_SHA256 = "26bfd93c133cf6235a812969fc6f09c821f06cd501a0b08407cc552bbe15b9d5"
_JOBS_BEFORE = {True: 6, False: 6}


@pytest.mark.parametrize("single_file", [True, False], ids=["single_file", "directory"])
def test_inference_write_runs_sweep_once(spark, tmp_path, single_file):
    jobs, swept, text, weights = _infer_and_write(spark, tmp_path, single_file)
    lines = text.splitlines()
    assert len(lines) == len(weights) == 30
    # every doc crosses the sweep once: no second pass of the plan
    assert swept == len(lines)
    assert jobs <= _JOBS_BEFORE[single_file]
    # one line per doc in doc_id order, formatted as infer.cc:94-98
    for line, w in zip(lines, weights):
        assert np.allclose([float(x) for x in line.split()], w, atol=5e-7)
    # both modes write the same bytes, identical to the earlier writer
    assert hashlib.sha256(text.encode()).hexdigest() == _THETA_SHA256


def test_describe_topics(spark, tiny_result):
    df = tiny_result.raw_model.describe_topics(spark, top_n=5)
    rows = df.collect()
    assert {r["topic"] for r in rows} == {0, 1, 2}
    for r in rows:
        assert 1 <= r["rank"] <= 5
    # Top word of each topic belongs to the vocab block that topic owns.
    top1 = {r["topic"]: r["word"] for r in rows if r["rank"] == 1}
    for t, w in top1.items():
        block = int(w[1:]) // 10
        owner = int(tiny_result.raw_model.nwk[block * 10 : block * 10 + 10].sum(axis=0).argmax())
        assert owner == t


def test_umass_coherence(spark, tiny_result):
    """Coherence of recovered topics beats coherence of shuffled topics
    (words from the true disjoint vocab blocks co-occur; mixtures don't)."""
    from plda_spark.lda.evaluate import umass_coherence

    corpus = synthetic_corpus(spark)
    top = tiny_result.model.describe_topics(spark, top_n=5)
    res = {r["topic"]: r["coherence"] for r in umass_coherence(top, corpus).collect()}
    # Dense co-occurrence (every block word in ~every block doc) makes the
    # smoothed UMass score slightly positive here; the discriminating
    # property is recovered-vs-scrambled, below.
    assert len(res) == 3

    # Scrambled topics: round-robin words across topics → low co-occurrence.
    import pyspark.sql.functions as F

    scrambled = top.withColumn("topic", (F.col("rank") % 3).cast("int"))
    bad = {r["topic"]: r["coherence"] for r in umass_coherence(scrambled, corpus).collect()}
    assert sum(res.values()) > sum(bad.values())


def test_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: a run checkpointed at iteration 4 resumes and
    finishes with conserved counts and sane topics."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "ckpt")
    cfg = TrainConfig(
        num_topics=3, total_iterations=4, burn_in_iterations=2,
        seed=11, num_partitions=2, checkpoint_dir=ckpt, checkpoint_every=2,
    )
    train(corpus, cfg)  # writes checkpoints at iterations 2 and 4

    cfg2 = TrainConfig(
        num_topics=3, total_iterations=8, burn_in_iterations=2,
        seed=11, num_partitions=2,
    )
    res = train(corpus, cfg2, resume_from=ckpt)
    m = res.raw_model
    assert m.nwk.sum() == 30 * 20
    assert np.array_equal(m.nk, m.nwk.sum(axis=0))
    assert m.words == sorted(m.words)


def test_shuffle_aggregate_mode_identical(spark):
    """The shuffle pre-combine rebuild (large-P mode) must produce the
    same model bit-for-bit as the driver-side payload sum, and an
    invalid mode must be rejected."""
    from plda_spark.lda.train import TrainConfig, train

    import numpy as np

    triples = synthetic_corpus(spark, n_docs=30)
    base = dict(num_topics=4, total_iterations=3, burn_in_iterations=1,
                seed=9, num_partitions=3, compute_likelihood=True)
    a = train(triples, TrainConfig(**base, aggregate_mode="driver"))
    b = train(triples, TrainConfig(**base, aggregate_mode="shuffle"))
    assert np.array_equal(a.raw_model.nwk, b.raw_model.nwk)
    assert a.log_likelihood == pytest.approx(b.log_likelihood)

    with pytest.raises(ValueError):
        TrainConfig(num_topics=4, aggregate_mode="bogus").validate()


def test_join_mode_trains_and_recovers_topics(spark):
    """model_mode='join' (model-as-DataFrame, no V*K broadcast) must be a
    valid AD-LDA chain: counts conserved, LL improving, disjoint-vocab
    topics recovered, model_table consistent with the driver model."""
    corpus = synthetic_corpus(spark)
    cfg = TrainConfig(
        num_topics=3, total_iterations=25, burn_in_iterations=0,
        average_model=False, compute_likelihood=True, seed=7,
        num_partitions=3, model_mode="join",
    )
    res = train(corpus, cfg)
    m = res.raw_model
    assert m.nwk.sum() == 60 * 40
    assert np.array_equal(m.nk, m.nwk.sum(axis=0))
    lls = res.log_likelihood
    assert len(lls) == 25 and lls[-1] > lls[0]
    assert np.mean(lls[-5:]) > np.mean(lls[:5])
    owners = set()
    for t in range(3):
        block = m.nwk[t * 10 : (t + 1) * 10].sum(axis=0)
        assert block.max() / block.sum() > 0.85
        owners.add(int(block.argmax()))
    assert len(owners) == 3
    # model_table is the same model, distributed
    mt = {
        r["word_id"]: [int(c) for c in r["topic_counts"]]
        for r in res.model_table.collect()
    }
    for wid, row in enumerate(m.nwk):
        assert mt.get(wid, [0] * 3) == list(row)


def test_join_mode_deterministic_and_validated(spark):
    corpus = synthetic_corpus(spark, n_docs=20, doc_len=15)
    cfg = dict(num_topics=3, total_iterations=4, burn_in_iterations=0,
               average_model=False, seed=123, num_partitions=2,
               model_mode="join")
    m1 = train(corpus, TrainConfig(**cfg)).raw_model
    m2 = train(corpus, TrainConfig(**cfg)).raw_model
    assert np.array_equal(m1.nwk, m2.nwk)

    with pytest.raises(ValueError):
        TrainConfig(num_topics=3, model_mode="bogus").validate()
    with pytest.raises(ValueError):
        # join mode is mpi_lda semantics: averaging must be rejected
        TrainConfig(num_topics=3, model_mode="join", average_model=True).validate()


def test_join_mode_model_feeds_dataframe_inference(spark):
    """The 100 TB path end-to-end: join-trained model_table drives
    model-as-DataFrame inference without ever materializing V*K on the
    driver, and matches inference from the collected model."""
    from plda_spark.lda import infer

    corpus = synthetic_corpus(spark, n_docs=30)
    cfg = TrainConfig(
        num_topics=3, total_iterations=10, burn_in_iterations=0,
        average_model=False, seed=11, num_partitions=2, model_mode="join",
    )
    import pyspark.sql.functions as F

    res = train(corpus, cfg)
    model = res.raw_model
    new_docs = spark.createDataFrame(
        [(0, "w001", 5), (0, "w002", 5), (1, "w015", 10)],
        "doc_id long, word string, count int",
    )
    vocab = spark.createDataFrame(
        [(w, i) for i, w in enumerate(model.words)], "word string, word_id long"
    )
    from plda_spark.lda.vocab import remap_words

    triples = remap_words(new_docs, vocab).select("doc_id", "word_id", "count")
    # model_table is already (word_id, topic_counts double[]) — the
    # exact frame transform_model_df consumes, no rename or cast
    model_df = res.model_table
    df = infer.transform_model_df(
        model_df, model.nk, triples, alpha=cfg.alpha, beta=cfg.beta,
        total_iterations=12, burn_in_iterations=6, seed=3,
    )
    bc = infer.transform(
        model, new_docs, total_iterations=12, burn_in_iterations=6, seed=3
    )
    a = {r["doc_id"]: np.array(r["topic_weights"]) for r in df.collect()}
    b = {r["doc_id"]: np.array(r["topic_weights"]) for r in bc.collect()}
    assert set(a) == set(b) == {0, 1}
    for d in a:
        assert a[d].sum() == pytest.approx(b[d].sum())
        assert int(a[d].argmax()) == int(b[d].argmax())


def test_join_mode_checkpoint_resume_bit_identical(spark, tmp_path):
    """Join-mode resume is BIT-identical to an uninterrupted run: the
    sweep depends only on (assignments, model, iteration, pid) — all of
    which the checkpoint reproduces exactly (RNG streams are keyed by
    (seed, pid, iteration), not wall-clock or scheduling)."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "join_ckpt")
    base = dict(num_topics=3, burn_in_iterations=0, average_model=False,
                seed=31, num_partitions=2, model_mode="join")

    straight = train(corpus, TrainConfig(**base, total_iterations=4)).raw_model

    train(corpus, TrainConfig(**base, total_iterations=2,
                              checkpoint_dir=ckpt, checkpoint_every=2))
    resumed = train(
        corpus, TrainConfig(**base, total_iterations=4), resume_from=ckpt
    ).raw_model

    assert np.array_equal(straight.nwk, resumed.nwk)
    assert straight.words == resumed.words


def test_join_exchange_parity_words_vs_chunks(spark):
    """The two join-mode wire formats are BIT-identical: same RNG
    streams, same kernel inputs (chunk mode's dense n_wk holds the same
    values the words-mode slice holds for every word that occurs), so z
    evolution — and therefore model, LLs, and model_table — match
    exactly."""
    corpus = synthetic_corpus(spark, n_docs=30)
    base = dict(num_topics=3, total_iterations=4, burn_in_iterations=0,
                average_model=False, compute_likelihood=True, seed=7,
                num_partitions=3, model_mode="join")
    a = train(corpus, TrainConfig(**base, join_exchange="words"))
    b = train(corpus, TrainConfig(**base, join_exchange="chunks"))
    assert np.array_equal(a.raw_model.nwk, b.raw_model.nwk)
    assert a.log_likelihood == b.log_likelihood
    mt_a = sorted((r["word_id"], list(r["topic_counts"])) for r in a.model_table.collect())
    mt_b = sorted((r["word_id"], list(r["topic_counts"])) for r in b.model_table.collect())
    assert mt_a == mt_b


def test_join_exchange_words_checkpoint_resume(spark, tmp_path):
    """Explicit words-exchange resume stays bit-identical (the auto
    default on tiny corpora is chunks, so the words path needs its own
    resume pin)."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "join_ckpt_words")
    base = dict(num_topics=3, burn_in_iterations=0, average_model=False,
                seed=31, num_partitions=2, model_mode="join",
                join_exchange="words")
    straight = train(corpus, TrainConfig(**base, total_iterations=4)).raw_model
    train(corpus, TrainConfig(**base, total_iterations=2,
                              checkpoint_dir=ckpt, checkpoint_every=2))
    resumed = train(
        corpus, TrainConfig(**base, total_iterations=4), resume_from=ckpt
    ).raw_model
    assert np.array_equal(straight.nwk, resumed.nwk)


def test_join_exchange_checkpoint_geometry_wins(spark, tmp_path):
    """A checkpoint written under one exchange is resumed in that
    exchange even when the resuming config asks for the other — a chain
    must continue in the wire format it started with."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "join_ckpt_geom")
    base = dict(num_topics=3, burn_in_iterations=0, average_model=False,
                seed=31, num_partitions=2, model_mode="join")
    straight = train(
        corpus, TrainConfig(**base, total_iterations=4, join_exchange="chunks")
    ).raw_model
    train(corpus, TrainConfig(**base, total_iterations=2, join_exchange="chunks",
                              checkpoint_dir=ckpt, checkpoint_every=2))
    resumed = train(
        corpus,
        TrainConfig(**base, total_iterations=4, join_exchange="words"),
        resume_from=ckpt,
    ).raw_model
    assert np.array_equal(straight.nwk, resumed.nwk)


def test_join_exchange_auto_resolution():
    from plda_spark.lda.train import (
        _CHUNK_DENSE_COPIES, _CHUNK_TASK_BUDGET_BYTES, _resolve_join_exchange,
    )

    cfg = TrainConfig(num_topics=10, average_model=False, model_mode="join")
    # token-rich + dense-affordable -> chunks
    assert _resolve_join_exchange(cfg, 1000, 1000 * 8, 4) == "chunks"
    # token-poor partitions -> words (slicing genuinely prunes)
    assert _resolve_join_exchange(cfg, 1000, 1000, 4) == "words"
    # dense block past the per-task budget -> words
    big_v = _CHUNK_TASK_BUDGET_BYTES // (_CHUNK_DENSE_COPIES * 10 * 8) + 1
    assert _resolve_join_exchange(cfg, big_v, big_v * 100, 4) == "words"
    # bytes-based replication-volume cutover: chunks ship P full model
    # copies per iteration (P·V·K·8 wire bytes); past the budget 'auto'
    # must fall back to words even though the block fits one task.
    # V=100k, K=10: dense 8 MB (dense_ok), token-rich.  P=1000 ->
    # 8 GB volume, inside the 8 GiB default -> still chunks; V=200k at
    # P=1000 -> 16 GB -> words.
    assert _resolve_join_exchange(cfg, 100_000, 100_000 * 1000, 1000) == "chunks"
    assert _resolve_join_exchange(cfg, 200_000, 200_000 * 1000, 1000) == "words"
    # and the budget is configurable: shrink it and the same geometry
    # that picked chunks cuts over to words
    tight = TrainConfig(num_topics=10, average_model=False, model_mode="join",
                        join_exchange_budget_bytes=1 << 30)
    assert _resolve_join_exchange(tight, 100_000, 100_000 * 1000, 1000) == "words"
    assert _resolve_join_exchange(tight, 100_000, 100_000 * 4, 4) == "chunks"
    # explicit settings win over the heuristic
    for forced in ("words", "chunks"):
        f = TrainConfig(num_topics=10, average_model=False, model_mode="join",
                        join_exchange=forced)
        assert _resolve_join_exchange(f, 1000, 0, 4) == forced
    with pytest.raises(ValueError):
        TrainConfig(num_topics=3, model_mode="join", average_model=False,
                    join_exchange="bogus").validate()
    with pytest.raises(ValueError):
        TrainConfig(num_topics=3, model_mode="join", average_model=False,
                    join_exchange_budget_bytes=0).validate()


def test_chunk_grid_geometry():
    from plda_spark.lda.train import _chunk_grid

    # chunk count >= parallelism (rebuild parallelism), covers V exactly
    c, w = _chunk_grid(100_000, 10, 32)
    assert c >= 32 and (c - 1) * w < 100_000 <= c * w
    # tiny vocab: never more chunks than words
    c, w = _chunk_grid(5, 10, 32)
    assert c <= 5 and c * w >= 5
    # huge V*K: chunks shrink toward the target byte size
    c, w = _chunk_grid(10_000_000, 100, 32)
    assert w * 100 * 8 <= 8 << 20


def test_join_resume_uses_checkpointed_partition_count(spark, tmp_path):
    """Assignment rows carry pids baked from the original P; a resume
    with a different num_partitions (new machine, changed config) must
    continue in the CHECKPOINTED geometry, not the new one — otherwise
    pids >= new-P would get empty model groups and corrupt silently."""
    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "join_ckpt_p")
    base = dict(num_topics=3, burn_in_iterations=0, average_model=False,
                seed=31, model_mode="join", join_exchange="chunks")
    straight = train(
        corpus, TrainConfig(**base, total_iterations=4, num_partitions=3)
    ).raw_model
    train(corpus, TrainConfig(**base, total_iterations=2, num_partitions=3,
                              checkpoint_dir=ckpt, checkpoint_every=2))
    resumed = train(
        corpus,
        TrainConfig(**base, total_iterations=4, num_partitions=2),
        resume_from=ckpt,
    ).raw_model
    assert np.array_equal(straight.nwk, resumed.nwk)


def test_join_resume_from_legacy_checkpoint_format(spark, tmp_path):
    """A round-3-era join checkpoint (npz without exchange /
    chunk_width / num_partitions fields) must resume on the words
    exchange with the word_pid table — the pre-field layout."""
    import os

    corpus = synthetic_corpus(spark, n_docs=30, doc_len=20)
    ckpt = str(tmp_path / "legacy_ckpt")
    base = dict(num_topics=3, burn_in_iterations=0, average_model=False,
                seed=31, num_partitions=2, model_mode="join",
                join_exchange="words")
    straight = train(corpus, TrainConfig(**base, total_iterations=4)).raw_model
    train(corpus, TrainConfig(**base, total_iterations=2,
                              checkpoint_dir=ckpt, checkpoint_every=2))
    # strip the round-4 fields to simulate the legacy npz layout
    p = os.path.join(ckpt, "join_state.npz")
    state = dict(np.load(p, allow_pickle=True))
    for k in ("exchange", "chunk_width", "num_partitions"):
        state.pop(k)
    np.savez(p, **state)
    resumed = train(
        corpus, TrainConfig(**base, total_iterations=4), resume_from=ckpt
    ).raw_model
    assert np.array_equal(straight.nwk, resumed.nwk)

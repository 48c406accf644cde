"""Tests of the benchmark's own parts: seeded inputs and the event-log reader.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import curation  # noqa: E402
from corpus import CorpusShape, generate, write_plda_files  # noqa: E402
from eventlog import UNGROUPED, Counters, per_unit, read_counters  # noqa: E402

SMALL = CorpusShape(vocab_size=2000, train_docs=60, heldout_docs=12,
                    mean_doc_len=40, planted_topics=4)
SMALL_TABLE = curation.TableShape(base_docs=300, clusters=40, junk_docs=20, vocab_size=3000)
FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def _write_corpus(directory, seed):
    train, heldout = generate(SMALL, seed)
    return (write_plda_files(train, os.path.join(directory, "train"), 3)
            + write_plda_files(heldout, os.path.join(directory, "heldout"), 1))


def _same_files(a, b) -> bool:
    return ([os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
            and all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b)))


def test_corpus_same_seed_same_bytes(tmp_path):
    assert _same_files(_write_corpus(tmp_path / "a", 7), _write_corpus(tmp_path / "b", 7))


def test_corpus_other_seed_other_bytes(tmp_path):
    assert not _same_files(_write_corpus(tmp_path / "a", 7), _write_corpus(tmp_path / "b", 8))


def test_corpus_is_plda_text(tmp_path):
    train, _ = generate(SMALL, 3)
    paths = write_plda_files(train, str(tmp_path), 3)
    lines = [line for p in paths for line in open(p, encoding="utf-8").read().splitlines()]
    assert len(lines) == SMALL.train_docs
    tokens = 0
    for line in lines:
        parts = line.split()
        assert parts and len(parts) % 2 == 0
        words, counts = parts[0::2], [int(c) for c in parts[1::2]]
        assert len(set(words)) == len(words) and min(counts) >= 1
        tokens += sum(counts)
    assert tokens == train.tokens


def test_corpus_word_names_distinct():
    train, _ = generate(CorpusShape(vocab_size=100_000, train_docs=1, heldout_docs=1,
                                    mean_doc_len=1, planted_topics=2), 1197924196)
    assert len(set(train.words)) == len(train.words)


def _write_table(directory, seed):
    return curation.write_table(curation.generate(SMALL_TABLE, seed), str(directory), 3)


def test_table_same_seed_same_bytes(tmp_path):
    assert _same_files(_write_table(tmp_path / "a", 5), _write_table(tmp_path / "b", 5))


def test_table_other_seed_other_bytes(tmp_path):
    assert not _same_files(_write_table(tmp_path / "a", 5), _write_table(tmp_path / "b", 6))


def _tokens(text: str) -> list[str]:
    # the library's token rule: lower-case, split on non-alphanumerics, length >= 2
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if len(t) >= 2]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_table_plants_what_the_checks_expect(seed):
    p = curation.generate(SMALL_TABLE, seed)
    assert len(set(p.doc_id.tolist())) == len(p.doc_id)
    # every cluster keeps its smallest id, every other base doc survives,
    # every junk doc is filtered out
    assert len(p.survivors) == SMALL_TABLE.base_docs
    assert all(min(c) in p.survivors for c in p.clusters)
    text_of = dict(zip(p.doc_id.tolist(), p.text))
    for members in p.clusters:
        words = [set(_tokens(text_of[d])) for d in members]
        assert all(len(w ^ words[0]) <= 2 for w in words)   # one word replaced at most
    # quality margin: real docs repeat well under half their tokens
    # (quality_score's repetition penalty starts at 0.5), junk repeats one word
    for d, text in text_of.items():
        toks = _tokens(text)
        dup = 1 - len(set(toks)) / len(toks)
        if d in p.survivors:
            assert dup < 0.45 and len(toks) >= 10
        elif d not in p.kept or d in p.components:
            continue
        else:
            assert dup > 0.9


def test_eventlog_counters_by_group():
    groups = read_counters(FIXTURE)
    assert set(groups) == {UNGROUPED, "g.pandas", "g.rdd", "it.3", "it.1"}

    pandas = groups["g.pandas"]
    # mapInPandas then a global count: one job, a 2-task map stage, a 1-task reduce stage
    assert (pandas.jobs, pandas.stages, pandas.single_task_stages, pandas.tasks) == (1, 2, 1, 3)
    assert pandas.python_sent_bytes > 0 and pandas.python_returned_bytes > 0
    assert pandas.shuffle_write_bytes > 0
    assert pandas.shuffle_read_bytes == pandas.shuffle_write_bytes
    assert pandas.python_rdd_input_bytes == 0

    rdd = groups["g.rdd"]
    # zipWithIndex over a PythonRDD: the index job, then the count job
    assert (rdd.jobs, rdd.stages, rdd.tasks) == (2, 2, 4)
    assert rdd.python_sent_bytes == rdd.python_returned_bytes == 0

    for c in groups.values():
        assert c.executor_cpu_s > 0 and c.result_bytes > 0
        assert 0 < c.job_s < 60
    assert sum(groups["it.3"].call_sites.values()) == groups["it.3"].jobs == 3


def test_difference_method_per_iteration():
    groups = read_counters(FIXTURE)
    it = per_unit(groups["it.3"], groups["it.1"], 2)
    # each iteration is one job of one 2-task stage
    assert (it["jobs"], it["stages"], it["tasks"]) == (1, 1, 2)
    assert it["python_sent_bytes"] > 0


def test_counts_do_not_depend_on_call_site_lines(tmp_path):
    """Editing the program moves every call site's line number; the
    counters, keyed by job group, must not move with them."""
    shifted = tmp_path / "shifted.jsonl"
    with open(FIXTURE, encoding="utf-8") as src, open(shifted, "w", encoding="utf-8") as dst:
        for line in src:
            text = re.sub(r"(\.py):(\d+)", lambda m: f"{m.group(1)}:{int(m.group(2)) + 37}", line)
            dst.write(text)
    a, b = read_counters(FIXTURE), read_counters(str(shifted))
    assert set(a) == set(b)
    assert any(a[g].call_sites != b[g].call_sites for g in a)
    for group in a:
        assert per_unit(a[group], Counters(), 1) == per_unit(b[group], Counters(), 1)
    assert per_unit(a["it.3"], a["it.1"], 2) == per_unit(b["it.3"], b["it.1"], 2)


def test_counters_arithmetic():
    groups = read_counters(FIXTURE)
    a, b = groups["g.pandas"], groups["g.rdd"]
    both = a + b
    assert both.jobs == a.jobs + b.jobs
    assert (both - b).tasks == a.tasks
    assert (both - b).executor_cpu_s == pytest.approx(a.executor_cpu_s)
    assert both.python_bytes == a.python_bytes + b.python_bytes

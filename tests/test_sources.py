"""Source/sink format tests (SURVEY.md §5.2-2, FIXTURES.md F1/F4/F5)."""

import glob
import os

import numpy as np
import pytest

from plda_spark.lda.model import LDAModel
from pyspark.sql import functions as F
from plda_spark.sources import read_plda_corpus, read_uci_docword, write_plda_corpus


@pytest.fixture()
def plda_file(tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text(
        "# a comment line to be skipped\n"
        "apple 2 banana 1 cherry 3\n"
        "\n"
        "banana 4\n"
        "date 1 apple 1\n"
    )
    return str(p)


def test_read_plda_corpus(spark, plda_file):
    rows = read_plda_corpus(spark, plda_file).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["word"]] = r["count"]
    # Comment + blank skipped; doc ids are line order of kept lines.
    assert by_doc == {
        0: {"apple": 2, "banana": 1, "cherry": 3},
        1: {"banana": 4},
        2: {"date": 1, "apple": 1},
    }


def test_plda_roundtrip(spark, plda_file, tmp_path):
    corpus = read_plda_corpus(spark, plda_file)
    out = str(tmp_path / "out")
    write_plda_corpus(corpus, out)
    again = read_plda_corpus(spark, out)
    a = {(r["doc_id"], r["word"], r["count"]) for r in corpus.collect()}
    b = {(r["doc_id"], r["word"], r["count"]) for r in again.collect()}
    assert a == b


def test_model_text_serde_parity(tmp_path):
    # Reader semantics of model.cc:113-153: line-order ids, float->int64
    # truncation, skip blank/# lines.
    p = tmp_path / "model.txt"
    p.write_text(
        "zebra\t3.7 2 1.2\n"
        "# comment\n"
        "\n"
        "apple\t0 5 4\n"
    )
    m = LDAModel.load_text(str(p))
    assert m.words == ["zebra", "apple"]  # file order, NOT sorted
    assert m.nwk.tolist() == [[3, 2, 1], [0, 5, 4]]  # 3.7 truncated to 3
    assert m.nk.tolist() == [3, 7, 5]  # recomputed by summation
    # Round trip: int counts written without decimals, tab after word.
    out = tmp_path / "out.txt"
    m.save_text(str(out))
    assert out.read_text() == "zebra\t3 2 1\napple\t0 5 4\n"


def test_model_text_float_format_and_bad_files(tmp_path):
    """Averaged (float64) models stream like C++ ``operator<<(double)``;
    ragged, empty, non-numeric and non-finite/out-of-range counts raise
    instead of loading (or wrapping) silently."""
    out = tmp_path / "avg.txt"
    LDAModel(np.array([[2500000.0, 0.5], [1.0, 1 / 3]]), ["a", "b"]).save_text(str(out))
    assert out.read_text() == "a\t2.5e+06 0.5\nb\t1 0.333333\n"
    assert LDAModel.load_text(str(out)).nwk.tolist() == [[2500000, 0], [1, 0]]
    # per-value loop reference of the writer and the reader
    rng = np.random.default_rng(4)
    words = [f"w{i}" for i in range(50)]
    for nwk in (rng.integers(0, 10**12, (50, 7)), rng.gamma(0.3, 1e4, (50, 7))):
        fmt = (lambda v: f"{float(v):g}") if nwk.dtype.kind == "f" else (lambda v: str(int(v)))
        LDAModel(nwk, words).save_text(str(out))
        text = out.read_text()
        assert text == "".join(
            f"{w}\t{' '.join(fmt(v) for v in row)}\n" for w, row in zip(words, nwk)
        )
        ref = [[int(float(x)) for x in line.split()[1:]] for line in text.splitlines()]
        assert LDAModel.load_text(str(out)).nwk.tolist() == ref
    bad = {
        "ragged": ("a\t1 2\nb\t3\n", "ragged"),
        "no_counts": ("a\nb\n", "ragged"),
        "empty": ("# only\n\n", "no model lines"),
        "word": ("a\t1 x\n", "could not convert"),
        "nan": ("a\t1 nan\n", "non-finite"),
        "inf": ("a\t-inf 1\n", "non-finite"),
        "huge": ("a\t1 1e19\n", "out-of-int64-range"),
    }
    for name, (text, msg) in bad.items():
        p = tmp_path / f"{name}.txt"
        p.write_text(text)
        with pytest.raises(ValueError, match=msg):
            LDAModel.load_text(str(p))


def test_model_parquet_roundtrip(spark, tmp_path):
    nwk = np.array([[1.5, 2.0], [3.0, 4.25]])
    m = LDAModel(nwk, ["aa", "bb"], alpha=0.2, beta=0.05)
    path = str(tmp_path / "model_pq")
    m.save(spark, path)
    m2 = LDAModel.load(spark, path)
    assert np.allclose(m2.nwk, nwk)
    assert m2.words == ["aa", "bb"]
    assert (m2.alpha, m2.beta) == (0.2, 0.05)


def test_uci_reader(spark, tmp_path):
    (tmp_path / "docword.txt").write_text(
        "3\n4\n5\n1 1 2\n1 3 1\n2 2 4\n3 1 1\n3 4 2\n"
    )
    (tmp_path / "vocab.txt").write_text("alpha\nbeta\ngamma\ndelta\n")
    rows = read_uci_docword(
        spark, str(tmp_path / "docword.txt"), str(tmp_path / "vocab.txt")
    ).collect()
    got = {(r["doc_id"], r["word"], r["count"]) for r in rows}
    # 1-based -> 0-based; first and last docs NOT dropped (reference bug not kept).
    assert got == {
        (0, "alpha", 2),
        (0, "gamma", 1),
        (1, "beta", 4),
        (2, "alpha", 1),
        (2, "delta", 2),
    }


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    from plda_spark.sources import jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "wiki"}\n'
        "this line is not json at all\n"
        '{"doc_id": 3, "text": null, "lang": "en", "source": "web"}\n'
    )
    clean, corrupt = jsonl.read_jsonl_with_errors(spark, str(p))
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["lang"] == "fr" and rows[3]["text"] is None
    bad = corrupt.collect()
    assert len(bad) == 1 and "not json" in bad[0]["raw_line"]
    assert jsonl.read_jsonl(spark, str(p)).count() == 3


def test_write_dataset_deterministic_shards(spark, tmp_path):
    from plda_spark.sources import jsonl

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    jsonl.write_dataset(df, out_a, shards=4)
    # different input partitioning, same bytes-level layout
    jsonl.write_dataset(df.repartition(13), out_b, shards=4)

    import glob
    import hashlib

    def digests(d):
        out = {}
        for f in sorted(glob.glob(f"{d}/part-*.parquet")):
            rows = spark.read.parquet(f).collect()
            h = hashlib.md5(str([tuple(r) for r in rows]).encode()).hexdigest()
            out[f.split("/")[-1].split("-")[1]] = h  # shard ordinal
        return out

    assert digests(out_a) == digests(out_b)


def test_csv_roundtrip_and_quarantine(spark, tmp_path):
    """CSV writer → PERMISSIVE declared-schema reader: clean rows round-
    trip exactly (including quoted embedded delimiters/newlines); rows
    with bad casts are quarantined with their raw line, never dropped
    silently or fatal."""
    from plda_spark.sources import csv as csv_src

    rows = [
        (0, 'plain text', 'en', 'src1'),
        (1, 'comma, "quote" and\nnewline', 'fr', 'src2'),
        (2, 'tail', 'es', 'src3'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    path = str(tmp_path / "corpus")
    csv_src.write_csv(df, path)
    # plant a malformed row (bad cast on doc_id) in its own header'd file
    # — realistic corrupt shard: the header parses, the data row doesn't
    spark.createDataFrame(
        [("doc_id,text,lang,source",), ("xx,oops,en,src1",)], "value string"
    ).coalesce(1).write.mode("append").text(path)

    # multiLine=True: the embedded-newline row needs whole-file parsing
    # (non-splittable — the documented trade-off; default stays off)
    clean, corrupt = csv_src.read_csv_with_errors(spark, path, multiLine=True)
    got = {r["doc_id"]: r for r in clean.collect()}
    assert set(got) == {0, 1, 2}
    assert got[1]["text"] == 'comma, "quote" and\nnewline'
    bad = corrupt.collect()
    assert len(bad) == 1 and "oops" in bad[0]["raw_line"]
    assert csv_src.read_csv(spark, path, multiLine=True).count() == 3


def test_write_dataset_orc_roundtrip(spark, tmp_path):
    """The deterministic sharded writer must round-trip through ORC as
    well as parquet (fmt is pluggable; Spark's ORC datasource carries
    identical schemas for these types)."""
    from plda_spark.sources import jsonl
    from plda_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "orc_out")
    jsonl.write_dataset(docs, out, key_col="doc_id", shards=4, fmt="orc")
    back = spark.read.orc(out)
    assert back.count() == docs.count()
    assert back.schema == docs.schema
    a = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    b = {r["doc_id"]: (r["text"], r["lang"]) for r in docs.collect()}
    assert a == b


def test_run_sql_over_registered_tables(spark):
    from plda_spark.sql import register_tables, run_sql

    names = register_tables(spark, "/root/testdata/sf0.001")
    assert "lineitem" in names and "documents" in names
    df = run_sql(
        spark,
        "/root/testdata/sf0.001",
        """
        SELECT n_name, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3
        """,
    )
    rows = df.collect()
    assert len(rows) == 3 and all(r["n"] > 0 for r in rows)


def test_plda_reader_tolerates_malformed_counts(spark, tmp_path):
    """A garbage count token must drop that pair (reference atoi()->0
    semantics, lda.cc:61-79), never abort the job under ANSI cast; a
    line with an odd token count loses only its dangling pair."""
    p = tmp_path / "corpus.txt"
    p.write_text(
        "# header\n"
        "good 2 fine 1\n"
        "concert music 2 ticket 1\n"   # every pair misaligned -> all drop
        "word NaNish 3\n"              # (word,NaNish)->drop, dangling 3
        "ok 1 bad x tail 4\n"          # good pairs survive around a bad one
    )
    from plda_spark.sources.plda_text import read_plda_corpus

    got = {
        (r["doc_id"], r["word"]): r["count"]
        for r in read_plda_corpus(spark, str(p)).collect()
    }
    assert got == {(0, "good"): 2, (0, "fine"): 1, (3, "ok"): 1, (3, "tail"): 4}


def _kept_lines(spark, path):
    """The lines read_plda_corpus keeps, as a one-column frame."""
    return spark.read.text(path).where(
        (F.length(F.trim("value")) > 0) & ~F.col("value").startswith("#")
    )


def _line_of_doc(corpus):
    """doc_id → the line's ``f…`` key word (one per line below)."""
    return {r["doc_id"]: r["word"] for r in corpus.where(F.col("word").startswith("f")).collect()}


def test_plda_reader_ids_match_zip_with_index(spark, tmp_path):
    """Doc ids are dense line-order ids equal to ``zipWithIndex`` over the
    kept lines, on a corpus that reads as several partitions (with
    comments, blank lines and a file of comments only)."""
    d = tmp_path / "corpus"
    d.mkdir()
    for i in range(3):
        (d / f"part{i}.txt").write_text(
            "# header\n"
            + "".join(
                "\n" if j % 5 == 2 else f"# note {j}\n" if j % 5 == 4 else f"f{i}l{j} 1 common 2\n"
                for j in range(12 + 4 * i)
            )
        )
    (d / "part9.txt").write_text("# only\n\n# comments\n")
    kept = _kept_lines(spark, str(d))
    assert kept.rdd.getNumPartitions() >= 3
    oracle = {
        i: line.split()[0]
        for line, i in kept.rdd.map(lambda r: r["value"]).zipWithIndex().collect()
    }
    got = _line_of_doc(read_plda_corpus(spark, str(d)))
    assert sorted(got) == list(range(len(oracle))) and got == oracle


def test_plda_reader_ids_single_partition_and_all_comments(spark, tmp_path):
    one = tmp_path / "one.txt"
    one.write_text("f0 1\n# c\n\nf1 2 x 1\n  \nf2 3\n")
    assert _kept_lines(spark, str(one)).rdd.getNumPartitions() == 1
    assert _line_of_doc(read_plda_corpus(spark, str(one))) == {0: "f0", 1: "f1", 2: "f2"}
    comments = tmp_path / "comments.txt"
    comments.write_text("# only\n\n# comments\n")
    empty = read_plda_corpus(spark, str(comments))
    assert empty.columns == ["doc_id", "word", "count"] and empty.collect() == []


def test_uci_vocab_ids_are_stripped_line_numbers(spark, tmp_path):
    """word_id is the vocab line number; words are whitespace-stripped
    (tabs and non-breaking spaces too) and blank lines keep their id."""
    (tmp_path / "docword.txt").write_text("2\n4\n3\n1 1 2\n1 4 1\n2 2 5\n")
    (tmp_path / "vocab.txt").write_text(" alpha\t\nbeta\u00a0\n\ndelta  \n")
    rows = read_uci_docword(
        spark, str(tmp_path / "docword.txt"), str(tmp_path / "vocab.txt")
    ).collect()
    got = {(r["doc_id"], r["word"], r["count"]) for r in rows}
    assert got == {(0, "alpha", 2), (0, "delta", 1), (1, "beta", 5)}


def test_zorder_value_interleaves_bits(spark):
    from plda_spark.operators import dedup  # noqa: F401  (session warm)
    from plda_spark.sources.zorder import zvalue_col

    df = spark.createDataFrame([(3, 5)], "a long, b long")
    # a=0b011, b=0b101 interleaved (a at even positions): 0b100111 = 39
    got = df.select(zvalue_col(["a", "b"], bits=3).alias("z")).collect()[0]["z"]
    assert got == 0b100111

    import pytest

    with pytest.raises(ValueError):
        zvalue_col([], bits=3)
    with pytest.raises(ValueError):
        zvalue_col(["a", "b"], bits=32)


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    """Each z-ordered output file must cover a small hyper-rectangle:
    the mean per-file value range on EACH key column is far below the
    global range (the property min/max pruning exploits)."""
    import pyspark.sql.functions as F
    from plda_spark.sources.zorder import write_zordered

    n = 1 << 12
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
            F.col("id").alias("payload"),
        )
    )
    out = str(tmp_path / "zordered")
    write_zordered(df, ["x", "y"], out, num_files=16, bits=6)

    back = spark.read.parquet(out)
    assert back.count() == n and set(back.columns) == {"x", "y", "payload"}
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("rx"),
            (F.max("y") - F.min("y")).alias("ry"),
        )
        .agg(F.avg("rx").alias("rx"), F.avg("ry").alias("ry"), F.count(F.lit(1)).alias("nf"))
        .collect()[0]
    )
    assert per_file["nf"] >= 8
    # global range is 63 on both axes; clustered files must be much tighter
    assert per_file["rx"] < 32 and per_file["ry"] < 32


def test_csv_no_cache_leak_and_header_identical_data_row(spark, tmp_path):
    """(a) the multiLine quarantine path must not pin a session-lifetime
    cache; (b) an all-string data row byte-identical to the header must
    survive the write->read round trip (quoteAll write)."""
    from pyspark.sql import types as T
    from plda_spark.sources import csv as csv_src

    spark.catalog.clearCache()
    sch = T.StructType(
        [T.StructField("name", T.StringType()), T.StructField("value", T.StringType())]
    )
    rows = [("name", "value"), ("a", "b")]  # first row EQUALS the header text
    df = spark.createDataFrame(rows, sch)
    path = str(tmp_path / "tricky")
    csv_src.write_csv(df, path)

    got = {(r["name"], r["value"]) for r in csv_src.read_csv(spark, path, schema=sch).collect()}
    assert got == set(rows)

    clean, corrupt = csv_src.read_csv_with_errors(
        spark, path, schema=sch, multiLine=True
    )
    assert clean.count() == 2 and corrupt.count() == 0
    # the parse cache must not outlive the call: the session-level
    # CacheManager (which GC never cleans) stays empty; the returned
    # frames live in their own GC-cleaned checkpoint blocks instead
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_wet_roundtrip_tricky_payloads(spark, tmp_path):
    """WET records must round-trip byte-for-byte: Content-Length is
    UTF-8 OCTETS, and payloads embedding 'WARC/1.0' or blank lines must
    not confuse the reader (it walks by Content-Length, never by
    marker search)."""
    from plda_spark.sources import wet

    rows = [
        (0, "plain ascii"),
        (1, "unicode: café 中文 \U0001f600"),
        (2, "embedded marker WARC/1.0\r\n\r\nWARC-Type: fake\r\n"),
        (3, ""),
        (4, "line1\nline2\r\nline3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for gz in (False, True):
        path = str(tmp_path / f"wet_{gz}")
        wet.write_wet(docs, path, compress=gz)
        back = wet.read_wet(spark, path)
        got = {
            int(r["url"].rsplit("/", 1)[1]): (r["text"], r["content_length"])
            for r in back.collect()
        }
        assert got == {
            d: (t, len(t.encode("utf-8"))) for d, t in rows
        }, f"compress={gz}"


def test_wet_skips_warcinfo_and_fails_loudly_on_truncation(spark, tmp_path):
    from plda_spark.sources import wet

    good = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
        b"info body"
        b"\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Target-URI: http://x/7\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: 5\r\n\r\nhello\r\n\r\n"
    )
    d = tmp_path / "wet_ok"
    d.mkdir()
    (d / "a.warc.wet").write_bytes(good)
    rows = wet.read_wet(spark, str(d)).collect()
    # warcinfo (no target URI) skipped; the conversion record survives
    assert [(r["url"], r["text"]) for r in rows] == [("http://x/7", "hello")]

    # a record whose declared payload runs past EOF must raise with the
    # file and offset, not silently emit a short document
    bad = good[:-9]  # chop into the final payload
    d2 = tmp_path / "wet_bad"
    d2.mkdir()
    (d2 / "b.warc.wet").write_bytes(bad)
    import pytest as _pytest

    with _pytest.raises(Exception, match="truncated"):
        wet.read_wet(spark, str(d2)).collect()


def test_wet_write_rejects_null_documents(spark, tmp_path):
    """A NULL text/id would make the record expression NULL and the
    text sink would silently write nothing — write_wet must raise
    (executor-side) instead of dropping documents."""
    import pytest as _pytest

    from plda_spark.sources import wet

    bad = spark.createDataFrame(
        [(0, "fine"), (1, None)], "doc_id long, text string"
    )
    with _pytest.raises(Exception, match="NULL"):
        wet.write_wet(bad, str(tmp_path / "w"))


def test_warc_roundtrip_html_payloads(spark, tmp_path):
    """Raw WARC response records must round-trip: both Content-Lengths
    are UTF-8 octets, payloads embedding 'WARC/1.0' or blank lines must
    not confuse the Content-Length walker, and extract_html_text must
    recover entity-escaped text exactly."""
    from plda_spark.sources import warc

    rows = [
        (0, "<html><body><p>plain ascii</p></body></html>"),
        (1, "<p>unicode: café 中文 \U0001f600</p>"),
        (2, "<p>embedded marker WARC/1.0\r\n\r\nWARC-Type: fake</p>"),
        (3, "<p>entities: &lt;b&gt;not bold&lt;/b&gt; &amp; fine</p>"),
        (4, "<script>skip me</script><h1>kept</h1>"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, html string")
    for gz in (False, True):
        path = str(tmp_path / f"warc_{gz}")
        warc.write_warc(docs, path, compress=gz)
        back = warc.read_warc(spark, path)
        got = {
            int(r["url"].rsplit("/", 1)[1]): r for r in back.collect()
        }
        assert set(got) == {0, 1, 2, 3, 4}, f"compress={gz}"
        for d, h in rows:
            r = got[d]
            assert r["html"] == h
            assert r["http_status"] == 200
            assert r["content_type"] == "text/html; charset=utf-8"
        ext = {
            int(r["url"].rsplit("/", 1)[1]): r["text"]
            for r in warc.extract_html_text(back).collect()
        }
        assert ext[0] == "plain ascii"
        assert ext[3] == "entities: <b>not bold</b> & fine"
        assert ext[4] == "kept"


def test_warc_skips_non_response_and_fails_loudly_on_truncation(spark, tmp_path):
    from plda_spark.sources import warc

    http = b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n<p>gone</p>"
    good = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
        b"info body\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: http://x/7\r\nContent-Length: 4\r\n\r\nGET /\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x/7\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
    )
    d = tmp_path / "warc_ok"
    d.mkdir()
    (d / "a.warc").write_bytes(good)
    rows = warc.read_warc(spark, str(d)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["url"], r["http_status"], r["html"]) == ("http://x/7", 404, "<p>gone</p>")
    assert r["content_type"] == "text/html"

    bad = good[:-9]  # chop into the final payload
    d2 = tmp_path / "warc_bad"
    d2.mkdir()
    (d2 / "b.warc").write_bytes(bad)
    with pytest.raises(Exception, match="truncated"):
        warc.read_warc(spark, str(d2)).collect()


def test_warc_http_oddities_degrade_not_kill(spark, tmp_path):
    """WARC STRUCTURE errors raise; HTTP-level oddities inside a valid
    record must degrade (NULL status / raw body), because one bad
    origin server must not kill a 100k-shard job."""
    from plda_spark.sources import warc

    chunked_http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
        b"Content-Type: text/html\r\n\r\n"
        b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    )
    weird = b"no http header block at all"
    badcharset = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=not-a-codec\r\n\r\n"
        b"<p>ok</p>"
    )
    quoted = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=\"iso-8859-1\"\r\n\r\n"
        b"<p>caf\xe9</p>"
    )

    def rec(uri: bytes, payload: bytes) -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " + uri
            + b"\r\nContent-Length: " + str(len(payload)).encode()
            + b"\r\n\r\n" + payload + b"\r\n\r\n"
        )

    d = tmp_path / "warc_odd"
    d.mkdir()
    (d / "a.warc").write_bytes(
        rec(b"http://x/1", chunked_http) + rec(b"http://x/2", weird)
        + rec(b"http://x/3", badcharset) + rec(b"http://x/4", quoted)
    )
    got = {r["url"]: r for r in warc.read_warc(spark, str(d)).collect()}
    assert got["http://x/1"]["html"] == "hello world"  # de-chunked
    assert got["http://x/2"]["http_status"] is None
    assert got["http://x/2"]["html"] == "no http header block at all"
    assert got["http://x/3"]["html"] == "<p>ok</p>"  # charset fallback
    assert "café" in got["http://x/4"]["html"]  # quoted charset labels decode


def test_warc_write_rejects_null_documents(spark, tmp_path):
    from plda_spark.sources import warc

    bad = spark.createDataFrame(
        [(0, "<p>fine</p>"), (1, None)], "doc_id long, html string"
    )
    with pytest.raises(Exception, match="NULL"):
        warc.write_warc(bad, str(tmp_path / "w"))


def test_extract_html_text_null_and_passthrough(spark):
    from plda_spark.sources import warc

    df = spark.createDataFrame(
        [(0, "<p>a</p>", "k0"), (1, None, "k1")],
        "doc_id long, html string, extra string",
    )
    got = {r["doc_id"]: r for r in warc.extract_html_text(df).collect()}
    assert got[0]["text"] == "a" and got[0]["extra"] == "k0"
    assert got[1]["text"] is None and got[1]["extra"] == "k1"


def test_compact_parquet_unpartitioned_preserves_content(spark, tmp_path):
    """Compacting a many-small-files dataset must preserve content
    row-for-row, hit ~the planned file count, and refuse in-place."""
    from plda_spark.sources import compact
    from plda_spark.sources.tables import load_table

    src = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    orders.repartition(64).write.parquet(src)
    before = compact.dataset_file_stats(spark, src)
    assert before["n_files"] == 64

    target = max(1, before["total_bytes"] // 4)
    report = compact.compact_parquet(spark, src, out, target_file_bytes=target)
    assert report["files_before"] == 64
    assert report["files_after"] == report["n_output_files"] <= 6
    # content identical row-for-row (multiset equality both ways)
    a, b = spark.read.parquet(src), spark.read.parquet(out)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    with pytest.raises(ValueError, match="in-place"):
        compact.compact_parquet(spark, src, src + "/")
    with pytest.raises(ValueError, match="target_file_bytes"):
        compact.compact_parquet(spark, src, out, target_file_bytes=0)


def test_compact_parquet_partitioned_bin_packs_per_dir(spark, tmp_path):
    """Partitioned compaction must keep the directory layout, bin-pack
    WITHIN each partition (skewed partitions get more files), and fail
    loudly when partition_cols doesn't match the layout."""
    from pyspark.sql import functions as F

    from plda_spark.sources import compact
    from plda_spark.sources.tables import load_table

    src = str(tmp_path / "part_small")
    out = str(tmp_path / "part_compacted")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    # 3-way skewed partition column + many files per partition
    part = orders.withColumn(
        "bucket", (F.col("o_orderkey") % 3 == 0).cast("int") * F.lit(2)
    )
    part.repartition(16).write.partitionBy("bucket").parquet(src)
    before = compact.dataset_file_stats(spark, src)
    assert before["n_files"] > 16

    report = compact.compact_parquet(
        spark, src, out, target_file_bytes=1 << 40, partition_cols=["bucket"]
    )
    # one file per partition at a huge target
    assert report["n_output_files"] == 2
    assert report["files_after"] == 2
    a, b = spark.read.parquet(src), spark.read.parquet(out)
    assert sorted(a.columns) == sorted(b.columns)
    ax = a.select(*sorted(a.columns))
    bx = b.select(*sorted(a.columns))
    assert ax.exceptAll(bx).count() == 0 and bx.exceptAll(ax).count() == 0
    # partition directories preserved
    import glob as _glob

    assert sorted(
        p.rsplit("=", 1)[1] for p in _glob.glob(f"{out}/bucket=*")
    ) == ["0", "2"]

    with pytest.raises(ValueError, match="partition"):
        compact.compact_parquet(
            spark, src, str(tmp_path / "x"),
            partition_cols=["not_a_partition"],
        )


def test_html_blocks_and_boilerplate_filter(spark):
    """Block decomposition must count anchors per block before
    stripping, stay consistent with extract_html_text (one
    decomposition, two views), and drop_boilerplate must remove
    link-dense chrome while preserving body order."""
    from plda_spark.sources import warc

    page = (
        '<html><head><script>var x=1;</script></head><body>'
        '<ul><li><a href="/">Home</a></li>'
        '<li><a href="/a">About us</a></li></ul>'
        "<p>First real paragraph with a good number of plain words.</p>"
        '<p>Second paragraph, one <a href="/ref">reference link</a> inside '
        "plenty of ordinary prose around it to keep density low.</p>"
        '<div><a href="/p">Privacy</a> <a href="/t">Terms</a></div>'
        "</body></html>"
    )
    df = spark.createDataFrame([("u1", page)], "url string, html string")
    blocks = {r["block_idx"]: r for r in warc.extract_html_blocks(df).collect()}
    assert [blocks[i]["text"] for i in sorted(blocks)] == [
        "Home",
        "About us",
        "First real paragraph with a good number of plain words.",
        "Second paragraph, one reference link inside plenty of ordinary "
        "prose around it to keep density low.",
        "Privacy Terms",
    ]
    assert blocks[0]["n_links"] == 1 and blocks[0]["link_density"] == 1.0
    assert blocks[2]["n_links"] == 0
    assert blocks[3]["n_links"] == 1 and blocks[3]["link_density"] < 0.1
    assert blocks[4]["n_links"] == 2 and blocks[4]["link_density"] == 1.0
    # blocks reassemble to exactly extract_html_text's view
    joined = "\n".join(blocks[i]["text"] for i in sorted(blocks))
    full = warc.extract_html_text(df).collect()[0]["text"]
    assert joined == full

    main = warc.drop_boilerplate(df).collect()
    assert len(main) == 1
    assert main[0]["text"] == (
        "First real paragraph with a good number of plain words.\n"
        "Second paragraph, one reference link inside plenty of ordinary "
        "prose around it to keep density low."
    )
    # a page that is ALL chrome keeps no content -> no output row
    chrome = '<body><a href="/">x</a></body>'
    df2 = spark.createDataFrame(
        [("u1", page), ("u2", chrome)], "url string, html string"
    )
    assert {r["url"] for r in warc.drop_boilerplate(df2).collect()} == {"u1"}


def test_wet_from_warc_conversion(spark, tmp_path):
    """Raw WARC response shards convert to WET conversion records the
    WET reader round-trips: 2xx pages keep their main content under
    their ORIGINAL urls, error responses drop, all-chrome pages vanish."""
    from plda_spark.sources import warc, wet

    def rec(uri, payload):
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " + uri
            + b"\r\nContent-Length: " + str(len(payload)).encode()
            + b"\r\n\r\n" + payload + b"\r\n\r\n"
        )

    def http(status, body):
        return (
            b"HTTP/1.1 " + status + b"\r\nContent-Type: text/html\r\n\r\n" + body
        )

    shard = (
        rec(b"http://a/1", http(b"200 OK",
            b"<ul><li><a href='/'>Home</a></li></ul><p>Real content one.</p>"))
        + rec(b"http://a/2", http(b"404 Not Found", b"<p>gone</p>"))
        + rec(b"http://a/3", http(b"200 OK", b"<a href='/'>only chrome</a>"))
        + rec(b"http://a/4", http(b"200 OK", b"<p>Second real page.</p>"))
    )
    d = tmp_path / "warc_in"
    d.mkdir()
    (d / "a.warc").write_bytes(shard)

    out = str(tmp_path / "wet_out")
    warc.wet_from_warc(spark, str(d), out)
    back = {r["url"]: r["text"] for r in wet.read_wet(spark, out).collect()}
    assert back == {
        "http://a/1": "Real content one.",
        "http://a/4": "Second real page.",
    }


def test_compact_parquet_null_partition_values(spark, tmp_path):
    """NULL partition values (the __HIVE_DEFAULT_PARTITION__ directory)
    must compact gracefully: content preserved, nulls intact, one file
    per partition at a huge target (greatest(NULL, 1) -> one output
    file for the unmatched null-dir rows)."""
    from pyspark.sql import functions as F

    from plda_spark.sources import compact

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else "g%d" % (i % 2)) for i in range(100)],
        "id long, grp string",
    )
    df.repartition(8).write.partitionBy("grp").parquet(src)
    report = compact.compact_parquet(
        spark, src, out, target_file_bytes=1 << 40, partition_cols=["grp"]
    )
    assert report["files_after"] == 3  # g0, g1, null-dir
    a, b = spark.read.parquet(src), spark.read.parquet(out)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert (
        b.where(F.col("grp").isNull()).count()
        == a.where(F.col("grp").isNull()).count()
        == 34
    )


def test_wet_and_warc_read_multi_member_gzip(spark, tmp_path):
    """Common Crawl writes MULTI-MEMBER gzip (each record its own gzip
    member, enabling per-record random access); the readers must
    decompress every member, not just the first."""
    import gzip as _gzip

    from plda_spark.sources import warc, wet

    def wet_rec(i, body):
        return (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: http://x/{i}\r\n"
            f"Content-Length: {len(body.encode())}\r\n\r\n"
        ).encode() + body.encode() + b"\r\n\r\n"

    d = tmp_path / "wet_mm"
    d.mkdir()
    (d / "a.warc.wet.gz").write_bytes(
        b"".join(_gzip.compress(wet_rec(i, f"doc {i}")) for i in range(3))
    )
    got = {r["url"]: r["text"] for r in wet.read_wet(spark, str(d)).collect()}
    assert got == {f"http://x/{i}": f"doc {i}" for i in range(3)}

    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
    wrec = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://y/1\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )
    d2 = tmp_path / "warc_mm"
    d2.mkdir()
    (d2 / "a.warc.gz").write_bytes(
        _gzip.compress(wrec) + _gzip.compress(wrec.replace(b"y/1", b"y/2"))
    )
    rows = warc.read_warc(spark, str(d2)).collect()
    assert {r["url"] for r in rows} == {"http://y/1", "http://y/2"}
    assert all(r["html"] == "<p>hi</p>" for r in rows)


def test_hilbert_value_matches_published_walk(spark):
    """hilbert_value_col vs an independent transcription of the
    published xy2d rotate/flip walk, plus the property that makes
    Hilbert worth having over Morton: consecutive indices are ALWAYS
    4-adjacent cells (a bijection with unit steps)."""
    import pytest

    from plda_spark.sources.zorder import hilbert_value_col

    def rot(n, x, y, rx, ry):
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        return x, y

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            x, y = rot(n, x, y, rx, ry)
            s //= 2
        return d

    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.select(
            "x", "y", hilbert_value_col("x", "y", bits=5).alias("d")
        ).collect()
    }
    want = {(x, y): xy2d(32, x, y) for x, y in rows}
    assert got == want
    inv = {d: xy for xy, d in want.items()}
    assert len(inv) == 1024  # bijection
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(1023)
    )
    with pytest.raises(ValueError, match="bits"):
        hilbert_value_col("x", "y", bits=32)


def test_hilbert_writer_clusters_and_prunes(spark, tmp_path):
    """write_hilbert_ordered: content preserved, per-file min/max bounds
    on BOTH key columns are tight (each file covers a bounded rectangle
    of the key plane), and a point-range read skips most files."""
    from pyspark.sql import functions as F

    from plda_spark.sources.zorder import write_hilbert_ordered

    df = spark.range(4096).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 7) % 64).alias("y"),
    )
    out = str(tmp_path / "hil")
    write_hilbert_ordered(df, "x", "y", out, num_files=8, bits=6)
    back = spark.read.parquet(out)
    assert back.count() == 4096
    assert back.agg(F.sum("k")).collect()[0][0] == sum(range(4096))
    # per-file rectangles: every file's x-range AND y-range well under
    # the full 64-wide domain
    stats = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    assert len(stats) >= 8
    assert all(r["dx"] < 64 and r["dy"] < 64 for r in stats)
    avg_area = sum((r["dx"] + 1) * (r["dy"] + 1) for r in stats) / len(stats)
    assert avg_area < 64 * 64 / 2  # files cover small blobs, not the plane


def test_streamed_walk_is_record_bounded_and_parity_exact():
    """VERDICT r5 item 6: gzip shards now inflate through
    zlib.decompressobj windows and the record walk keeps a rolling
    buffer — peak memory O(record), not O(decompressed shard).  Checks:
    (a) chunked walking yields byte-identical records to whole-buffer
    walking even when markers/headers/payloads split across window
    boundaries, (b) the walk is INCREMENTAL — the first record is
    yielded after consuming only the windows that cover it, proving the
    shard is never buffered whole, (c) _inflate_chunks reassembles
    multi-member gzip exactly at any step size."""
    import gzip as _gzip

    from plda_spark.sources.wet import _inflate_chunks, walk_warc_records

    def rec(i, body: bytes) -> bytes:
        return (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: http://x/{i}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body + b"\r\n\r\n"

    # payloads embed the record marker and CRLF pairs (the hostile case)
    bodies = [
        b"tiny",
        b"WARC/1.0\r\n\r\nembedded marker " * 50,
        bytes(range(256)) * 300,  # ~77 kB binary-ish record
        b"z" * 10,
    ]
    shard = b"".join(rec(i, b) for i, b in enumerate(bodies))

    whole = list(walk_warc_records(shard, "s"))
    for step in (1, 7, 64, 1024, 1 << 20):
        chunks = [shard[i : i + step] for i in range(0, len(shard), step)]
        got = list(walk_warc_records(iter(chunks), "s"))
        assert [(h["warc-target-uri"], b) for h, b in got] == [
            (h["warc-target-uri"], b) for h, b in whole
        ], f"parity broke at step {step}"

    # (b) incremental: pulling record 0 must not consume the whole shard
    consumed = {"n": 0}

    def counting_chunks(step=64):
        for i in range(0, len(shard), step):
            consumed["n"] += step
            yield shard[i : i + step]

    walker = walk_warc_records(counting_chunks(), "s")
    h0, b0 = next(walker)
    assert b0 == bodies[0]
    first_len = len(rec(0, bodies[0]))
    assert consumed["n"] <= first_len + 256, (
        "walker consumed the whole shard before yielding record 0 — "
        "buffering is O(shard), not O(record)"
    )
    assert len(list(walker)) == len(bodies) - 1  # rest still arrives

    # (c) streamed inflate parity, single- and multi-member, odd steps
    members = _gzip.compress(shard[: len(shard) // 2]) + _gzip.compress(
        shard[len(shard) // 2 :]
    )
    for step in (1, 13, 4096, 1 << 22):
        assert b"".join(_inflate_chunks(members, step=step)) == shard
    # and the two compose: records from compressed windows
    got = list(walk_warc_records(_inflate_chunks(members, step=512), "s"))
    assert [(h["warc-target-uri"], b) for h, b in got] == [
        (h["warc-target-uri"], b) for h, b in whole
    ]


def test_fixed_width_roundtrip_and_guards(spark, tmp_path):
    """Write -> read recovers every value and type; NULLs render as
    spaces and read back NULL (non-string) / empty (string); an
    overlong value raises BEFORE writing; short lines read leniently."""
    import pytest

    from plda_spark.sources import fixed_width as fw

    df = spark.createDataFrame(
        [
            (1, "alpha", 12.5, "A"),
            (2, "b", None, "BB"),
            (3, "", 0.25, None),
        ],
        "id long, name string, score double, tag string",
    )
    spec = [
        ("id", 6, "long"),
        ("name", 8, "string"),
        ("score", 10, "double"),
        ("tag", 4, "string"),
    ]
    path = str(tmp_path / "fw")
    fw.write_fixed_width(df, path, spec)
    # raw layout: every line exactly 28 chars
    raw = [r["value"] for r in spark.read.text(path).collect()]
    assert all(len(line) == 28 for line in raw)
    back = {r["id"]: r for r in fw.read_fixed_width(spark, path, spec).collect()}
    assert back[1]["name"] == "alpha" and back[1]["score"] == 12.5
    assert back[2]["score"] is None
    assert back[3]["name"] == "" and back[3]["tag"] == ""  # no null marker
    assert back[3]["score"] == 0.25

    with pytest.raises(ValueError, match="length"):
        fw.write_fixed_width(df, str(tmp_path / "fw2"), [
            ("id", 6, "long"), ("name", 2, "string"),
            ("score", 10, "double"), ("tag", 4, "string"),
        ])
    with pytest.raises(ValueError, match="duplicate"):
        fw.read_fixed_width(spark, path, [("a", 1, "string"), ("a", 2, "string")])
    # lenient short lines: extra trailing field reads as NULL/empty
    wide = spec + [("extra", 5, "long")]
    extra = fw.read_fixed_width(spark, path, wide).collect()
    assert all(r["extra"] is None for r in extra)

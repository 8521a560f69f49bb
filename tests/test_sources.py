"""S1-S3 format ingestion: jsoneachrow semantics pinned to
formats/jsoneachrow.go (blank lines skipped, malformed -> error),
dispatch to formats/format.go (unknown -> UnsupportedFormatError)."""

import json

import pytest

from bright_spark.sources import UnsupportedFormatError, read_documents


@pytest.fixture()
def jsonl_file(tmp_path):
    p = tmp_path / "docs.jsonl"
    lines = [
        json.dumps({"id": "1", "name": "laptop", "price": 99.5}),
        "",
        "   ",
        json.dumps({"id": "2", "name": "mouse", "price": 9.0}),
    ]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_jsoneachrow_skips_blank_lines(spark, jsonl_file):
    df = read_documents(spark, jsonl_file)
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert set(rows) == {"1", "2"}
    assert rows["1"]["name"] == "laptop"
    assert rows["2"]["price"] == 9.0


def test_jsoneachrow_is_default_format(spark, jsonl_file):
    assert read_documents(spark, jsonl_file, "jsoneachrow").count() == \
        read_documents(spark, jsonl_file).count()


def test_jsoneachrow_malformed_line_errors(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": "1"}\n{not json}\n')
    df = read_documents(spark, str(p), schema="id STRING")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        df.collect()


def test_unknown_format_rejected(spark, jsonl_file):
    with pytest.raises(UnsupportedFormatError):
        read_documents(spark, jsonl_file, "csvish")


def test_msgpack_end_to_end(spark, tmp_path):
    """S2 (formats/msgpack.go:12-24): one msgpack array-of-maps per
    file, decoded distributed (bundled pure-spec codec when the C lib
    is absent), schema inferred from a driver sample."""
    from bright_spark.sources.msgpack_lite import packb
    docs1 = [{"id": 1, "text": "alpha beta", "score": 0.5, "ok": True},
             {"id": 2, "text": "gamma", "score": -1.25, "ok": False}]
    # (each file's sample must type every column — schema inference
    # reads one blob; untyped nulls need an explicit schema)
    docs2 = [{"id": 3, "text": "delta " * 20, "score": 2.0, "ok": False}]
    d = tmp_path / "mp"
    d.mkdir()
    (d / "a.msgpack").write_bytes(packb(docs1))
    (d / "b.msgpack").write_bytes(packb(docs2))
    df = read_documents(spark, str(d), "msgpack")
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["text"] == "alpha beta" and rows[1]["ok"] is True
    assert rows[2]["score"] == -1.25
    # hand-assembled spec bytes (fixarray/fixmap/fixstr) decode too
    (d / "c.msgpack").write_bytes(b"\x91\x81\xa2id\x04")  # [{"id": 4}]
    df2 = read_documents(spark, str(d / "c.msgpack"), "msgpack",
                         schema="id BIGINT")
    assert [r["id"] for r in df2.collect()] == [4]


def test_msgpack_lite_codec_roundtrip():
    """Pure-spec codec: round-trip across the full supported type set,
    plus known byte vectors from the public spec."""
    import math

    import pytest as _pytest

    from bright_spark.sources.msgpack_lite import MsgpackError, packb, unpackb
    vals = [None, True, False, 0, 1, 127, 128, 255, 256, 65535, 65536,
            2**32, 2**63 - 1, -1, -32, -33, -128, -129, -2**31, -2**63,
            0.0, 1.5, -3.25, math.pi, "", "a", "x" * 31, "x" * 32,
            "x" * 300, "уникод", b"", b"\x00\xff", list(range(20)),
            {"k": [1, {"n": None}], "s": "v"}, [{}] * 17]
    for v in vals:
        assert unpackb(packb(v)) == v, v
    # spec vectors
    assert unpackb(b"\xc0") is None
    assert unpackb(b"\xcd\x01\x00") == 256
    assert unpackb(b"\xd0\xfe") == -2
    assert unpackb(b"\x82\xa1a\x01\xa1b\x92\x02\x03") == {"a": 1, "b": [2, 3]}
    assert packb(5) == b"\x05" and packb(-2) == b"\xfe"
    assert packb("hi") == b"\xa2hi"
    with _pytest.raises(MsgpackError):
        unpackb(b"\xc1")  # never-used type byte
    with _pytest.raises(MsgpackError):
        unpackb(b"\x05\x05")  # trailing bytes
    with _pytest.raises(MsgpackError):
        unpackb(b"\xa5ab")  # truncated str


def test_jsonl_index_build_end_to_end(spark, tmp_path):
    """F4-shaped products corpus through jsoneachrow -> index -> query
    (the reference benchmark flow: POST JSONL then search)."""
    from bright_spark.fixtures import make_products
    from bright_spark.index.builder import build_index
    from bright_spark.models import IndexConfig
    from bright_spark.query.engine import SearchEngine

    pdf = make_products(200, seed=5)
    path = tmp_path / "products.jsonl"
    with open(path, "w") as f:
        for rec in pdf.to_dict("records"):
            f.write(json.dumps(rec) + "\n")
    src = read_documents(spark, str(path))
    idx = str(tmp_path / "idx")
    build_index(spark, src, idx,
                IndexConfig(id="products", tokenizer="simple"),
                content_col="description", key_cols=("id",),
                lang_col=None, attr_cols=("name", "price", "category"),
                n_build_partitions=4)
    eng = SearchEngine(spark, idx)
    hits = eng.search("laptop")
    assert hits.total_hits > 0
    assert all("laptop" in h["description"] for h in hits.hits)
    priced = eng.search_df("price:>100 laptop")
    ids = [r["doc_id"] for r in priced.collect()]
    docs = {r["doc_id"]: r for r in eng.catalog.docs(spark).collect()}
    assert ids and all(docs[i]["price"] > 100 for i in ids)

"""WARC source: round-trip through the archive format preserves the
byte-identical extracted text per url (the graft's per-row invariant)."""

import gzip

import pytest
from pyspark.sql import functions as F

from sassy_spark.sources import warc as W


def test_warc_roundtrip_byte_identity(spark, pages, tmp_path):
    """pages -> WARC files -> read_warc -> extract_text must reproduce
    the original text byte-for-byte per url."""
    src = pages.drop("cluster_id").limit(60).select("url", "text", "html")
    out_dir = str(tmp_path / "warc")
    assert W.export_warc(src, out_dir)["records"] == 60

    back = W.read_warc(spark, out_dir + "/*.warc")
    j = (
        src.select("url", F.col("text").alias("orig"))
        .join(back.select("url", "text"), "url")
    )
    assert j.count() == 60
    assert j.where(F.col("orig") != F.col("text")).count() == 0


def test_warc_gzip_and_non_response_records(spark, tmp_path):
    """gzipped WARC parses; warcinfo/request records are skipped."""
    html = b"<html><body>hello warc</body></html>"
    body = b"HTTP/1.1 200 OK\r\n\r\n" + html
    rec_info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
    )
    rec_resp = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://ex.com/a\r\n"
        b"WARC-Date: 2024-02-03T04:05:06Z\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
        + body
        + b"\r\n\r\n"
    )
    p = tmp_path / "t.warc.gz"
    p.write_bytes(gzip.compress(rec_info + rec_resp))
    got = W.read_warc(spark, str(p)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.url == "http://ex.com/a"
    assert bytes(r.html) == html
    assert r.text == "hello warc"
    assert str(r.warc_ts).startswith("2024-02-03")


def test_parse_warc_bytes_unit():
    recs = W.parse_warc_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x/1\r\n"
        b"Content-Length: 22\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\nhi1"
        b"\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: request\r\nContent-Length: 2\r\n\r\nxx\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x/2\r\n"
        b"Content-Length: 22\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\nhi2"
    )
    assert [(u, h) for u, _, h in recs] == [
        ("http://x/1", b"hi1"),
        ("http://x/2", b"hi2"),
    ]


def test_export_warc_transactional_roundtrip(spark, pages, tmp_path):
    """Committer-backed export (S5+ round-3 missing #5): deterministic
    per-partition file names + atomic rename + _SUCCESS manifest; a
    re-run (the retry/speculation stand-in) converges onto the SAME file
    set with no duplicates, and the export round-trips byte-identically
    through read_warc."""
    import json
    import os

    src = (
        pages.drop("cluster_id").limit(60)
        .select("url", "text", "html")
        .repartition(4, "url")
    )
    out_dir = str(tmp_path / "warc_export")
    m1 = W.export_warc(src, out_dir)
    assert m1["records"] == 60
    assert all(f.endswith(".warc") for f in m1["files"])
    assert os.path.exists(f"{out_dir}/_SUCCESS")
    with open(f"{out_dir}/_SUCCESS") as f:
        assert json.load(f)["records"] == 60

    # retry convergence: same deterministic names, no extra files
    m2 = W.export_warc(src, out_dir)
    assert m2["files"] == m1["files"]
    on_disk = sorted(
        f"{out_dir}/{n}" for n in os.listdir(out_dir) if n.endswith(".warc")
    )
    assert on_disk == m1["files"]
    assert not any("_tmp_attempt" in n for n in os.listdir(out_dir))

    back = W.read_warc(spark, out_dir + "/*.warc")
    j = (
        src.select("url", F.col("text").alias("orig"))
        .join(back.select("url", "text"), "url")
    )
    assert j.count() == 60
    assert j.where(F.col("orig") != F.col("text")).count() == 0


def test_export_warc_removes_stale_parts(spark, pages, tmp_path):
    """Re-exporting into an existing directory with FEWER partitions must
    not leave stale part files behind: read_warc globs part-*.warc
    without consulting _SUCCESS, so the committer deletes parts absent
    from the current manifest before publishing the marker."""
    import os

    src = (
        pages.drop("cluster_id").limit(40)
        .select("url", "text", "html")
    )
    out_dir = str(tmp_path / "warc_restage")
    m_wide = W.export_warc(src.repartition(6, "url"), out_dir)
    assert len(m_wide["files"]) > 2
    m_narrow = W.export_warc(src.repartition(2, "url"), out_dir)
    on_disk = sorted(
        f"{out_dir}/{n}" for n in os.listdir(out_dir) if n.endswith(".warc")
    )
    assert on_disk == m_narrow["files"]
    assert W.read_warc(spark, out_dir + "/*.warc").count() == 40

"""WARC source — read Common-Crawl-style web archive files into the
pages schema.

WARC is the on-disk format of the corpus the north star names (Common
Crawl ships crawls as WARC response records). This reader turns
``*.warc`` / ``*.warc.gz`` files into (url, warc_ts, html) rows:

  * files arrive through Spark's ``binaryFile`` source (distributed, one
    task per file — WARC's per-record gzip members are not splittable
    without an offset index, so file granularity is the honest unit; at
    Common-Crawl scale each file is ~1 GB and a crawl is ~70k files,
    which parallelizes fine at file level);
  * records parse in an Arrow-batched ``mapInPandas`` (header block up
    to CRLFCRLF, Content-Length-delimited payload, HTTP headers stripped
    from response payloads);
  * text extraction stays DOWNSTREAM in Catalyst (`extract_text`), so
    the byte-identical-text-per-url invariant is owned by one function
    for every source.

No external WARC library: the format is a line-oriented header block +
counted payload (ISO 28500); the ~60-line parser below covers the
response-record subset the pipeline consumes.
"""

from __future__ import annotations

import gzip
import io
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF2 = b"\r\n\r\n"


def parse_warc_bytes(raw: bytes) -> list[tuple[str, str, bytes]]:
    """(url, warc_date, html_bytes) for every response record in one
    WARC file's bytes (gzip auto-detected, including multi-member)."""
    if raw[:2] == b"\x1f\x8b":
        with gzip.GzipFile(fileobj=io.BytesIO(raw)) as gz:
            raw = gz.read()
    out = []
    pos = 0
    n = len(raw)
    while pos < n:
        head_end = raw.find(_CRLF2, pos)
        if head_end < 0:
            break
        header = raw[pos:head_end].decode("utf-8", "replace")
        fields = {}
        for line in header.split("\r\n")[1:]:  # first line: WARC/1.x
            if ":" in line:
                k, v = line.split(":", 1)
                fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields.get("content-length", "0"))
        except ValueError:
            length = 0
        body = raw[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        # records are separated by two CRLFs
        while raw[pos : pos + 2] == b"\r\n":
            pos += 2
        if fields.get("warc-type") != "response":
            continue
        url = fields.get("warc-target-uri", "")
        ts = fields.get("warc-date", "")
        # response payload = HTTP headers + CRLFCRLF + entity body
        http_end = body.find(_CRLF2)
        html = body[http_end + 4 :] if http_end >= 0 else body
        out.append((url, ts, html))
    return out


def read_warc(
    spark: SparkSession, path: str, with_text: bool = True
) -> DataFrame:
    """``*.warc[.gz]`` files -> DataFrame(url, warc_ts, html[, text]).

    ``with_text`` appends the Catalyst ``extract_text`` column (the
    pipeline's per-url byte-identity contract)."""
    files = spark.read.format("binaryFile").load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, htmls = [], [], []
            for content in pdf["content"]:
                for url, ts, html in parse_warc_bytes(bytes(content)):
                    urls.append(url)
                    tss.append(ts)
                    htmls.append(html)
            yield pd.DataFrame(
                {"url": urls, "warc_ts_raw": tss, "html": htmls}
            )

    df = files.select("content").mapInPandas(
        parse, schema="url string, warc_ts_raw string, html binary"
    )
    df = df.select(
        "url",
        F.to_timestamp("warc_ts_raw").alias("warc_ts"),
        "html",
    )
    if with_text:
        from ..functions.text import extract_text

        df = df.withColumn("text", extract_text(F.col("html")))
    return df


def _warc_record(u: str, h: bytes, ts: str) -> bytes:
    body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + h
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Target-URI: {u}\r\n"
        f"WARC-Date: {ts}\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode()
    return head + b"\r\n" + body + b"\r\n\r\n"


def export_warc(
    df: DataFrame,
    path: str,
    url: str = "url",
    html: str = "html",
    ts: str | None = None,
) -> dict:
    """Transactional WARC export (round-3 "What's missing" #5): ONE file
    per input partition, committed by write-to-temp + atomic rename with
    a DETERMINISTIC final name (``part-{partition:05d}.warc``), plus a
    driver-written ``_SUCCESS`` manifest after the job completes.

    Commit semantics (the rename-committer discipline, same shape as
    Hadoop's FileOutputCommitter v2):
      * a retried or speculatively-executed task re-derives the SAME
        bytes for its partition and renames onto the SAME final name —
        converging instead of leaving duplicates;
      * a partially-failed job leaves no ``_SUCCESS``; readers that
        honor the marker see either the whole export or none of it;
      * rename atomicity holds on POSIX/HDFS; on S3-like stores swap the
        rename for a conditional multipart complete (documented caveat).

    ``ts``: optional timestamp column for WARC-Date (ISO-formatted);
    defaults to a fixed date. Returns {files, records}.
    """
    ts_col = (
        F.date_format(F.col(ts), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        if ts is not None
        else F.lit("2024-01-01T00:00:00Z")
    )
    src = df.select(
        F.col(url).alias("u"), F.col(html).alias("h"), ts_col.alias("t")
    )

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        from pyspark import TaskContext

        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        chunks = []
        n = 0
        for pdf in batches:
            for u, h, t in zip(pdf["u"], pdf["h"], pdf["t"]):
                chunks.append(_warc_record(str(u), bytes(h or b""), str(t)))
                n += 1
        if n == 0:
            yield pd.DataFrame({"file": [], "records": []})
            return
        os.makedirs(path, exist_ok=True)
        final = f"{path}/part-{pid:05d}.warc"
        tmp = f"{final}._tmp_attempt{attempt}"
        with open(tmp, "wb") as f:
            f.write(b"".join(chunks))
        os.replace(tmp, final)  # atomic commit; retries converge
        yield pd.DataFrame({"file": [final], "records": [n]})

    manifest = src.mapInPandas(
        write_partition, schema="file string, records long"
    ).collect()
    files = sorted(r["file"] for r in manifest)
    n_records = sum(r["records"] for r in manifest)
    import glob as _glob
    import json as _json
    import os as _os

    # read_warc globs part-*.warc without consulting _SUCCESS, so a
    # re-export with fewer partitions must not leave stale parts from a
    # previous run behind — remove anything not in this run's manifest
    # BEFORE publishing the marker
    _os.makedirs(path, exist_ok=True)  # empty input: still publish marker
    current = set(files)
    for stale in _glob.glob(f"{path}/part-*.warc"):
        if stale not in current:
            _os.remove(stale)
    with open(f"{path}/_SUCCESS", "w") as f:
        _json.dump({"files": files, "records": int(n_records)}, f)
    return {"files": files, "records": int(n_records)}

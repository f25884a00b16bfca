"""Ingest helpers (S1/S3/S6) with injected fetchers + sinks (S4/S7/S11)
+ skew utilities."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from blspark.io.ingest import (
    fetch_json_records,
    fetch_url_with_md5,
    parse_directory_listing,
    remote_manifest,
    with_retries,
)
from blspark.io.sinks import (
    report_records,
    timestamped_name,
    write_json,
    write_parquet,
)

INDEX_HTML = """
<html><body><h1>Index of /pub/time.series/pr/</h1>
<a href="../">Parent Directory</a>
<a href="pr.class">pr.class</a>
<a href="pr.data.0.Current">pr.data.0.Current</a>
<a href="subdir/">subdir/</a>
<a href="?C=N;O=D">sort link</a>
<a href="pr.txt">pr.txt</a>
</body></html>
"""


def test_parse_directory_listing():
    assert parse_directory_listing(INDEX_HTML) == [
        "pr.class",
        "pr.data.0.Current",
        "pr.txt",
    ]


GNARLY_HTML = """
<HTML><BODY><H1>Index of /data</H1><PRE>
<A HREF=unquoted.txt>unquoted.txt</A>
<a href = "spaced.csv" >spaced eq</a>
<a
   class="odd"
   href='multi_line.dat'>split across lines</a>
<a href="has&amp;amp.txt">entity in name</a>
<a href="download.tsv?download=1&amp;v=2">query-string suffix</a>
<a href="page.html#section">fragment suffix</a>
<a href="https://mirror.example.com/abs/remote.bin">absolute URL</a>
<a href="mailto:admin@example.com">contact</a>
<a href="javascript:void(0)">js link</a>
<a href="?C=M;O=D">sort by date</a>
<a href="backup-12%3A30%3A00.tar">percent-encoded colon file</a>
<a href="backup-07:15:00.tar">unencoded colon, hand-rolled index</a>
<a href="v2.0:release.zip">digit-dot pseudo-scheme file</a>
<a href="web+custom:payload">plus-scheme link</a>
<a href="chrome-extension://abcdef/x.js">dashed-alpha scheme</a>
<a href="ms-word:ofe|u|file.docx">dashed-alpha scheme 2</a>
<a href="view-source:page.html">dashed-alpha scheme 3</a>
<a href="z39.50s:host/db">digit-bearing registered scheme (known casualty)</a>
<a href="pr.data.0.Current:note.txt">digit-dot pseudo-scheme file 2</a>
<a href="final-draft:notes.txt">digit-free colon filename (documented casualty: skipped)</a>
<a href="tel:+1555">phone</a>
<a href="sms:+15551234">sms link</a>
<a href="geo:40.1,-70.2">geo link</a>
<a href="magnet:?xt=urn:btih:abc">magnet link</a>
<a href="name%20with%20space.txt">encoded space</a>
<a href="../">Parent Directory</a>
<a href="nested/dir/">a subdir</a>
<a name="anchor-no-href">no href at all</a>
</PRE></BODY></HTML>
"""


def test_parse_directory_listing_gnarly_pages():
    """bs4-grade robustness (reference uses BeautifulSoup,
    sync_and_fetch.py:49-81): unquoted/whitespace/multiline/uppercase
    attribute forms parse; entities decode; query strings and fragments
    strip; mailto/javascript/sort/parent/subdir links are excluded;
    absolute http(s) URLs contribute their basename; every OTHER
    scheme (tel/sms/geo/magnet/...) is skipped via the path-scheme
    allowlist; percent-encoded names (the form well-formed indexes emit
    for colons and spaces) decode to the real filename; an UNENCODED
    colon in a filename-shaped token (digits/dots/dashes before the
    colon — hand-rolled indexes) is kept as a file rather than dropped
    as a pseudo-scheme (ADVICE r7), while alpha/plus schemes
    (web+custom:) still skip. ADVICE r9: filename-shaped now requires
    a DIGIT in the token, so dashed-alpha registered schemes
    (chrome-extension:, ms-word:, view-source:) skip correctly; the
    digit-bearing z39.50* family is a documented casualty — kept as
    a file; the INVERSE casualty (digit-free "final-draft:notes.txt"
    now skips as a scheme) is likewise documented and logged."""
    assert parse_directory_listing(GNARLY_HTML) == [
        "unquoted.txt",
        "spaced.csv",
        "multi_line.dat",
        "has&amp.txt",
        "download.tsv",
        "page.html",
        "remote.bin",
        "backup-12:30:00.tar",
        "backup-07:15:00.tar",
        "v2.0:release.zip",
        "db",  # z39.50s:host/db kept as file -> basename after the slash
        "pr.data.0.Current:note.txt",
        "name with space.txt",
    ]


def _fake_site(files: dict[str, bytes]):
    def fetch(url: str) -> bytes:
        name = url.rstrip("/").rsplit("/", 1)[-1]
        if name == "pr":  # base index
            links = "".join(f'<a href="{k}">{k}</a>' for k in files)
            return f"<html>{links}</html>".encode()
        if name in files:
            return files[name]
        raise IOError(f"404: {url}")

    return fetch


def test_fetch_url_with_md5_streams_consistent_digest():
    import hashlib

    body = b"x" * 20000  # spans multiple 8 KiB chunks
    got, digest = fetch_url_with_md5("http://site/pr/a", fetch=lambda u: body)
    assert got == body and digest == hashlib.md5(body).hexdigest()


def test_remote_manifest_and_sync_classification(spark):
    files = {"a.txt": b"alpha", "b.txt": b"beta"}
    mf = remote_manifest(spark, "http://site/pr", fetch=_fake_site(files))
    rows = {r["key"]: (r["md5"], r["size"]) for r in mf.collect()}
    import hashlib

    assert rows["a.txt"] == (hashlib.md5(b"alpha").hexdigest(), 5)
    assert set(rows) == {"a.txt", "b.txt"}


def test_remote_fetch_runs_on_executors_not_driver(spark, tmp_path):
    """The per-file fetch must execute in executor Python workers, not a
    driver loop: the injected fetcher drops a PID marker per call, and
    every per-FILE fetch PID must differ from the driver's (Python
    workers are separate processes even in local mode). Only the single
    index-page fetch is allowed driver-side."""
    import hashlib
    import os

    from blspark.io.ingest import stage_remote_distributed

    files = {"a.txt": b"alpha", "b.txt": b"beta", "c.txt": b"gamma"}
    marker_dir = tmp_path / "markers"
    marker_dir.mkdir()
    inner = _fake_site(files)

    def tracking_fetch(url: str) -> bytes:
        name = url.rstrip("/").rsplit("/", 1)[-1]
        (marker_dir / f"{name}.{os.getpid()}").touch()
        return inner(url)

    staging = tmp_path / "staging"
    staging.mkdir()
    mf = stage_remote_distributed(
        spark, "http://site/pr", str(staging), fetch=tracking_fetch
    )
    rows = {r["key"]: (r["md5"], r["size"]) for r in mf.collect()}
    assert rows["a.txt"] == (hashlib.md5(b"alpha").hexdigest(), 5)
    assert set(rows) == set(files)
    # staged bodies written by executors, readable for the apply step
    for name, body in files.items():
        assert (staging / name).read_bytes() == body

    driver_pid = os.getpid()
    pids = {}
    for m in os.listdir(marker_dir):
        name, pid = m.rsplit(".", 1)
        pids.setdefault(name, set()).add(int(pid))
    assert pids["pr"] == {driver_pid}  # index page: driver-side, once
    for name in files:
        assert driver_pid not in pids[name], f"{name} fetched on the driver"


def test_fetch_json_records(spark):
    payload = {"data": [{"Year": 2013, "Population": 1.0}], "source": []}
    df = fetch_json_records(
        spark, "http://api/data", fetch=lambda u: json.dumps(payload).encode()
    )
    assert df.count() == 1 and df.first()["Year"] == 2013
    # graceful degradation: None on failure / empty payload
    assert fetch_json_records(spark, "http://api/bad", fetch=_fake_site({})) is None
    assert (
        fetch_json_records(spark, "http://api/data", fetch=lambda u: b'{"data": []}')
        is None
    )


def test_with_retries_backoff():
    calls = []
    sleeps = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise IOError("403")
        return "ok"

    assert with_retries(flaky, attempts=3, backoff_s=1.0, sleep=sleeps.append) == "ok"
    assert sleeps == [1.0, 2.0]  # exponential

    calls.clear()
    lin_sleeps = []
    assert (
        with_retries(
            flaky, attempts=3, backoff_s=5.0, exponential=False,
            sleep=lin_sleeps.append,
        )
        == "ok"
    )
    # the reference's INCREASING linear policy: 5*(attempt+1)
    # (sync_and_fetch.py:129)
    assert lin_sleeps == [5.0, 10.0]

    with pytest.raises(IOError):
        with_retries(
            lambda: (_ for _ in ()).throw(IOError("down")),
            attempts=2,
            sleep=sleeps.append,
        )


def test_timestamped_name_sorts_by_time():
    a = timestamped_name("population_data", now=dt.datetime(2024, 1, 1, 0, 0, 0))
    b = timestamped_name("population_data", now=dt.datetime(2024, 6, 15, 12, 30, 59))
    assert a == "population_data_20240101_000000.json"
    assert b > a  # lexicographic == chronological


def test_sinks_roundtrip(spark, tmp_path):
    df = spark.range(5).select(
        F.col("id"), (F.col("id") % 2).alias("part"), (F.col("id") * 1.5).alias("v")
    )
    write_parquet(df, str(tmp_path / "pq"), partition_by=["part"])
    back = spark.read.parquet(str(tmp_path / "pq"))
    assert back.count() == 5 and set(back.columns) == {"id", "part", "v"}
    write_json(df, str(tmp_path / "js"))
    assert spark.read.json(str(tmp_path / "js")).count() == 5
    recs = report_records(df.orderBy("id"), limit=2)
    assert len(recs) == 2 and recs[0]["id"] == 0


def test_format_numbers_display(spark):
    from blspark.io.sinks import format_numbers

    df = spark.createDataFrame([(322069808.0,)], "pop double")
    assert format_numbers(df, ["pop"]).first()["pop"] == "322,069,808.00"

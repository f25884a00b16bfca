"""Full-pipeline test: EP1 (sync + fetch) -> EP2 (report) on a faked
remote with the reference's real population numbers — ends in the
notebook's golden outputs."""

from __future__ import annotations

import datetime as dt
import json
import os

from blspark.jobs import (
    fetch_population_job,
    report_job,
    run_report_on_arrival,
    sync_job,
)

BLS_TSV = (
    "series_id        \tyear\tperiod\t       value\tfootnote_codes\n"
    "PRS30006032      \t2013\tQ01\t         2.5\t\n"
    "PRS30006032      \t2013\tQ05\t         2.0\t\n"
    "PRS30006032      \t2014\tQ01\t         3.5\t\n"
    "PRS30006011      \t2013\tQ01\t         1.0\t\n"
    "PRS30006011      \t2014\tQ01\t         1.0\t\n"  # tie -> 2013 wins
    "PRS30006011      \t2013\tQ02\t         bad\t\n"  # coerced to null
)

POP_JSON = {
    "data": [
        {"Nation ID": "01000US", "Nation": "United States", "Year": y, "Population": p}
        for y, p in [
            (2013, 316128839.0), (2014, 318857056.0), (2015, 321418821.0),
            (2016, 323127515.0), (2017, 325719178.0), (2018, 327167439.0),
        ]
    ],
    "source": [{"annotations": {}}],
}


def _make_remote(tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    (remote / "pr.data.0.Current").write_text(BLS_TSV)
    (remote / "pr.series").write_text("metadata not queried\n")
    return remote


def test_full_pipeline_sync_fetch_report(spark, tmp_path):
    remote = _make_remote(tmp_path)
    mirror = tmp_path / "mirror"

    # EP1: daily sync + API fetch
    counts = sync_job(spark, str(remote), str(mirror))
    assert counts["insert"] == 2 and counts["delete"] == 0
    name = fetch_population_job(
        str(mirror),
        fetch=lambda url: json.dumps(POP_JSON).encode(),
        now=dt.datetime(2024, 1, 1, 12, 0, 0),
    )
    assert name == "population_data_20240101_120000.json"

    # EP2: report over the mirror
    reports = report_job(spark, str(mirror))
    q1 = reports["population_stats"].first()
    assert q1["year_count"] == 6
    assert round(q1["mean_population"], 2) == 322069808.00  # notebook golden
    assert round(q1["stddev_population"], 2) == 4158441.04

    q2 = {r["series_id"]: r for r in reports["best_years"].collect()}
    assert q2["PRS30006032"]["year"] == 2013  # 4.5 (Q01+Q05) > 3.5
    assert q2["PRS30006032"]["value"] == 4.5
    assert q2["PRS30006011"]["year"] == 2013  # tie 1.0 == 1.0 -> earliest

    q3 = reports["combined_report"].collect()
    assert [r["year"] for r in q3] == [2013, 2014]
    assert q3[0]["Population"] == 316128839.0

    # idempotent re-sync: nothing to do
    counts2 = sync_job(spark, str(remote), str(mirror))
    assert counts2["insert"] == 0 and counts2["update"] == 0
    # the fetched population doc is mirror-local, not on the remote:
    # a strict mirror would delete it -> it must be listed as delete
    assert counts2["delete"] >= 1 or counts2["skip"] == 2


def test_report_without_population_degrades(spark, tmp_path):
    remote = _make_remote(tmp_path)
    mirror = tmp_path / "mirror"
    sync_job(spark, str(remote), str(mirror))
    reports = report_job(spark, str(mirror))
    assert reports["population_stats"] is None
    combined = reports["combined_report"].collect()
    assert len(combined) == 2
    assert all(r["Population"] is None for r in combined)


def test_report_picks_newest_population_doc(spark, tmp_path):
    """Discovery takes the lexicographic max among population_data_*.json
    names in the listing; other names never qualify."""
    mirror = tmp_path / "mirror"
    mirror.mkdir()
    (mirror / "pr.data.0.Current").write_text(BLS_TSV)
    old = dict(POP_JSON, data=POP_JSON["data"][:2])
    (mirror / "population_data_20230101_000000.json").write_text(json.dumps(old))
    (mirror / "population_data_20240101_120000.json").write_text(
        json.dumps(POP_JSON)
    )
    for decoy in ("population_data_20990101_000000.txt",
                  "xpopulation_data_20990101_000000.json"):
        (mirror / decoy).write_text(json.dumps(old))
    reports = report_job(spark, str(mirror))
    assert reports["population_stats"].first()["year_count"] == 6


def test_report_on_arrival_trigger(spark, tmp_path):
    remote = _make_remote(tmp_path)
    mirror = tmp_path / "mirror"
    ckpt = tmp_path / "ckpt"
    sync_job(spark, str(remote), str(mirror))

    results: list = []
    run_report_on_arrival(spark, str(mirror), str(ckpt), results)
    assert results == []  # no population docs yet

    fetch_population_job(
        str(mirror),
        fetch=lambda url: json.dumps(POP_JSON).encode(),
        now=dt.datetime(2024, 1, 2, 12, 0, 0),
    )
    run_report_on_arrival(spark, str(mirror), str(ckpt), results)
    assert len(results) == 1  # one recompute per arrival
    assert round(results[0]["population_stats"].first()["mean_population"], 2) == (
        322069808.00
    )


def test_cli_main_list_query_oracle_sync(spark, tmp_path, capsys):
    """The `python -m blspark` surface routes through the same library
    code: list prints the registry, query runs one, oracle prints SQL,
    sync converges a mirror, report degrades gracefully on an empty
    data dir."""
    from blspark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q2_best_year" in out and "x_similarity_pq_checked" in out

    assert main(["oracle", "q2_best_year"]) == 0
    assert "series_key" in capsys.readouterr().out
    assert main(["oracle", "nope"]) == 2

    assert main([
        "query", "q_distinct_sorted", "--sf-dir", "/root/testdata/sf0.001",
        "--limit", "3",
    ]) == 0
    assert main(["query", "definitely_not_registered"]) == 2

    src = tmp_path / "src"
    src.mkdir()
    (src / "f.txt").write_text("hello")
    assert main(["sync", str(src), str(tmp_path / "mirror")]) == 0
    assert (tmp_path / "mirror" / "f.txt").read_text() == "hello"
    assert '"insert": 1' in capsys.readouterr().out

    empty = tmp_path / "empty"
    empty.mkdir()
    assert main(["report", str(empty)]) == 0
    assert "skipped" in capsys.readouterr().out

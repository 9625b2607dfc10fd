"""Tests of the event-log fold and the statistics, on a recorded log.

``data/xs_2rounds.*`` is a traced crawl of the XS corpus (4 hosts,
``max_rounds=2``, local[4], exact seen set) recorded with ``child.py``:
the event log, with the fields ``fold.py`` does not read removed, and the
spans and rank call site of the same crawl.  No Spark needed.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import fold  # noqa: E402
import stats  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def recorded():
    events = fold.read_events(os.path.join(DATA, "xs_2rounds.events.gz"))
    with open(os.path.join(DATA, "xs_2rounds.spans.json")) as fh:
        rec = json.load(fh)
    folded = fold.Fold(events, rec["spans"], rec["rank_callsite"])
    return events, folded, folded.round_rows()


def _job_intervals(events):
    ends = {e["Job ID"]: e["Completion Time"] / 1e3
            for e in events if e["Event"] == "SparkListenerJobEnd"}
    return [(e["Submission Time"] / 1e3, ends[e["Job ID"]])
            for e in events if e["Event"] == "SparkListenerJobStart"]


def test_two_rounds_folded(recorded):
    _, folded, rows = recorded
    assert [r["round"] for r in rows] == [0, 1]
    assert all(r["n_selected"] > 0 for r in rows)


def test_round_job_counts_match_job_start_events(recorded):
    events, folded, rows = recorded
    for (_, lo, hi), row in zip(folded.windows, rows):
        starts = [a for a, _ in _job_intervals(events) if lo < a <= hi]
        assert row["spark.jobs"] == len(starts) > 0
        assert row["crawl.rank.jobs"] >= 1


def test_busy_plus_driver_gap_is_round_wall(recorded):
    events, folded, rows = recorded
    for (_, lo, hi), row in zip(folded.windows, rows):
        # busy time by brute force: millisecond ticks covered by a job
        jobs = [(a, b) for a, b in _job_intervals(events) if lo < a <= hi]
        ticks = sum(
            1 for t in range(int(lo * 1e3), int(hi * 1e3))
            if any(a * 1e3 <= t < min(b, hi) * 1e3 for a, b in jobs)
        )
        assert row["busy_s"] == pytest.approx(ticks / 1e3, abs=0.01)
        assert 0 < row["busy_s"] <= row["wall_s"]
        assert row["driver_gap_s"] >= 0
        assert row["busy_s"] + row["driver_gap_s"] == pytest.approx(row["wall_s"])


def test_write_jobs_map_to_their_table_by_output_path(recorded):
    events, folded, rows = recorded
    plans = {e["executionId"]: e["sparkPlanInfo"]["simpleString"]
             for e in events if e["Event"].endswith("SQLExecutionStart")}
    for (sid, lo, hi), row in zip(folded.windows, rows):
        assert set(row["write_jobs_by_table"]) == {"frontier", "seen", "lineage", "pages_out"}
        writes = [j for j in folded.jobs if lo < j["start"] <= hi and j["layer"].startswith("write:")]
        assert len(writes) == row["snapstore.write_jobs"]
        for j in writes:
            table = j["layer"][len("write:"):]
            assert f"/data/{table}/s={sid + 1:06d}" in plans[j["exec"]]
            assert j["callsite"] == ""
    assert row["snapstore.bytes_written"] > 0
    assert row["snapstore.files_written"] > 0


def test_udf_time_split_by_udf_name(recorded):
    events, folded, rows = recorded
    run_ms = {}
    for e in events:
        if e["Event"].endswith("SQLExecutionStart"):
            stack = [e["sparkPlanInfo"]]
            while stack:
                n = stack.pop()
                stack += n["children"]
                if n["nodeName"] == "ArrowEvalPython":
                    for m in n["metrics"]:
                        if m["name"] == "time to run Python workers":
                            run_ms[m["accumulatorId"]] = n["simpleString"]
    for (_, lo, hi), row in zip(folded.windows, rows):
        total_ms = sum(
            int(a["Update"])
            for e in events
            if e["Event"] == "SparkListenerTaskEnd" and lo < e["Task Info"]["Launch Time"] / 1e3 <= hi
            for a in e["Task Info"]["Accumulables"]
            if a["ID"] in run_ms
        )
        by_udf = row["udfs.python_s_by_udf"]
        assert sum(by_udf.values()) == pytest.approx(total_ms / 1e3)
        assert by_udf["extract"] > 0 and by_udf["hash"] > 0
        assert row["udfs.extract.python_s"] == by_udf["extract"]
        assert row["udfs.extract.rows"] == row["n_selected"]


def test_per_layer_metrics(recorded):
    _, _, rows = recorded
    layer = fold.per_layer(rows, [])
    assert layer["spark.jobs_per_round"] == statistics.mean(r["spark.jobs"] for r in rows)
    assert layer["politeness.selected"] == statistics.mean(r["n_selected"] for r in rows)
    assert 0 < layer["crawl.fetch.selected_per_scanned"] <= 1
    assert layer["filters.probe.python_s"] == 0  # exact seen set: no filter
    assert layer["crawl.pages_index.cache_mb"] == 0


def test_pages_index_is_the_rdd_cached_through_every_round():
    samples = [
        {"sid": 1, "rdds": [{"id": 7, "mem": 3 << 20, "disk": 0}, {"id": 9, "mem": 50 << 20, "disk": 0}]},
        {"sid": 2, "rdds": [{"id": 7, "mem": 4 << 20, "disk": 0}, {"id": 12, "mem": 60 << 20, "disk": 0}]},
    ]
    assert fold.pages_index_cache_mb(samples) == 4.0


def test_summary_is_interpolated():
    s = stats.summary([1, 2, 3, 10])
    assert s["median"] == 2.5  # median_high would give 3
    assert (s["q1"], s["q3"]) == tuple(statistics.quantiles([1, 2, 3, 10], n=4)[::2])
    assert s["n"] == 4


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(19))) is None
    t = stats.tail([float(i) for i in range(35)])
    assert (t["pct"], t["n"]) == (71, 35)
    assert sum(v > t["value"] for v in range(35)) >= 10


def test_span_tree_nests_jobs_and_stages_under_rounds(recorded):
    _, folded, rows = recorded
    spans = folded.span_tree()
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    assert [s["name"] for s in spans if s["parent"] is None] == ["run"]
    for row in rows:
        rnd = next(s for s in spans if s.get("round") == row["round"])
        jobs = [s for s in spans if s["name"].startswith("job ") and rnd in ancestors(s)]
        assert len(jobs) == row["spark.jobs"]
        assert any(by_id[j["parent"]]["name"] == "commit_state" for j in jobs)
    stages = [s for s in spans if s.get("tasks")]
    assert stages and all(by_id[s["parent"]]["name"].startswith("job ") for s in stages)

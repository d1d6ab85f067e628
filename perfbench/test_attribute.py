"""Tests of the trace attributor on a canned event log and lineage table.

    python3 -m pytest perfbench -q

testdata/eventlog/app-canned holds one setup job, a resumable-style pass
(precheck, a scored commit with a pandas-UDF stage, a CC round, a lineage
scan, the union-find collect and a compaction write), one probe job and
one job outside every span. testdata/lineage.jsonl holds the five commit
timestamps that cut the run_linkage call into its stages.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from attribute import (
    Tracer,
    add_lineage_spans,
    attribute,
    read_events,
    self_times,
    span_table,
    stage_layer,
    union_len,
)

DATA = Path(__file__).resolve().parent / "testdata"


def canned_spans() -> list[dict]:
    t = Tracer()
    t.add("setup", "setup", 100.0, 101.0)
    root = t.add("pass-0", "linkage", 110.0, 120.0)
    call = t.add("run_linkage", "linkage", 110.0, 118.0, parent=root["id"])
    t.add("collect-clusters", "linkage", 118.0, 120.0, parent=root["id"])
    t.add("probe-0", "bench", 121.0, 122.0)
    lineage = [json.loads(line) for line in (DATA / "lineage.jsonl").read_text().splitlines()]
    add_lineage_spans(t, call, lineage)
    return t.spans


@pytest.fixture(scope="module")
def report() -> dict:
    return attribute(read_events(str(DATA / "eventlog")), canned_spans())


def test_union_len_merges_overlaps():
    assert union_len([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert union_len([]) == 0.0


def test_self_time_is_duration_minus_children_union():
    t = Tracer()
    p = t.add("parent", "linkage", 0.0, 10.0)
    for s, e in [(1, 3), (2, 5), (8, 9), (9.5, 12)]:  # overlaps and overhang
        t.add("child", "linkage", s, e, parent=p["id"])
    assert self_times(t.spans)[p["id"]] == pytest.approx(10 - (4 + 1 + 0.5))


def test_lineage_cuts_call_into_commit_spans():
    spans = canned_spans()
    kids = [s for s in spans if s["parent"] == 2]
    assert [(s["name"], s["layer"], s["start"], s["end"]) for s in kids] == [
        ("pairs", "blocking", 110.0, 113.0),
        ("scored", "scoring", 113.0, 115.0),
        ("cc_edges-1", "cc", 115.0, 116.0),
        ("cc_edges-2", "cc", 116.0, 117.0),
        ("clusters", "linkage", 117.0, 117.5),
    ]
    assert self_times(spans)[2] == pytest.approx(0.5)
    rows = span_table(spans)
    assert rows[2] == {"span": "  run_linkage", "layer": "linkage", "dur_s": 8.0, "self_s": 0.5}


def test_stage_layer_rules():
    assert stage_layer({"ArrowEvalPython", "WriteFiles"}, "", "", "cc") == "scoring"
    assert stage_layer({"MapInPandas"}, "", "", "linkage") == "cc"
    assert stage_layer({"WriteFiles"}, "cogie:cc-round-1", "", "cc") == "tableio"
    assert stage_layer({"Scan parquet"}, "", "GroupBy input_file_name()", "cc") == "tableio"
    assert stage_layer({"Generate"}, "cogie:cc-seed", "", "linkage") == "blocking"
    assert stage_layer({"Exchange"}, "cogie:blocking-size-precheck", "", "linkage") == "blocking"
    assert stage_layer({"Exchange"}, "cogie:idf-vocab", "", "linkage") == "scoring"
    assert stage_layer({"Exchange"}, "cogie:cc-seed", "", "linkage") == "scoring"
    assert stage_layer({"Exchange"}, "cogie:cc-local-count", "", "linkage") == "cc"
    assert stage_layer({"Exchange"}, "", "", "incremental") == "incremental"


def test_jobs_go_to_spans_then_layers(report):
    cpu = {k: round(v["cpu_s"], 6) for k, v in report["layers"].items()}
    assert cpu == {"blocking": 3.0, "scoring": 3.0, "cc": 1.2, "tableio": 1.2,
                   "incremental": 0.0, "linkage": 0.6}
    assert report["layers"]["blocking"]["shuffle_bytes"] == 1500
    assert report["layers"]["blocking"]["busy_s"] == pytest.approx(2.0)
    assert report["layers"]["cc"]["busy_s"] == pytest.approx(1.2)
    assert report["layers"]["tableio"]["bytes_written"] == 5000
    assert report["udf_s"] == pytest.approx(1.0)
    assert report["compact_s"] == pytest.approx(0.4)
    assert report["writes"] == 2


def test_reused_stage_counts_once_for_the_job_that_ran_it(report):
    # stage 5 is listed again by the collect job but ran in the CC round
    assert report["layers"]["cc"]["shuffle_bytes"] == 300
    assert report["total_cpu_s"] == pytest.approx(10.5)


def test_jobs_and_driver_gap_cover_timed_roots_only(report):
    assert report["jobs"] == 6  # setup and probe jobs are not timed
    assert report["wall_s"] == pytest.approx(10.0)
    assert report["driver_gap_s"] == pytest.approx(10.0 - 6.0)


def test_unattributed_cpu_share(report):
    # only the job outside every span is unattributed; setup and probe
    # work is attributed to their own spans
    assert report["unattributed_cpu_share"] == pytest.approx(0.2 / 10.5)
    no_spans = attribute(read_events(str(DATA / "eventlog")), [])
    assert no_spans["unattributed_cpu_share"] == pytest.approx(1.0)
    assert no_spans["jobs"] == 0

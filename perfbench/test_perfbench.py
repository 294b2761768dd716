"""Self-tests of the benchmark harness (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import fixture
import spec
from spans import Job, Span, assign_jobs, attribute, parse_event_log, self_time, union_length

HERE = os.path.dirname(os.path.abspath(__file__))
EVENT_LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_children():
    parent = Span("p", None, 0.0, 10.0)
    kids = [Span("a", "p", 1.0, 3.0), Span("b", "p", 2.0, 4.0), Span("c", "p", 9.0, 12.0)]
    # children cover [1, 4] and [9, 10] inside the parent
    assert self_time(parent, kids) == pytest.approx(6.0)


def _job(jid, start, end, group=None):
    return Job(id=jid, start=start, end=end, group=group)


def test_driver_gap_is_wall_minus_union_of_jobs():
    spans = [Span("k", None, 100.0, 110.0)]
    jobs = {0: _job(0, 101.0, 103.0, "k"), 1: _job(1, 102.0, 104.0, "k"),
            2: _job(2, 108.0, 109.0, "k")}
    m = attribute(spans, jobs)["spans"]["k"]
    assert m["jobs"] == 3
    assert m["driver_gap_s"] == pytest.approx(10.0 - 3.0 - 1.0)


def test_jobs_go_to_the_leaf_span_by_time_window():
    spans = [
        Span("root", None, 0.0, 12.0),
        Span("a", "root", 0.0, 4.0),
        Span("b", "root", 4.0, 9.0),
    ]
    jobs = {
        0: _job(0, 1.0, 2.0, "a"),
        1: _job(1, 3.9, 5.0, "a"),  # mostly inside b, group says a
        2: _job(2, 6.0, 7.0, None),  # lost its job group (thread pool)
        3: _job(3, 9.5, 9.8, "root"),  # between leaves: enclosing span
        4: _job(4, 11.0, 11.5, "root"),  # more than 1 s from every leaf
    }
    assert assign_jobs(spans, jobs) == {0: "a", 1: "b", 2: "b", 3: "root", 4: "root"}
    att = attribute(spans, jobs)
    assert att["assigned_jobs"] == 5
    assert att["unattributed_jobs"] == 2
    assert att["spans"]["b"]["unattributed_jobs"] == 2


def test_parse_recorded_event_log():
    with open(EVENT_LOG) as f:
        jobs = parse_event_log(f)
    assert len(jobs) >= 2
    for job in jobs.values():
        assert job.end >= job.start
        assert job.tasks >= 1 and job.n_stages >= 1
        assert job.cpu_s > 0
    groups = {j.group for j in jobs.values()}
    assert "write" in groups and "count" in groups
    write = next(j for j in jobs.values() if j.group == "write")
    assert write.output_records == 1000 and write.output_bytes > 0
    counts = [j for j in jobs.values() if j.group == "count"]
    assert sum(j.shuffle_write_bytes for j in counts) > 0
    # the result job lists the already-run shuffle stage, skips it, and
    # runs only its own result stage
    assert max(counts, key=lambda j: j.id).n_stages == 1


def test_fixture_is_byte_identical_for_a_seed(tmp_path):
    for run in ("a", "b"):
        fixture.make_tables(str(tmp_path / run / "tables"), 0.0005)
        fixture.make_landing_zone(
            str(tmp_path / run / "tables"), str(tmp_path / run / "lz"), seed=7
        )
    digest = lambda p: fixture.tree_digest(str(tmp_path / p))  # noqa: E731
    assert digest("a/tables") == digest("b/tables")
    assert digest("a/lz") == digest("b/lz")
    m = fixture.make_landing_zone(str(tmp_path / "a" / "tables"), str(tmp_path / "c"), seed=8)
    assert digest("c") != digest("a/lz")
    days = sorted(os.listdir(tmp_path / "c"))
    assert len(days) == fixture.DAYS
    corrupt = [d for d in days if os.path.exists(tmp_path / "c" / d / f"{d}_retry.json")]
    assert corrupt == m["corrupt_days"] and len(corrupt) == fixture.CORRUPT_FILES
    orders = 0
    for d in days:
        with open(tmp_path / "c" / d / f"{d}.json") as f:
            orders += len(json.load(f))
    assert orders == m["orders"]


def test_benchmark_json_lists_the_spec_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == spec.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == spec.per_layer_metrics()


def test_key_spans_name_the_defining_module():
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    for key, module in spec.SESSION_KEYS.items():
        assert ALL_QUERIES[key].__module__.endswith(module)

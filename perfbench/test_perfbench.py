"""Tests of the benchmark itself: spans, self times, the event-log
reader, the generators, BENCHMARK.json against the code, and a tiny
run of each workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

import gen
import jobs
import layers
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.fixture
def work(request) -> pathlib.Path:
    """A fresh directory inside the checkout (the benchmark writes
    nowhere else)."""
    d = pathlib.Path(HERE, ".work", "tests", request.node.name)
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "run_id": "r"}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("run", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 5.0, parent=0),  # overlaps a: union is 1..5
        _span("a", 6.0, 7.0, parent=0),
        _span("leaf", 1.5, 2.0, parent=1),
    ]
    st = tracing.self_times(spans)
    assert st["run"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["a"] == pytest.approx(3.0 - 0.5 + 1.0)
    assert st["b"] == pytest.approx(2.0)
    assert st["leaf"] == pytest.approx(0.5)


def test_tracer_records_parents_and_run_id(work):
    t = tracing.Tracer("run-7")
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0, 0]
    assert {s["run_id"] for s in t.spans} == {"run-7"}
    assert t.total("inner") <= t.total("outer")
    t.dump(str(work / "spans.json"))
    assert len(json.load(open(work / "spans.json"))["spans"]) == 3
    off = tracing.Tracer("x", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


def _task(stage, launch, finish, records=0, shuffle=0, mem=0, disk=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Input Metrics": {"Records Read": records},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": mem, "Disk Bytes Spilled": disk}}


def _job(job_id, stages, group=None, desc=None):
    props = {}
    if group:
        props["spark.jobGroup.id"] = group
    if desc:
        props["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def test_event_log_aggregates_per_job_group(work):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0], group="job.plain", desc="job.plain"),
        # Spark's parallel listing replaces the description, keeps the group
        _job(1, [1, 2], group="job.plain", desc="Listing leaf files"),
        _job(2, [3]),
        _task(0, 0, 10, records=100),
        _task(0, 0, 10, records=50),
        _task(1, 0, 5, shuffle=7, mem=3, disk=2),
        _task(2, 0, 10), _task(2, 0, 20), _task(2, 0, 60),
        _task(3, 0, 1, records=9),
    ]
    roll = work / "eventlog_v2_local-1"
    roll.mkdir()
    (roll / "appstatus_local-1").write_text("")
    (roll / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[6:]) + "\n")
    (roll / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[:6]) + "\n")
    files = tracing.event_log_files(str(work), "local-1")
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1"]
    agg = tracing.read_event_log(files)
    plain = agg["job.plain"]
    assert plain["jobs"] == 2
    assert plain["records_read"] == 150
    assert plain["shuffle_write_bytes"] == 7
    assert plain["spill_bytes"] == 5
    # widest stage: stage 2 (3 tasks), slowest 60 over median 20
    assert plain["task_skew"] == pytest.approx(3.0)
    assert agg[""]["records_read"] == 9
    (work / "local-2").write_text(json.dumps(events[1]) + "\n")
    assert tracing.event_log_files(str(work), "local-2") == [
        str(work / "local-2")]


def test_gc_log_peak_after_collection_since_mark(work):
    log = work / "gc.log"
    log.write_text(
        "[0.004s][info][gc] Using G1\n"
        "[0.207s][info][gc] GC(0) Pause Young (Normal) "
        "(G1 Evacuation Pause) 19M->17M(260M) 5.320ms\n")
    gc = tracing.GcLog(str(log))
    assert gc.peak_after_gc() == 17 * 2**20
    gc.mark()
    assert gc.peak_after_gc() == 0
    with open(log, "a") as f:
        f.write("[1.0s][info][gc] GC(1) Pause Full (System.gc()) "
                "300M->120M(512M) 50.1ms\n"
                "[1.5s][info][gc] GC(2) Pause Young (Normal) "
                "(G1 Evacuation Pause) 400M->150M(512M) 3.0ms\n"
                "[1.6s][info][gc] GC(3) Pause Young (Normal) "
                "(G1 Evacuation Pause) 250M->130M(512M) 2.0ms\n")
    assert gc.peak_after_gc() == 150 * 2**20


def test_ledger_split():
    entries = [{"bucket": b, "batch_wall_s": 1.0 + (b // 8)}
               for b in range(16)]
    m = layers.ledger_split(entries, run_wall=10.0, batch_buckets=8)
    assert m["checkpoint.batch_s_median"] == pytest.approx(1.5)
    assert m["checkpoint.batch_s_max"] == pytest.approx(2.0)
    assert m["checkpoint.ledger_s"] == pytest.approx(7.0)


@pytest.mark.parametrize("make", [gen.mixed_turns, gen.chat_turns])
def test_turn_generators_are_seeded(make):
    a, b, c = make(5, 600), make(5, 600), make(6, 600)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.num_rows == 600
    assert a.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    keys = list(zip(a.column("conv_id").to_pylist(),
                    a.column("turn_idx").to_pylist()))
    assert len(set(keys)) == len(keys)


def test_mixed_turns_cover_the_payload_classes():
    t = gen.mixed_turns(3, 2000)
    texts = t.column("text").to_pylist()
    roles = t.column("role").to_pylist()
    for probe in ("<html>", "\x1b[", "&lt;b&gt;", "&amp;", "- ", "数", "テ"):
        assert any(probe in x for x in texts), probe
    assert "" in texts and "tiny" in texts
    assert any(r == "tool" and "\f" in x for x, r in zip(texts, roles))
    assert any(r != "tool" and "\f" in x for x, r in zip(texts, roles))
    whale = [c for c in t.column("conv_id").to_pylist()
             if c.endswith("-000000")]
    assert len(whale) == 2000 // 25


def test_corpus_plants_are_consistent():
    table, plants = gen.corpus_docs(4, 1500)
    by_id = dict(zip(table.column("doc_id").to_pylist(),
                     table.column("text").to_pylist()))
    assert len(by_id) == 1500
    assert all(by_id[d] is None for d in plants["null_text"])
    assert plants["exact_groups"]
    for g in plants["exact_groups"]:
        assert len({by_id[d] for d in g}) == 1
    texts = [t for t in by_id.values() if t]
    assert plants["passages"] and plants["dup_paras"]
    for p in plants["passages"]:
        assert sum(p in t for t in texts) >= 2
    for line in plants["boiler_lines"]:
        assert sum(line in t.split("\n") for t in texts) >= 10


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        layers.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(jobs.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == [
        "rows_per_s", "setup_s", "peak_mem_mb", "out_bytes_per_in_byte"]
    assert bench["command"] == ["python3", "perfbench/run.py"]


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


def test_refuses_to_run_without_the_program(work):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work)
    shutil.copytree(HERE, work / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(work, "--workload", "mixed-ordered", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload,rows", [
    ("mixed-ordered", 800), ("chat-checkpointed", 800),
    ("corpus-build", 600)])
def test_tiny_run(workload, rows):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds",
             "1", "--trace", "0", "--rows", str(rows))
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {"rows_per_s", "setup_s", "peak_mem_mb",
                                   "out_bytes_per_in_byte"}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_run():
    p = _run(ROOT, "--workload", "mixed-ordered", "--seed", "3",
             "--seconds", "1", "--trace", "1", "--rows", "800")
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(layers.PER_LAYER)
    assert m["engine.kernel_evals_per_row"] == 2.0
    assert m["checkpoint.kernel_evals_per_row"] == 1.0
    assert 0 < m["fastbatch.fast_path_ratio"] < 1

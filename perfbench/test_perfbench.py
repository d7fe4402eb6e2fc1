"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen_hockey  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def _task(stage, launch, finish, run_ms, gc_ms, deser_ms, write_b=0, read_b=0,
          spill_b=0, reason="Success", failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor Deserialize Time": deser_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill_b,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read_b},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write_b},
        },
    }


def _job(job_id, submitted, stages, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submitted, "Stage IDs": stages, "Properties": props}


def _stage_done(stage, submitted, completed):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0,
                           "Submission Time": submitted, "Completion Time": completed}}


@pytest.fixture
def small_log(tmp_path):
    mb = 1024 * 1024
    events = [
        {"Event": "SparkListenerApplicationStart"},
        # op a: one eager job during build, one job after the sink call
        _job(0, 1_050, [0], "w/0/a"),
        _task(0, 1_060, 1_160, run_ms=90, gc_ms=5, deser_ms=10, write_b=2 * mb),
        _stage_done(0, 1_055, 1_170),
        _job(1, 1_300, [1, 2], "w/0/a"),
        _task(1, 1_310, 1_400, run_ms=80, gc_ms=0, deser_ms=4, read_b=mb),
        _task(1, 1_311, 1_390, run_ms=70, gc_ms=3, deser_ms=4, read_b=mb,
              reason="ExceptionFailure", failed=True),
        _task(1, 1_395, 1_450, run_ms=50, gc_ms=0, deser_ms=2, read_b=mb, spill_b=mb),
        _stage_done(1, 1_302, 1_460),
        # op b: a streaming batch carries its own run-id group, so it is
        # attributed by time
        _job(2, 2_100, [3], "3f2c9a10-run-id"),
        _task(3, 2_110, 2_150, run_ms=30, gc_ms=1, deser_ms=1),
        _stage_done(3, 2_101, 2_155),
        # outside every span: ignored
        _job(3, 9_000, [4], None),
        _task(4, 9_001, 9_002, run_ms=1, gc_ms=0, deser_ms=0),
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    spans = [
        {"group": "w/0/a", "start_ms": 1_000, "sink_ms": 1_200, "end_ms": 1_500},
        {"group": "w/0/b", "start_ms": 2_000, "sink_ms": 2_050, "end_ms": 2_200},
    ]
    return str(path), spans


def test_fold_sums_tasks_shuffle_and_gc(small_log):
    path, spans = small_log
    out = eventlog.fold(eventlog.read(path), spans)
    a = out["w/0/a"]
    assert a["jobs"] == 2 and a["eager_jobs"] == 1 and a["stages"] == 2
    assert a["attempts"] == 4 and a["tasks"] == 3
    assert a["task_run_s"] == pytest.approx(0.29)
    assert a["task_deser_s"] == pytest.approx(0.020)
    assert a["gc_s"] == pytest.approx(0.008)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["shuffle_read_mb"] == pytest.approx(3.0)
    assert a["spill_mb"] == pytest.approx(1.0)
    # stage 0: 5 ms to first launch + 10 ms after last finish; stage 1: 8 + 10
    assert a["sched_gap_s"] == pytest.approx(0.033)
    # sink call at 1200, first job after it at 1300
    assert a["pre_job_s"] == pytest.approx(0.1)


def test_fold_attributes_foreign_group_by_time(small_log):
    path, spans = small_log
    b = eventlog.fold(eventlog.read(path), spans)["w/0/b"]
    assert b["jobs"] == 1 and b["tasks"] == 1 and b["eager_jobs"] == 0
    assert b["task_run_s"] == pytest.approx(0.03)
    assert b["pre_job_s"] == pytest.approx(0.05)


def test_tally_counts_unfinished_and_missing_checks_as_failed(tmp_path):
    log = tmp_path / "p"
    lines = [
        {"event": "start", "p": 0, "op": "x"},
        {"event": "end", "p": 0, "op": "x", "ok": True},
        {"event": "start", "p": 0, "op": "y"},
        {"event": "end", "p": 0, "op": "y", "ok": False},
        {"event": "start", "p": 1, "op": "x"},
    ]
    log.write_text("\n".join(json.dumps(e) for e in lines) + '\n{"event": "sta')
    attempted, failed, names = run.tally("reference_pipeline", str(log))
    assert attempted == 3 + len(run.PIPELINE_CHECKS)
    assert failed == 2 + len(run.PIPELINE_CHECKS)
    assert "pass0:y" in names and "pass1:x:unfinished" in names


def test_trace_overhead_cancels_a_steady_drift():
    # after two warm-up passes, each pass runs 1 s faster than the one
    # before: the traced pass would take 11 s untraced and takes 2% more
    walls = [(30.0, False), (14.0, False), (12.0, False), (11.22, True), (10.0, False)]
    passes = [{"wall_s": w, "traced": t} for w, t in walls]
    assert run.trace_overhead_pct(passes) == pytest.approx(2.0, abs=0.1)


TINY = gen_hockey.Shape(seasons=2, teams=4, games_per_team=4, events_per_team_game=3)


def test_hockey_generator_invariants(tmp_path):
    counts = gen_hockey.generate(str(tmp_path), TINY, seed=3)
    assert counts == {"games": 16, "game_team_rows": 32, "matchups": 16}
    with open(tmp_path / "results.csv", newline="") as f:
        rows = list(csv.DictReader(f))
    assert rows[0].keys() >= {"Game Id", "Date", "Ev_Team", "Is_Home"}
    assert all(re.fullmatch(r"\d{1,2}/\d{1,2}/\d{4}", r["Date"]) for r in rows)
    with open(tmp_path / "events.csv") as f:
        text = f.read()
    assert "\\N" in text and ",," in text
    tmap = json.loads((tmp_path / "team_map.json").read_text())
    raw = {r["Ev_Team"] for r in rows}
    codes = {gen_hockey._code(tmap, name) for name in raw}
    assert len(codes) == len(raw) == TINY.teams
    assert any(name not in tmap for name in map(gen_hockey._norm, raw))


def test_hockey_generator_is_seeded(tmp_path):
    gen_hockey.generate(str(tmp_path / "a"), TINY, seed=5)
    gen_hockey.generate(str(tmp_path / "b"), TINY, seed=5)
    gen_hockey.generate(str(tmp_path / "c"), TINY, seed=6)
    read = lambda d: (tmp_path / d / "events.csv").read_text()  # noqa: E731
    assert read("a") == read("b") != read("c")


def test_hockey_invariant_check_catches_a_missing_side(tmp_path):
    counts = gen_hockey.generate(str(tmp_path), TINY, seed=3)
    path = tmp_path / "results.csv"
    lines = path.read_text().splitlines()
    path.write_text("\n".join(lines[:-1]) + "\n")
    with pytest.raises(ValueError):
        gen_hockey.check_invariants(str(tmp_path), counts)


def test_table_generator_schemas(tmp_path):
    counts = gen_tables.generate(str(tmp_path), sf=0.0005, seed=1)
    assert set(counts) == set(oracle.TABLES)
    schema = pq.read_schema(tmp_path / "lineitem.parquet")
    assert str(schema.field("l_shipdate").type) == "timestamp[us]"
    emb = pq.read_table(tmp_path / "embeddings.parquet")
    assert str(emb.schema.field("embedding").type.value_type) == "float"
    assert len(emb.column("embedding")[0]) == 64


def test_record_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in run.PER_LAYER.values())
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_code_hash_follows_package_sources(tmp_path, monkeypatch):
    pkg = tmp_path / run.PKG
    bench = tmp_path / "perfbench"
    tests = tmp_path / "tests"
    for d in (pkg, bench, tests):
        d.mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    (bench / "run.py").write_text("")
    (tests / "oracle_utils.py").write_text("")
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    monkeypatch.setattr(run, "HERE", str(bench))
    before = run.code_hash()
    (bench / ".cache").mkdir()
    (bench / ".cache" / "b.py").write_text("ignored")
    assert run.code_hash() == before
    (pkg / "a.py").write_text("x = 2\n")
    assert run.code_hash() != before


def test_hockey_cache_keeps_recent_seeds(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "CACHE", str(tmp_path))
    monkeypatch.setattr(run, "HOCKEY_SHAPE", TINY)
    paths = [run.hockey_inputs(seed, "code") for seed in range(run.HOCKEY_KEEP + 1)]
    assert run.hockey_inputs(1, "code") == paths[1]  # reused, and now most recent
    run.hockey_inputs(run.HOCKEY_KEEP + 1, "code")
    left = sorted(os.listdir(tmp_path / "code" / "hockey"))
    assert len(left) == run.HOCKEY_KEEP
    assert os.path.basename(paths[1]) in left
    assert os.path.basename(paths[0]) not in left
    assert os.path.basename(paths[2]) not in left

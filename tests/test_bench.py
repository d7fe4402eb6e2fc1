"""Locks on bench.py's driver-facing output protocol.

The driver records only the LAST ~2000 characters of bench stdout and
parses a JSON line from that tail; round 4's single all-detail line
outgrew the window and the official record became `parsed: null`
(VERDICT r4 item 2). These tests pin the fix: the final stdout line is
a complete JSON document that fits the capture window at the CURRENT
suite size, carries the wall-clock value and every headline timing,
and degrades (rather than overruns) if the suite ever outgrows it.
"""

import json

import bench
from bench import (
    HEADLINE,
    SENTINELS,
    X10,
    X100,
    X100_EMB,
    X10_EMB,
    X10_EVENTS,
    X10_MULTIMODAL,
    X4_GRAPH,
    build_summary_line,
)

DRIVER_TAIL_CHARS = 2000


def _fake_out(n_extra: int = 0) -> dict:
    queries = {n: 0.1 + (i % 40) / 10 for i, n in enumerate(HEADLINE)}
    for i in range(n_extra):
        queries[f"hypothetical_future_query_number_{i:03d}"] = 1.234
    return {
        "metric": "headline_suite_wall_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "measure": "warm_best_of_2",
        "sf": 0.1,
        "queries": queries,
        "docs_x10": {n: {"sec_1x": 1.0, "sec_10x": 2.5, "ratio": 2.5} for n in X10},
        "docs_x100": {n: {"sec_1x": 1.0, "sec_100x": 7.5, "ratio": 7.5} for n in X100},
        "events_x10": {
            n: {"sec_1x": 1.0, "sec_10x": 1.8, "ratio": 1.8} for n in X10_EVENTS
        },
        "multimodal_x10": {
            n: {"sec_1x": 1.0, "sec_10x": 2.2, "ratio": 2.2}
            for n in X10_MULTIMODAL
        },
        "embeddings_x10": {
            n: {"sec_1x": 1.0, "sec_10x": 2.0, "ratio": 2.0} for n in X10_EMB
        },
        "embeddings_x100": {
            n: {"sec_1x": 1.0, "sec_100x": 8.0, "ratio": 8.0} for n in X100_EMB
        },
        "graph_x4": {
            n: {"sec_1x": 1.0, "sec_4x": 1.9, "ratio": 1.9} for n in X4_GRAPH
        },
        "variance": {
            n: {"runs": [0.31, 0.33, 0.59, 0.32], "spread_pct": 90.3}
            for n in SENTINELS
        },
        "suite_band": {
            "pass_sums": [51.22, 42.335, 52.361],
            "best_of_2_wall": 42.132,
            "spread_pct": 23.7,
        },
        "errors": {},
    }


def test_summary_line_fits_driver_tail_with_full_detail():
    line = build_summary_line(_fake_out())
    assert len(line) + 1 <= DRIVER_TAIL_CHARS  # +1 trailing newline
    parsed = json.loads(line)
    # Wall + ALL headline timings survive (the VERDICT item-2 "done"
    # condition), plus at least one probe-ratio section.
    assert parsed["value"] == _fake_out()["value"]
    assert set(parsed["queries"]) == set(HEADLINE)
    assert "queries_truncated" not in parsed
    # The round-8 suite band and round-7 variance band must survive
    # the cap — they are the data that classify fleet-wide and
    # single-query cross-round moves (VERDICT r7 item 3 / r6 item 5),
    # so they are appended ahead of the probe ratios; at the current
    # suite size the first probe-ratio section must also fit.
    assert parsed["suite_band"]["spread_pct"] == 23.7
    assert set(parsed["variance_spread_pct"]) == set(SENTINELS)
    # At least one probe-ratio section must survive the cap. (Through
    # round 9 that was specifically docs_x10; the round-10 X10 probe
    # additions outgrew its budget, so the builder now skips it and
    # the smaller sections land — the full ratios are always in
    # BENCH_FULL.json, which is the judge-read record.)
    assert any(k.endswith("_ratio") for k in parsed), sorted(parsed)


def test_summary_line_degrades_never_overruns():
    """A 3×-size suite must shed detail, not emit an over-cap line."""
    line = build_summary_line(_fake_out(n_extra=2 * len(HEADLINE)))
    assert len(line) + 1 <= DRIVER_TAIL_CHARS
    parsed = json.loads(line)
    assert parsed["queries_truncated"] is True
    assert parsed["n_queries"] == 3 * len(HEADLINE)  # true count survives


def test_summary_line_is_valid_json_with_errors_counted():
    out = _fake_out()
    out["errors"] = {"some_query": "Boom"}
    parsed = json.loads(build_summary_line(out))
    assert parsed["n_errors"] == 1


def test_summary_line_carries_partial_marker():
    """Round 14 (VERDICT r13 item 1d): a SIGTERM'd bench emits the
    completed sections marked partial — the marker must survive into
    the capped line so a partial wall is never read as a full-suite
    wall, and a normal (non-partial) record must not carry it."""
    out = _fake_out()
    out["partial"] = True
    parsed = json.loads(build_summary_line(out))
    assert parsed["partial"] is True
    parsed = json.loads(build_summary_line(_fake_out()))
    assert "partial" not in parsed


def test_parse_probe_lines_salvages_partial_tier_output():
    """Round 14 (VERDICT r13 item 1a/c): the batched tier subprocess
    streams one salvage line per completed entry; a timeout must lose
    only the unfinished entries. The final summary line supersedes the
    partials when present; junk lines never break the parse."""
    from bench import parse_probe_lines

    rec_a = {"sec_1x": 1.0, "sec_100x": 9.0, "ratio": 9.0}
    rec_b = {"sec_1x": 2.0, "sec_100x": 8.0, "ratio": 4.0}
    partial_only = (
        "  [docs_x100] a: 9.0s / 1.0s\n"
        + json.dumps({"probe_partial": {"a": rec_a}})
        + "\nnot json {{{\n"
    )
    assert parse_probe_lines(partial_only) == {"a": rec_a}
    finished = (
        json.dumps({"probe_partial": {"a": rec_a}})
        + "\n"
        + json.dumps({"probe_partial": {"b": rec_b}})
        + "\n"
        + json.dumps(
            {"metric": "isolated_docs_x100", "probes": {"a": rec_a, "b": rec_b}}
        )
    )
    assert parse_probe_lines(finished) == {"a": rec_a, "b": rec_b}
    assert parse_probe_lines("") == {}


def test_parse_probe_lines_skips_non_dict_payloads():
    """A ``probes``/``probe_partial`` payload that is not a dict (a
    truncated or foreign line) is skipped; the parse never raises out
    of the bench and keeps every well-formed record."""
    from bench import parse_probe_lines

    rec_a = {"sec_1x": 1.0, "sec_100x": 9.0, "ratio": 9.0}
    text = "\n".join(
        json.dumps(doc)
        for doc in (
            {"probe_partial": ["a", 1.0]},
            {"probes": "oops"},
            {"probe_partial": {"a": rec_a}},
            {"probes": 3},
        )
    )
    assert parse_probe_lines(text) == {"a": rec_a}


def test_kill_live_children_kills_the_whole_process_group(tmp_path):
    """The SIGTERM handler kills every live tier/floors child's process
    group before exiting: a grandchild (the child's JVM) must not
    outlive it."""
    import os
    import subprocess
    import sys
    import threading
    import time

    pid_file = tmp_path / "grandchild.pid"
    script = (
        "import subprocess, sys, time\n"
        "p = subprocess.Popen(['sleep', '120'])\n"
        f"open({str(pid_file)!r}, 'w').write(str(p.pid))\n"
        "time.sleep(120)\n"
    )
    raised = []

    def run():
        try:
            bench.run_child([sys.executable, "-c", script], timeout=120)
        except subprocess.CalledProcessError as exc:
            raised.append(exc.returncode)

    t = threading.Thread(target=run)
    t.start()
    deadline = time.time() + 30
    while not (pid_file.exists() and pid_file.read_text()) and time.time() < deadline:
        time.sleep(0.05)
    grandchild = int(pid_file.read_text())
    bench.kill_live_children()
    t.join(timeout=30)
    assert raised == [-9] and not bench._LIVE_CHILDREN

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except FileNotFoundError:
            return False

    while alive(grandchild) and time.time() < deadline:
        time.sleep(0.05)
    assert not alive(grandchild)


def test_run_child_timeout_kills_group_and_keeps_stdout():
    """On timeout the child's group is killed and the stdout it printed
    so far comes back on the exception, for the per-entry salvage."""
    import subprocess
    import sys

    script = "import time; print('{\"probe_partial\": {}}', flush=True); time.sleep(60)"
    try:
        bench.run_child([sys.executable, "-c", script], timeout=3)
    except subprocess.TimeoutExpired as exc:
        assert exc.stdout.strip() == '{"probe_partial": {}}'
    else:
        raise AssertionError("no timeout")
    assert not bench._LIVE_CHILDREN


def test_probe_lists_reference_registered_queries():
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    for name in (
        HEADLINE + SENTINELS + X10 + X100 + X100_EMB
        + X10_EVENTS + X10_MULTIMODAL + X10_EMB + X4_GRAPH
    ):
        assert name in QUERIES, name


def test_headline_cap_guard():
    """At ~34 chars/query serialized, the full-detail line stops
    fitting near 56-57 headline queries; grow past that and the probe
    ratios silently drop out of the driver record — prefer trimming
    the suite (or raising this lock consciously) to silent data loss.
    Raised 55→56 in round 9 for sim_ann_ivfpq_rerank after measuring
    1922/2000 chars at 56 entries (dedup_keep_best deliberately stays
    headline-out, like its dedup_components base)."""
    assert len(bench.HEADLINE) <= 56


def test_amplified_corpus_staleness_gate(tmp_path):
    """The bench's amplified probe corpora must rebuild when the
    SOURCE testdata changes (it has drifted across driver rounds):
    freshness is keyed on the source's size+mtime token, never on
    _SUCCESS alone — stale amplified data would silently produce
    ratios dividing new 1x timings by old 10x ones."""
    import os
    import time

    from bench import _amplified_is_fresh, _record_amplified_token

    src = tmp_path / "events.parquet"
    src.write_bytes(b"v1-bytes")
    target = tmp_path / "amplified"
    target.mkdir()
    (target / "_SUCCESS").write_text("")

    # _SUCCESS alone is NOT fresh (no token recorded yet)
    assert not _amplified_is_fresh(str(target), str(src))
    _record_amplified_token(str(target), str(src))
    assert _amplified_is_fresh(str(target), str(src))

    # source regenerated (content/size change) -> stale
    src.write_bytes(b"v2-bytes-longer")
    assert not _amplified_is_fresh(str(target), str(src))
    _record_amplified_token(str(target), str(src))
    assert _amplified_is_fresh(str(target), str(src))

    # same size, different mtime (an in-place rewrite) -> stale
    os.utime(src, (time.time() + 5, time.time() + 5))
    assert not _amplified_is_fresh(str(target), str(src))


# ---------------------------------------------------------------------------
# x100 wall gate (VERDICT r9 item 8)
# ---------------------------------------------------------------------------

# Generous per-query ceilings on the committed x100 STEADY WALLS
# (sec_100x, steady_min_of_5). The ratio gates proved denominator-
# noisy: across four committed round-8 runs the autokey 100x wall held
# 21.5-23.3 s while its 0.7-1.15 s 1x base spread the RATIO 20-33x.
# The wall is the stable number, so the gate reads walls: a real
# super-linear regression (a leaked quadratic term, a lost pushdown)
# multiplies the 100x wall far past these bounds, while session noise
# (~±30%) stays well inside them. Bounds = ~2x the round-9 committed
# steady walls, re-ratchet when the corpus generation changes.
X100_WALL_BOUNDS_SEC = {
    # docs_x100 tier (disjoint-vocab corpus, input scaling only)
    "dedup_simhash": 45.0,          # r9 steady 22.7 s
    # r13 optimization round: the x100 tiers now measure each entry
    # in a per-entry FRESH SUBPROCESS (bench.py probe_fresh_process —
    # the fix the contamination note below prescribed), so this
    # bound returns to the fresh-process law it was always meant to
    # gate (15.7 s steady, ratio 10.6,
    # scripts/probe_records/r13_isolated_x100_recheck.json); the
    # interim 175 s in-bench-protocol bound is retired with the
    # protocol that needed it.
    "dedup_incremental_near": 40.0,
    "tokenize_to_ids": 12.0,        # r9 steady 4.1 s
    "dedup_substring": 60.0,        # r10 isolated steady 29.3 s
    "dedup_substring_rewrite": 65.0,  # r10 isolated steady 32.1 s
    # r12 promotion (VERDICT r11 item 4); re-derived r13 with the
    # full 11-stage production order (URL stage 0 + gopher battery +
    # tertile mix composed in): isolated steady 46.3 s at 500k docs
    # (3.68x its 12.6 s 1x base — the quality stages thin the corpus
    # before the expensive span/tokenize half, so the 100x wall held
    # flat vs r12 while 1x absorbed the battery's fixed cost)
    "pipeline_web_to_shards": 95.0,
    # r13 (VERDICT r12 items 6/7 + cohort): fresh-process isolated
    # steady walls at 500k docs — default-path rewrite 27.9 s (the
    # production path is 1.8x cheaper than the instrumented twin's
    # 50.8 s), MinHash keep-best 27.2-33.4 s across two probes (~9x
    # of its ~3 s base — linear), repetition profile 97.5 s
    # isolated / 77.3 s in-bench (~9x of 1x — linear; the 9-width
    # gram explode is string-heavy but scales exactly with input).
    # IN-BENCH x100 CONTAMINATION (r13, characterized + fenced): the
    # official runs read incremental_near at 81.9/86.4 s and
    # keep-best at 93.9/96.2 s — 3-6x their fresh-process isolated
    # walls (15.7 s / 27.2-33.4 s, committed under
    # scripts/probe_records/) — while every neighbor entry, both 1x
    # bases, and all other tiers matched their records. Releasing
    # leaked persistent RDDs + forcing JVM GC between probe entries
    # (bench.py release_probe_state, kept as hygiene) did NOT cure
    # it, so the residue is not unpersisted blocks; the remaining
    # suspects are JIT/code-cache state and allocator fragmentation
    # that only the 32-hash md5 banding joins are heavy enough to
    # feel. The r13 OPTIMIZATION round shipped the prescribed fix —
    # per-entry fresh subprocesses (bench.py probe_fresh_process) —
    # so these bounds gate the fresh-process law again (~2x the
    # committed fresh-process steady walls); the interim in-bench
    # bounds (195/175) are retired with the protocol that needed
    # them.
    "dedup_substring_rewrite_cheap": 60.0,
    "dedup_keep_best_minhash": 70.0,
    "text_repetition_ngram_profile": 190.0,
    # embeddings_x100 tier (200k vectors)
    "dedup_semantic_autokey": 50.0,  # r9 steady 25.3 s
    "sim_ann_pq_adc": 20.0,         # r9 steady 8.5 s
    "sim_ann_ivfpq": 40.0,          # r9 steady 19.3 s
    "sim_ann_ivfpq_residual": 42.0,  # r9 steady 20.4 s
}


# The calibration wall of the machine the bounds above were pinned on
# (ADVICE r10: absolute-seconds gates fail spuriously on slower
# hardware). bench.py records each run's own calib_wall_sec (a fixed
# registry-independent 50M-row expression aggregate, steady
# min-of-5); the gates scale UP by committed_calib / REFERENCE when
# the committing machine is slower, and floor at 1.0 so a fast
# machine cannot relax the pinned bounds. Reference measured on the
# pinning machine under the SAME protocol the artifact records —
# end-of-bench deep-warm steady min-of-5 (0.086 s on local[32];
# a fresh session reads ~0.19 s, so the reference must come from the
# in-bench measurement, not a standalone run); a small cushion keeps
# ordinary session noise from inflating the gates.
CALIB_REFERENCE_SEC = 0.1


def _calib_scale(full: dict) -> float:
    calib = full.get("calib_wall_sec")
    if not calib:
        return 1.0  # pre-round-11 artifact: unscaled absolute gates
    # Cap at 3x (ADVICE r11): calib_wall_sec comes from the same
    # committed artifact these gates judge, so without a cap an
    # arbitrarily contended/throttled committing box loosens every
    # wall gate proportionally — a real super-linear regression up to
    # the scale factor would merge ungated. 3x absorbs legitimately
    # slower hardware (the observed fleet spread is well under 2x)
    # while keeping the gates meaningful; a box slower than 3x the
    # pinning machine should fail loudly and be investigated, not
    # absorbed.
    return max(1.0, min(calib / CALIB_REFERENCE_SEC, 3.0))


def test_x100_gate_reads_walls_not_ratios():
    """Every committed x100 record must hold a steady wall under its
    generous bound — this fails the suite on a genuine super-linear
    regression even when the overhead-dominated 1x denominator makes
    the ratio unreadable, and it fails if an x100 tier entry stops
    being measured (wall missing) without being removed from the
    probe lists. Bounds scale with the committed run's hardware
    calibration (ADVICE r10) so a slower box fails only on relative
    regression, never on raw seconds."""
    with open("BENCH_FULL.json") as fh:
        full = json.load(fh)
    scale = _calib_scale(full)
    records = {}
    for tier in ("docs_x100", "embeddings_x100"):
        records.update(full.get(tier) or {})
    for name in X100 + X100_EMB:
        assert name in records, f"{name}: no committed x100 record"
        rec = records[name]
        # r14 (VERDICT r13 item 1b): the fresh-process tiers moved to
        # steady min-of-3 with the per-run spread recorded — min-of-5
        # on 60-100 s entries is where the r13 driver bench wall went.
        # min_of_5 stays accepted so a pre-r14 artifact still parses.
        assert rec.get("protocol") in (
            "steady_min_of_3",
            "steady_min_of_5",
        ), (name, rec)
        bound = X100_WALL_BOUNDS_SEC.get(name)
        assert bound is not None, (
            f"{name}: x100 probe entry has no wall bound — add one "
            "(≈2x its committed steady wall)"
        )
        assert rec["sec_100x"] <= bound * scale, (
            f"{name}: x100 steady wall {rec['sec_100x']}s exceeds the "
            f"{bound}s gate (calib scale {scale:.2f}) — super-linear "
            f"regression (the 1x base and ratio are noise; the wall is "
            f"the signal)"
        )


def test_every_probe_list_entry_has_a_committed_record():
    """Probe-coverage lock (round 10): the X10 docs loop used to skip
    any entry not in HEADLINE via its errored-headline guard, so
    probe-tier-only queries silently produced NO record. Every name
    in every probe list must now appear in its committed BENCH_FULL
    tier (or in the run's error map — visible, not silent)."""
    with open("BENCH_FULL.json") as fh:
        full = json.load(fh)
    errors = full.get("errors") or {}
    tiers = {
        "docs_x10": X10,
        "docs_x100": X100,
        "events_x10": X10_EVENTS,
        "multimodal_x10": X10_MULTIMODAL,
        "embeddings_x10": X10_EMB,
        "embeddings_x100": X100_EMB,
        "graph_x4": X4_GRAPH,
    }
    missing = [
        f"{tier}:{name}"
        for tier, names in tiers.items()
        for name in names
        if name not in (full.get(tier) or {})
        and not any(name in k for k in errors)
    ]
    assert not missing, f"probe entries with no record and no error: {missing}"


def test_isolated_floors_cover_top10_headline_entries():
    """Round 11 (VERDICT r10 item 5): the committed BENCH_FULL must
    carry fresh-process isolated floors for the suite's ten slowest
    headline entries, so a future cross-round headline move can be
    classified (suite-state noise vs real regression) from the
    artifact alone. Every floor entry must name a headline query and
    carry both protocol numbers."""
    with open("BENCH_FULL.json") as fh:
        full = json.load(fh)
    floors = full.get("isolated_floors")
    if not floors:
        # r14: the floors subprocess runs ONCE (its r11 retry helped
        # blow the r13 driver budget), so a transient failure may
        # leave floors absent — acceptable only when the artifact
        # records the failure loudly (visible, never silent).
        assert (full.get("errors") or {}).get("isolated_floors"), (
            "BENCH_FULL.json has neither isolated_floors nor a "
            "recorded isolated_floors error"
        )
        return
    timings = full["queries"]
    expect = {
        n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    }
    assert set(floors) == expect, (set(floors), expect)
    for name, rec in floors.items():
        assert name in HEADLINE, name
        assert rec["sec_isolated"] > 0 and rec["sec_steady"] > 0, (name, rec)
        # round 12 (VERDICT r11 item 7): the first-touch wall is
        # recorded separately so sec_isolated is a clean query
        # ceiling, not a store-ingest conflation
        assert rec["ingest_sec"] > 0, (name, rec)

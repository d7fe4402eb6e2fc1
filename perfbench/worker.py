"""One measurement process: set up a session, run timed passes of one
workload, check outputs, and write a JSON record.

Started by ``run.py`` in a fresh process group; not meant to be run by
hand. It calls only the package's public functions and writes a
progress line before and after every op, so that a run killed on
timeout still shows which op was in flight.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

PKG = "bigdatafinalproject_hockey_spark"

# Query workload: fixed op list, pass order drawn from the seed.
QUERY_OPS = (
    "agg_group_multi",  # relational: grouped aggregate over lineitem
    "join_star",  # relational: fact x dims, eager broadcast builds
    "text_quality_classifier",  # curation: py4j-heavy literal-table build
    "scan_orc_roundtrip",  # writes: file sink and read back
    "stream_tumbling_agg",  # streaming: micro-batches to a memory sink
)
PIPELINE_STEPS = ("scan_csv_infer", "run_pipeline", "train_eval_lr")
PIPELINE_CHECKS = ("a4_row_counts", "metrics_repeat", "auc_chance_lr")
# Pass 0 is cold (JIT, first plan compile) and pass 1 still warms up;
# steady figures start at pass 2.
STEADY_FROM = 2
# AUC on outcome-independent labels: chance is 0.5; the test season has
# 1,230 games, so the AUC's standard error is about 0.017 and 0.1 is
# about six of them.
AUC_TOLERANCE = 0.1


def now_ms() -> int:
    return int(time.time() * 1000)


class Progress:
    """Append-only JSON lines, flushed per line."""

    def __init__(self, path: str):
        self.f = open(path, "a", buffering=1)

    def __call__(self, **rec) -> None:
        self.f.write(json.dumps(rec) + "\n")

    def close(self) -> None:
        self.f.close()


def redirect_state_root(state_root: str) -> None:
    """Point the package's state root at ``state_root``. The package
    hard-codes it as an absolute ``.tmp`` directory in module constants,
    outside this checkout; every such constant is rebound."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if isinstance(val, str) and os.path.isabs(val) and os.path.basename(val) == ".tmp":
                setattr(mod, attr, state_root)


def peak_rss_mb(pid) -> float:
    """High-water resident set of one process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for {pid}")


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, args):
        from bigdatafinalproject_hockey_spark.queries import QUERIES

        self.spark = spark
        self.sf_dir = args.inputs
        self.queries = QUERIES
        self.ops = list(QUERY_OPS)
        random.Random(args.seed).shuffle(self.ops)
        self.expect = {}
        if args.expect:
            with open(args.expect) as f:
                self.expect = json.load(f)

    def steps(self):
        return self.ops

    def run_step(self, op: str, span: dict) -> None:
        df = self.queries[op](self.spark, self.sf_dir)
        span["sink_ms"] = now_ms()
        span["build_s"] = (span["sink_ms"] - span["start_ms"]) / 1e3
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        span["sink_s"] = time.perf_counter() - t
        self.spark.catalog.clearCache()

    def layers(self, spans: list[dict]) -> dict:
        return {
            "queries.build_s": sum(s["build_s"] for s in spans),
            "queries.sink_s": sum(s["sink_s"] for s in spans),
        }

    def checks(self):
        """Each op against the order-insensitive digest of its DuckDB
        oracle's result."""
        return [(op, lambda op=op: self._check(op)) for op in self.ops]

    def _check(self, op: str) -> tuple[bool, str]:
        import oracle

        want = self.expect[op]
        got = oracle.digest(self.queries[op](self.spark, self.sf_dir).toPandas())
        self.spark.catalog.clearCache()
        return got == want, f"{got} != {want}"


class ReferencePipeline:
    name = "reference_pipeline"

    def __init__(self, spark, args):
        from bigdatafinalproject_hockey_spark import ml, pipeline
        from bigdatafinalproject_hockey_spark.sources import csv

        self.spark = spark
        self.ml, self.pipeline, self.csv = ml, pipeline, csv
        self.dir = args.inputs
        with open(os.path.join(self.dir, "team_map.json")) as f:
            self.team_map = json.load(f)
        with open(os.path.join(self.dir, "counts.json")) as f:
            self.counts = json.load(f)
        self.results: list[dict] = []
        self.cur: dict = {}
        self.out: dict = {}

    def steps(self):
        return PIPELINE_STEPS

    def run_step(self, step: str, span: dict) -> None:
        span["sink_ms"] = span["start_ms"]
        if step == "scan_csv_infer":
            self.cur = {}
            self.frames = [
                self.csv.scan_csv_infer(self.spark, os.path.join(self.dir, f))
                for f in ("results.csv", "events.csv")
            ]
        elif step == "run_pipeline":
            cfg = self.pipeline.PipelineConfig(team_map=self.team_map)
            self.out = self.pipeline.run_pipeline(*self.frames, cfg)
            self.cur["game_team_rows"] = self.out["game_data"].count()
            self.cur["matchup_rows"] = self.out["matchups"].count()
        else:
            feats = sorted(
                c
                for c, t in self.out["matchups"].dtypes
                if c.startswith(("home_hist_", "away_hist_", "diff_")) and t == "double"
            )
            t = time.perf_counter()
            model = self.ml.train_pipeline(self.out["train"], feats, "lr")
            span["train_s"] = time.perf_counter() - t
            t = time.perf_counter()
            pred = model.transform(self.out["test"]).persist()
            m = self.ml.evaluate_binary(pred)
            pred.unpersist()
            span["evaluate_s"] = time.perf_counter() - t
            # Spark's areaUnderROC sums partitions in no fixed order, so
            # its last bits vary between runs; compare it at the 6 places
            # the package reports evaluation metrics to (round_dp=6).
            self.cur["lr"] = [m.tp, m.tn, m.fp, m.fn, round(m.auc, 6)]
            self.out["game_data"].unpersist()
            self.out["matchups"].unpersist()
            self.results.append(self.cur)

    def layers(self, spans: list[dict]) -> dict:
        by = {s["op"]: s for s in spans}
        return {
            "sources.csv.scan_csv_infer_s": by["scan_csv_infer"]["wall_s"],
            "pipeline.run_pipeline_s": by["run_pipeline"]["wall_s"],
            "ml.train_s.lr": by["train_eval_lr"]["train_s"],
            "ml.evaluate_s": by["train_eval_lr"]["evaluate_s"],
            "pipeline.game_team_rows": self.results[-1]["game_team_rows"],
            "pipeline.matchup_rows": self.results[-1]["matchup_rows"],
        }

    def checks(self):
        """A4 row counts, identical seed-42 metrics in every pass, and
        AUC near chance on outcome-independent labels."""
        first = self.results[0]
        rows = (first["game_team_rows"], first["matchup_rows"])
        want = (self.counts["game_team_rows"], self.counts["matchups"])
        auc = first["lr"][4]
        same = all(r == first for r in self.results)
        return list(zip(PIPELINE_CHECKS, (
            lambda: (rows == want, f"{rows} != {want}"),
            lambda: (same, "metrics differ between passes"),
            lambda: (abs(auc - 0.5) <= AUC_TOLERANCE, f"auc {auc}"),
        )))


WORKLOADS = {w.name: w for w in (QueryMix, ReferencePipeline)}


class EventLogSwitch:
    """Attaches Spark's event-log listener only around traced passes, so
    one session gives both traced and untraced passes and the tracing
    overhead is measured without a second run. The listener stays the
    session's own, so stopping the session still closes its file."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self.bus = sc.listenerBus()
        self.listener = sc.eventLogger().get()
        self.off()

    def on(self) -> None:
        self.bus.addToEventLogQueue(self.listener)

    def off(self) -> None:
        # deliver queued events first: a removed listener gets no more
        self.bus.waitUntilEmpty()
        self.bus.removeListener(self.listener)


def run_passes(wl, spark, args, log) -> list[dict]:
    """Passes up to ``STEADY_FROM``, then steady passes until
    ``args.seconds`` have elapsed since the first of them, at least one.
    With ``args.trace``, steady passes alternate untraced and traced,
    starting and ending untraced (at least three), and only traced
    passes run under job groups with the event log on. A failed op is
    logged and the pass goes on; its pass carries ``failed``."""
    passes = []
    deadline = None
    jvm_pid = spark.sparkContext._gateway.proc.pid
    switch = EventLogSwitch(spark) if args.trace else None

    def more(p: int) -> bool:
        if deadline is None:
            return True
        done = p - STEADY_FROM
        if args.trace and (done < 3 or done % 2 == 0):
            return True
        return time.perf_counter() < deadline

    p = 0
    while more(p):
        if p == STEADY_FROM:
            deadline = time.perf_counter() + args.seconds
        traced = bool(args.trace) and p > STEADY_FROM and (p - STEADY_FROM) % 2 == 1
        if traced:
            switch.on()
        spans, failed = [], 0
        t_pass = time.perf_counter()
        for step in wl.steps():
            group = f"{wl.name}/{p}/{step}"
            if traced:
                spark.sparkContext.setJobGroup(group, group)
            span = {"group": group, "pass": p, "op": step, "start_ms": now_ms()}
            log(event="start", p=p, op=step)
            t = time.perf_counter()
            try:
                wl.run_step(step, span)
            except Exception as exc:  # a failed op is counted, not fatal
                failed += 1
                log(event="end", p=p, op=step, ok=False, error=repr(exc)[:300])
                continue
            span["wall_s"] = time.perf_counter() - t
            span["end_ms"] = now_ms()
            log(event="end", p=p, op=step, ok=True)
            spans.append(span)
        rec = {"wall_s": time.perf_counter() - t_pass, "spans": spans, "failed": failed,
               "traced": traced,
               "rss_hwm_mb": {"python": peak_rss_mb("self"), "jvm": peak_rss_mb(jvm_pid)}}
        if traced:
            spark.sparkContext.setJobGroup(f"{wl.name}/idle", "idle")
            switch.off()
        if args.trace:
            rec["views_after"] = len(spark.catalog.listTables())
        passes.append(rec)
        p += 1
    return passes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", default="")
    ap.add_argument("--expect", default="")
    ap.add_argument("--out", required=True)
    ap.add_argument("--mode", choices=("measure", "prepare"), default="measure")
    args = ap.parse_args(argv)

    from bigdatafinalproject_hockey_spark.session import get_session

    state_root = os.path.join(args.work, "state")
    conf = {"spark.sql.warehouse.dir": os.path.join(args.work, "warehouse")}
    if args.trace:
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t = time.perf_counter()
    spark = get_session(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    get_session_s = time.perf_counter() - t
    setup_s = time.time() - args.launched
    record = {"setup_s": setup_s, "session.get_session_s": get_session_s}

    importlib.import_module(f"{PKG}.queries")
    redirect_state_root(state_root)
    log = Progress(args.out + ".progress")
    wl = WORKLOADS[args.workload](spark, args)

    if args.mode == "prepare":
        import oracle

        t = time.perf_counter()
        for op in wl.steps():
            wl.run_step(op, {"start_ms": now_ms()})
        record["queries.prepare_s"] = time.perf_counter() - t
        record["expect"] = oracle.expected(wl.steps(), args.inputs)
        spark.stop()
        return _write(args.out, record)

    record["views_before"] = len(spark.catalog.listTables()) if args.trace else 0
    passes = run_passes(wl, spark, args, log)
    record["passes"] = passes
    record["checks"] = []
    try:
        checks = wl.checks()
    except (IndexError, KeyError):  # no pass finished: nothing to check
        checks = []
    for name, check in checks:
        try:
            ok, detail = check()
        except Exception as exc:  # a check that raises is a failed check
            ok, detail = False, repr(exc)[:300]
        log(event="check", op=name, ok=ok)
        record["checks"].append({"op": name, "ok": ok, "detail": "" if ok else detail})
    record["layers"] = [
        wl.layers(p["spans"]) if not p["failed"] else {} for p in passes
    ]
    app_id = spark.sparkContext.applicationId
    spark.stop()
    if args.trace:
        record["eventlog"] = _eventlog_path(args.work, app_id)
    log.close()
    return _write(args.out, record)


def _eventlog_path(work: str, app_id: str) -> str:
    hits = glob.glob(os.path.join(work, "eventlog", app_id + "*"))
    return hits[0] if hits else ""


def _write(path: str, record: dict) -> int:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, path)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark driver for the engine: one workload, one seed, one record.

    python3 perfbench/run.py --workload reference_pipeline --seed 1 \\
        --seconds 4 --trace 0

Run from the repository root. Workloads (closed loop, one client, on
``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``):

- ``reference_pipeline``: the paper's job on seeded reference-shaped
  CSVs: two ``scan_csv_infer`` calls, ``run_pipeline``, then LR train +
  evaluate (the CLI's default model). The control that engine-side
  query changes should barely move; the only workload exercising
  ``sources.csv`` and ``ml``.
- ``query_mix``: registry queries (relational joins and aggregates, a
  corpus-curation classifier, an ORC round trip, a stream to a memory
  sink) each built and then run into a ``noop`` sink, in a seed-drawn
  order, over fixed seed-42 tables.

A run is: inputs (generated once per checkout and code version and
cached, untimed), then one fresh measurement process (``worker.py``)
that sets up a session (``setup_s``: process launch to session ready),
runs one cold pass (``cold_s``), one warm-up pass, then steady passes
for ``--seconds`` and at least one pass, and checks every op's output
(untimed). ``peak_rss_mb`` is the resident high-water mark of the
measurement process plus its driver JVM by the end of the first steady
pass. ``--trace 1`` instead reports per-layer figures: its steady passes
alternate untraced and traced (at least three, first and last
untraced), Spark's event log and job groups are on only in the traced
ones, the figures are medians over those, ``warm_s`` is the median
untraced steady pass, and the tracing overhead is the traced passes'
mean wall against the untraced ones'. ``warm_s`` is not an end-to-end
figure because it does not repeat: on a shared 4-vCPU VM, the steady
passes of one run agree within a few percent while whole runs differ by
up to half, so ten seeds spread 0.21-0.28 (IQR/median) for
``reference_pipeline``, against 0.04-0.15 for ``cold_s``.

The last stdout line is the JSON record; the line before it describes
the box and the on-disk state. Every child runs in its own process
group, strictly one at a time, and is killed with its JVM on timeout
or SIGTERM; ops left unfinished count as failed.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen_hockey  # noqa: E402
import gen_tables  # noqa: E402
from worker import PIPELINE_CHECKS, PKG, QUERY_OPS, STEADY_FROM  # noqa: E402

WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")

# The reference's shape: 10 seasons x 30 teams x 82 games per team =
# 12,300 games (24,600 game-team rows), 40 events per team-game.
HOCKEY_SHAPE = gen_hockey.Shape(seasons=10, teams=30, games_per_team=82, events_per_team_game=40)
HOCKEY_KEEP = 4
TABLES_SF = 0.01
TABLES_SEED = 42
RUN_BUDGET_S = 170.0

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "warm_s": "s",
    "session.get_session_s": "s",
    "sources.csv.scan_csv_infer_s": "s",
    "pipeline.run_pipeline_s": "s",
    "pipeline.game_team_rows": "count",
    "pipeline.matchup_rows": "count",
    "ml.train_s.lr": "s",
    "ml.evaluate_s": "s",
    "queries.build_s": "s",
    "queries.sink_s": "s",
    "queries.eager_jobs": "count",
    "queries.prepare_s": "s",
    "streaming.retained_views": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_deser_s": "s",
    "spark.sched_gap_s": "s",
    "spark.pre_job_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_success_ratio": "ratio",
    "ops_failed_frac": "ratio",
    "trace_overhead_pct": "%",
}
WORKLOADS = ("reference_pipeline", "query_mix")


def code_hash() -> str:
    """Hash of the package, the benchmark and the oracle helpers it
    imports: every cache and recorded baseline is keyed on it, so runs
    of two code versions in one tree never share prepared state."""
    paths = [os.path.join(ROOT, "tests", "oracle_utils.py")]
    for top in (os.path.join(ROOT, PKG), HERE):
        for base, dirs, names in os.walk(top):
            dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
            paths += [os.path.join(base, f) for f in names if f.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Terminated(Exception):
    pass


def _on_term(signum, frame):
    raise Terminated(signum)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024**2
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of RAM, 1-16 GB: the session default (16g) can exceed
    the box."""
    return f"{max(1, min(16, int(ram_gb() // 4)))}g"


def calibrate_s() -> float:
    """Fixed pure-Python loop; its time tracks the box's single-core speed."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs: its growth over a run shows a noisy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def versions() -> dict:
    import pyspark

    r = subprocess.run(["java", "-version"], capture_output=True, text=True,
                       timeout=30, env=child_env())
    java = [ln for ln in (r.stderr + r.stdout).splitlines() if "version" in ln]
    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "java": java[0] if java else None}


def dir_bytes(path: str) -> int:
    return sum(
        os.lstat(os.path.join(base, f)).st_size
        for base, _, files in os.walk(path)
        for f in files
    )


def child_env() -> dict:
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            # every JVM (launcher and driver) keeps its temp files in the
            # checkout and writes no /tmp/hsperfdata_* file
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def _reap() -> None:
    """Collect exited children, including JVMs re-parented to us."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _die_with_parent() -> None:
    """In the child before exec: SIGKILL it if this process dies, so a
    killed benchmark leaves no worker (and so no JVM, which exits when
    its Python driver goes)."""
    ctypes.CDLL(None).prctl(1, signal.SIGKILL, 0, 0, 0)  # PR_SET_PDEATHSIG


def kill_group(pgid: int) -> None:
    """Stop every process in the group and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            _reap()
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


class Runner:
    def __init__(self, deadline: float):
        self.deadline = deadline
        self.proc: subprocess.Popen | None = None

    def worker(self, args: list[str], out: str, timeout: float) -> dict | None:
        """Run ``worker.py`` in its own process group; its record, or
        ``None`` if it failed or ran out of time."""
        timeout = max(1.0, min(timeout, self.deadline - time.monotonic()))
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args,
               "--work", WORK, "--out", out, "--launched", repr(time.time())]
        with open(os.path.join(WORK, "stderr.log"), "a") as err:
            self.proc = subprocess.Popen(
                cmd, cwd=ROOT, env=child_env(), stdin=subprocess.DEVNULL,
                stdout=err, stderr=err, start_new_session=True,
                preexec_fn=_die_with_parent,
            )
            try:
                self.proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                print(f"worker timed out after {timeout:.0f}s", file=sys.stderr)
            finally:
                self.stop()
        if not os.path.exists(out):
            return None
        with open(out) as f:
            return json.load(f)

    def stop(self) -> None:
        if self.proc is not None:
            kill_group(self.proc.pid)
            self.proc.wait()
            self.proc = None


def fresh_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp", "state"):
        os.makedirs(os.path.join(WORK, d))


def _atomic_dir(final: str, build) -> None:
    """Create ``final`` by ``build(tmp_dir)`` + rename, unless it exists."""
    if os.path.isdir(final):
        return
    tmp = final + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)


def hockey_inputs(seed: int, code: str) -> str:
    """The seed's CSVs, generated once; only the ``HOCKEY_KEEP`` most
    recently used seeds stay cached (each is ~80 MB)."""
    root = os.path.join(CACHE, code, "hockey")
    path = os.path.join(root, f"{HOCKEY_SHAPE.key}_seed{seed}")

    def build(tmp):
        counts = gen_hockey.generate(tmp, HOCKEY_SHAPE, seed)
        with open(os.path.join(tmp, "counts.json"), "w") as f:
            json.dump(counts, f)

    _atomic_dir(path, build)
    os.utime(path)
    cached = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for old in cached[:-HOCKEY_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def query_inputs(runner: Runner, code: str) -> tuple[str, str]:
    """Tables, plus a prepared state root and expected digests made by
    one untimed process that runs every op once (sidecars, MV stores)."""
    key = f"sf{TABLES_SF}_seed{TABLES_SEED}"
    tables = os.path.join(CACHE, code, "tables", key)
    _atomic_dir(tables, lambda tmp: gen_tables.generate(tmp, TABLES_SF, TABLES_SEED))
    prepared = os.path.join(CACHE, code, "prepared", key)

    def build(tmp):
        fresh_work()
        out = os.path.join(WORK, "prepare.json")
        rec = runner.worker(
            ["--workload", "query_mix", "--seed", "0", "--seconds", "0",
             "--inputs", tables, "--mode", "prepare"],
            out, timeout=600,
        )
        if rec is None:
            raise RuntimeError("prepare step failed; see " + os.path.join(WORK, "stderr.log"))
        shutil.copytree(os.path.join(WORK, "state"), os.path.join(tmp, "state"))
        meta = {"queries.prepare_s": rec["queries.prepare_s"],
                "state_bytes": dir_bytes(os.path.join(tmp, "state"))}
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(rec["expect"], f)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)

    _atomic_dir(prepared, build)
    return tables, prepared


def tally(workload: str, progress: str) -> tuple[int, int, list[str]]:
    """(attempted, failed, failed op names) from the worker's progress
    log. An op started but not ended, and a planned check that never
    ran, count as attempted and failed."""
    planned_checks = len(QUERY_OPS if workload == "query_mix" else PIPELINE_CHECKS)
    started, checks, failed_names = 0, 0, []
    in_flight = {}
    if os.path.exists(progress):
        with open(progress) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut by the kill
                key = (ev.get("p"), ev.get("op"))
                if ev["event"] == "start":
                    started += 1
                    in_flight[key] = True
                elif ev["event"] == "end":
                    in_flight.pop(key, None)
                    if not ev["ok"]:
                        failed_names.append(f"pass{ev['p']}:{ev['op']}")
                elif ev["event"] == "check":
                    checks += 1
                    if not ev["ok"]:
                        failed_names.append(f"check:{ev['op']}")
    failed_names += [f"pass{p}:{op}:unfinished" for p, op in in_flight]
    missing_checks = max(planned_checks - checks, 0)
    failed_names += ["check:not_run"] * missing_checks
    attempted = started + max(planned_checks, checks)
    return attempted, len(failed_names), failed_names


def e2e_metrics(rec: dict) -> dict:
    walls = [p["wall_s"] for p in rec["passes"]]
    return {
        "setup_s": rec["setup_s"],
        "cold_s": walls[0],
        "peak_rss_mb": sum(peak_rss_parts(rec).values()),
    }


def peak_rss_parts(rec: dict) -> dict:
    """Resident high-water marks by the end of the first steady pass: a
    fixed amount of work, whereas the number of later passes varies with
    the host's speed and each one can grow the JVM heap."""
    passes = rec["passes"]
    return passes[min(STEADY_FROM, len(passes) - 1)]["rss_hwm_mb"]


def layer_metrics(rec: dict, prepared_meta: dict) -> tuple[dict, dict]:
    """Per-layer figures of a traced record: the median over traced
    passes of each pass's total. Returns (metrics, trace) where trace holds
    the spans with self time and per-op figures."""
    spans = [s for p in rec["passes"] for s in p["spans"]]
    folded = eventlog.fold(eventlog.read(rec["eventlog"]), spans) if rec.get("eventlog") else {}
    per_pass = []
    views_prev = rec.get("views_before", 0)
    for i, p in enumerate(rec["passes"]):
        tot = dict.fromkeys(eventlog.FIELDS, 0.0)
        for s in p["spans"]:
            for k, v in folded.get(s["group"], {}).items():
                tot[k] += v
        row = {f"spark.{k}": v for k, v in tot.items() if k not in ("eager_jobs", "attempts")}
        row["queries.eager_jobs"] = tot["eager_jobs"]
        row["spark.task_success_ratio"] = tot["tasks"] / tot["attempts"] if tot["attempts"] else 1.0
        row["streaming.retained_views"] = p.get("views_after", views_prev) - views_prev
        views_prev = p.get("views_after", views_prev)
        row.update(rec["layers"][i])
        per_pass.append(row)
    warm = [row for row, p in zip(per_pass, rec["passes"]) if p["traced"]]
    metrics = {}
    for name in PER_LAYER:
        vals = [r[name] for r in warm if name in r]
        metrics[name] = statistics.median(vals) if vals else 0.0
    metrics["session.get_session_s"] = rec["session.get_session_s"]
    metrics["queries.prepare_s"] = prepared_meta.get("queries.prepare_s", 0.0)
    metrics["trace_overhead_pct"] = trace_overhead_pct(rec["passes"])
    metrics["warm_s"] = statistics.median(
        p["wall_s"] for p in rec["passes"][STEADY_FROM:] if not p["traced"])
    trace = {"spans": _span_tree(rec), "per_op": {}}
    for s in spans:
        d = trace["per_op"].setdefault(s["op"], {"build_s": [], "sink_s": [], "wall_s": []})
        d["build_s"].append(s.get("build_s", 0.0))
        d["sink_s"].append(s.get("sink_s", s["wall_s"]))
        d["wall_s"].append(s["wall_s"])
        for k, v in folded.get(s["group"], {}).items():
            d.setdefault(k, []).append(v)
    return metrics, trace


def trace_overhead_pct(passes: list[dict]) -> float:
    """Mean traced steady pass against the mean untraced one of the same
    session; they alternate, starting and ending untraced, so a steady
    drift in pass time cancels."""
    steady = passes[STEADY_FROM:]
    traced = statistics.mean(p["wall_s"] for p in steady if p["traced"])
    plain = statistics.mean(p["wall_s"] for p in steady if not p["traced"])
    return 100.0 * (traced - plain) / plain


def _span_tree(rec: dict) -> list[dict]:
    """workload -> pass -> op -> build/sink, each with self time: its
    duration minus its children's."""
    out = []
    total = sum(p["wall_s"] for p in rec["passes"])
    children = 0.0
    for i, p in enumerate(rec["passes"]):
        op_walls = sum(s["wall_s"] for s in p["spans"])
        out.append({"name": f"pass/{i}", "parent": rec["workload"], "dur_s": p["wall_s"],
                    "self_s": p["wall_s"] - op_walls})
        children += p["wall_s"]
        for s in p["spans"]:
            kids = s.get("build_s", 0.0) + s.get("sink_s", 0.0)
            out.append({"name": s["group"], "parent": f"pass/{i}", "dur_s": s["wall_s"],
                        "self_s": s["wall_s"] - kids})
            if "build_s" in s:
                out.append({"name": s["group"] + "/build", "parent": s["group"],
                            "dur_s": s["build_s"], "self_s": s["build_s"]})
                out.append({"name": s["group"] + "/sink", "parent": s["group"],
                            "dur_s": s["sink_s"], "self_s": s["sink_s"]})
    out.insert(0, {"name": rec["workload"], "parent": None, "dur_s": total,
                   "self_s": total - children})
    return out


def _dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bigdatafinalproject_hockey_spark", "__init__.py")):
        print("run from a checkout of the repository: the engine package is missing",
              file=sys.stderr)
        return 2
    # Orphaned grandchildren (the JVM of a killed worker) are re-parented
    # to this process, so kill_group can reap them.
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    signal.signal(signal.SIGTERM, _on_term)
    started = time.monotonic()
    steal0 = steal_s()
    runner = Runner(deadline=started + RUN_BUDGET_S)
    box = {"nproc": nproc(), "ram_gb": round(ram_gb(), 2), "SPARK_GRAFT_CPUS": nproc(),
           "driver_memory": driver_mem(), "calibration_s": calibrate_s(), **versions()}
    os.makedirs(CACHE, exist_ok=True)
    code = code_hash()
    tag = f"{args.workload}-s{args.seed}"
    prepared_meta: dict = {}
    rec = None
    progress = os.path.join(WORK, "measure.json.progress")
    try:
        if args.workload == "query_mix":
            tables, prepared = query_inputs(runner, code)
            with open(os.path.join(prepared, "meta.json")) as f:
                prepared_meta = json.load(f)
            inputs = ["--inputs", tables, "--expect", os.path.join(prepared, "expect.json")]
        else:
            inputs = ["--inputs", hockey_inputs(args.seed, code)]
        fresh_work()
        if args.workload == "query_mix":
            shutil.rmtree(os.path.join(WORK, "state"))
            shutil.copytree(os.path.join(prepared, "state"), os.path.join(WORK, "state"))
        box["state_bytes"] = dir_bytes(os.path.join(WORK, "state"))
        rec = runner.worker(
            ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), *inputs],
            os.path.join(WORK, "measure.json"), runner.deadline - time.monotonic(),
        )
    except Terminated:
        runner.stop()
        print("terminated", file=sys.stderr)
        attempted, failed, names = tally(args.workload, progress)
        print(json.dumps({"box": box, "failed_ops": names}))
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1
    finally:
        runner.stop()

    attempted, failed, names = tally(args.workload, progress)
    if rec is not None:
        rec["workload"] = args.workload
    ok = rec is not None and bool(rec["passes"]) and failed == 0
    metrics: dict = {}
    if rec is not None and rec["passes"]:
        if args.trace:
            values, trace = layer_metrics(rec, prepared_meta)
            values["ops_failed_frac"] = failed / attempted
            trace["box"] = box
            _dump(os.path.join(OUT, f"trace-{tag}.json"), trace)
            units = PER_LAYER
        else:
            values = e2e_metrics(rec)
            units = END_TO_END
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
    if ok:
        shutil.rmtree(WORK, ignore_errors=True)
    summary = {"box": box, "workload": args.workload, "seed": args.seed,
               "ops_failed_frac": failed / attempted if attempted else 1.0,
               "failed_ops": names, "wall_s": time.monotonic() - started,
               "pass_walls": [p["wall_s"] for p in rec["passes"]] if rec else [],
               "steal_s": steal_s() - steal0,
               "peak_rss_parts_mb": peak_rss_parts(rec) if rec and rec["passes"] else None}
    print(json.dumps(summary))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())

"""The pd_explain_spark benchmark.

    python3 perfbench/run.py --workload explain_session --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds its inputs (perfbench/data.py) under
``.bench_build/perfbench``, starts one ``local[nproc]`` Spark session, sets
up three times (session start, table load), runs one untimed warm-up cycle
(``setup_s`` = median set-up + warm-up cycle), then runs whole cycles of
the workload until at least ``--seconds`` of op time is measured.
Every op's output is checked against ``perfbench/goldens.json``. The last
stdout line is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics (from spans around each public-layer call, with Spark
job-group counters) with ``--trace 1``. ``--record-goldens`` re-runs every
op a seed can draw and rewrites the golden file.

See perfbench/NOTES.md for the session shape, the metric definitions and
which layer metric is expected to move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
from spans import Tracer, descendants, vm_hwm_mb  # noqa: E402
from workloads import WORKLOADS, Ctx, ExplainSession  # noqa: E402

GOLDENS = os.path.join(HERE, "goldens.json")
SETUP_REPS = 3
DRIVER_MEM = "1g"  # fits a 15 GB box shared with other work
TOL = 1e-6
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def session_shape(build_dir: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    return {"master": f"local[{cpus}]", "SPARK_GRAFT_CPUS": cpus,
            "driver_memory": DRIVER_MEM, "local_dirs": os.path.relpath(build_dir, ROOT),
            "lineitem_rows": data.LINEITEM_ROWS, "orders_rows": data.ORDERS_ROWS,
            "documents": data.DOCS, "data_seed": data.DATA_SEED}


def pin_environment(workdir: str, shape: dict) -> None:
    """Pin the session shape before pyspark starts the JVM. Every temporary
    directory Spark or Python might use points inside ``workdir``."""
    local, tmp, wh = (os.path.join(workdir, d) for d in ("spark-local", "tmp", "warehouse"))
    for d in (local, tmp, wh):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(shape["SPARK_GRAFT_CPUS"]),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files: HotSpot writes them to /tmp whatever the tmpdir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={wh}",
            f"--conf 'spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
            "pyspark-shell",
        ]),
    })


def import_library():
    """Import the package from this checkout; exit non-zero without it."""
    sys.path.insert(0, ROOT)
    try:
        import pd_explain_spark
    except ImportError as e:
        print(f"perfbench: cannot import pd_explain_spark from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    if not os.path.abspath(pd_explain_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: pd_explain_spark does not come from this checkout", file=sys.stderr)
        sys.exit(2)


# ---------------------------------------------------------------- checking
def same(got, want) -> bool:
    if isinstance(want, float) or isinstance(got, float):
        if got is None or want is None:
            return got is want
        if math.isnan(want):
            return math.isnan(got)
        return abs(got - want) <= TOL * max(1.0, abs(want))
    if isinstance(want, (list, tuple)):
        return (isinstance(got, (list, tuple)) and len(got) == len(want)
                and all(same(g, w) for g, w in zip(got, want)))
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(same(got[k], want[k]) for k in want))
    return got == want


def normalise(x):
    """Digest as JSON would store it (tuples -> lists, numpy/Row -> plain)."""
    return json.loads(json.dumps(x, default=lambda o: o.item() if hasattr(o, "item") else str(o)))


# ---------------------------------------------------------------- session
class Bench:
    def __init__(self, workload, trace: bool, workdir: str, paths: dict):
        self.w = workload
        self.tracer = Tracer(trace)
        self.workdir = workdir
        self.paths = paths
        self.spark = None
        self.ctx = None
        self.goldens: dict | None = None  # None: record mode, nothing to check
        self.wrong: list[str] = []

    def set_up(self) -> float:
        """One set-up: fresh SparkSession and table load."""
        from pd_explain_spark import get_spark

        tr = self.tracer
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        with tr.span("session.start"):
            self.spark = get_spark("perfbench")
        tr.bind(self.spark)
        self.ctx = Ctx(self.spark, tr, self.paths, self.workdir,
                       state={"n_docs": data.DOCS})
        with tr.span("sources.load", spark=True):
            self.w.load(self.ctx)
        return time.perf_counter() - t0

    def check(self, done) -> bool:
        if self.goldens is None:
            return True
        want = self.goldens.get(done.op.key)
        ok = want is not None and same(normalise(done.digest), want)
        if not ok:
            print(f"perfbench: WRONG OUTPUT {done.op.key}: got {normalise(done.digest)!r} "
                  f"want {want!r}", file=sys.stderr)
            self.wrong.append(done.op.key)
        return ok

    def run_op(self, o, phase: str, ctx: Ctx | None = None):
        """Execute one op and, unless it ran in a warm-up context, check it;
        returns (Done or None, ok, wall seconds)."""
        self.tracer.phase = phase
        t0 = time.perf_counter()
        try:
            d = self.w.execute(ctx or self.ctx, o)
        except Exception:
            print(f"perfbench: op {o.key} FAILED\n{traceback.format_exc()}", file=sys.stderr)
            self.wrong.append(o.key)
            return None, False, time.perf_counter() - t0
        return d, ctx is not None or self.check(d), d.latency

    def stop(self) -> float:
        """Stop the session and the JVM; return the JVM + driver VmHWM."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        pids = [os.getpid()]
        if proc is not None:
            pids += [p for p in [proc.pid, *descendants(proc.pid)] if _comm(p) == "java"]
        rss = vm_hwm_mb(pids)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        return rss


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


# ---------------------------------------------------------------- metrics
def tail(lat: list[float]) -> tuple[str, float]:
    """Highest percentile with at least ten samples beyond it; the maximum
    when fewer than 20 samples leave no such percentile."""
    n = len(lat)
    for q in TAIL_PERCENTILES:
        if n * (1 - q / 100) >= 10:
            cuts = statistics.quantiles(lat, n=1000, method="inclusive")
            return f"p{q:g}", cuts[int(round(q * 10)) - 1]
    return "max", max(lat)


def end_to_end(setup_s, timed, rss) -> dict:
    lat = [d.latency for d in timed]
    name, tail_v = tail(lat)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }, name


def _med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_layer(bench: Bench, timed, cpus: int) -> dict:
    tr = bench.tracer
    spans = [s for s in tr.spans if s.phase == "timed"]
    setup = [s for s in tr.spans if s.phase == "setup"]
    probes = [s for s in tr.spans if s.phase == "probe"]

    def named(name):
        return [s for s in spans if s.name == name]

    m = {
        "session.start_s": (_med(s.dur for s in setup if s.name == "session.start"), "s"),
        "sources.load_s": (_med(s.dur for s in setup if s.name == "sources.load"), "s"),
        "core.capture_ms": (_med(s.dur * 1e3 for s in named("core.capture")), "ms"),
        "core.capture_jobs": (sum(s.counters["jobs"] for s in named("core.capture")
                                  + named("llm.query_language.execute")), "count"),
        "llm.query_language.execute_ms": (
            _med(s.dur * 1e3 for s in named("llm.query_language.execute")), "ms"),
    }
    sizes = {t: os.path.getsize(p) for t, p in bench.paths.items()}
    for k in ExplainSession.kinds:
        calls = named(f"explainers.{k}")
        c = lambda key: [s.counters[key] for s in calls]  # noqa: E731
        src = sum(sizes[t] for t in ExplainSession.sources[k])
        pre = f"explainers.{k}"
        m.update({
            f"{pre}.p50_s": (_med(s.dur for s in calls), "s"),
            f"{pre}.jobs": (_med(c("jobs")), "count"),
            f"{pre}.stages": (_med(c("stages")), "count"),
            f"{pre}.tasks": (_med(c("tasks")), "count"),
            f"{pre}.job_s": (_med(c("job_s")), "s"),
            f"{pre}.driver_s": (_med(s.dur - s.counters["job_s"] for s in calls), "s"),
            f"{pre}.exec_cpu_s": (_med(c("exec_cpu_s")), "s"),
            f"{pre}.input_bytes": (_med(c("input_bytes")), "B"),
            f"{pre}.scan_ratio": (_med(c("input_bytes")) / src, "ratio"),
            f"{pre}.shuffle_bytes": (_med(c("shuffle_bytes")), "B"),
        })
    for h in ("profile", "dual_hist"):
        m[f"explainers.histograms.{h}_s"] = (
            _med(s.dur for s in probes if s.name == f"explainers.histograms.{h}"), "s")
    for f in ("curation_pipeline", "dedup_near", "index_dedup", "index_append"):
        calls = named(f"functions.{f}")
        m[f"functions.{f}_s"] = (_med(s.dur for s in calls), "s")
        m[f"functions.{f}.jobs"] = (_med(s.counters["jobs"] for s in calls), "count")
        m[f"functions.{f}.shuffle_bytes"] = (
            _med(s.counters["shuffle_bytes"] for s in calls), "B")
    index_path = bench.ctx.state.get("index_path")
    indexed = bench.ctx.state["index"].sizes.count() if index_path else 0
    m["functions.index_bytes_per_doc"] = (
        _dir_bytes(index_path) / indexed if indexed else 0.0, "B")
    ingest = [d for d in timed if d.docs]
    m["functions.docs_per_s"] = (
        sum(d.docs for d in ingest) / sum(d.latency for d in ingest) if ingest else 0.0,
        "1/s")
    busy = sum(d.latency for d in timed)
    # the op-level spans only: histogram probes run outside the op latency
    counted = [s for s in spans if s.counters]
    m["spark.gc_s"] = (sum(s.counters["gc_s"] for s in counted), "s")
    m["spark.core_busy_frac"] = (sum(s.counters["run_s"] for s in counted) / (busy * cpus),
                                 "ratio")
    lat = [d.latency for d in timed]
    m["trace.op_p50_s"] = (statistics.median(lat), "s")
    m["trace.ops_per_s"] = (len(lat) / busy, "1/s")
    m["trace.self_s"] = (tr.self_s / len(timed), "s")
    return m


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- main
def run(args, workdir: str, build_dir: str) -> int:
    shape = session_shape(build_dir)
    pin_environment(workdir, shape)
    import_library()
    paths = data.write_tables(os.path.join(workdir, "data"))
    w = WORKLOADS[args.workload]
    bench = Bench(w, args.trace == 1, workdir, paths)
    with open(GOLDENS) as f:
        bench.goldens = json.load(f)
    cycles = w.cycles(random.Random(args.seed))
    try:
        bench.tracer.phase = "setup"
        setups = [bench.set_up() for _ in range(SETUP_REPS)]
        t0 = time.perf_counter()
        wctx, ops = w.warmup(bench.ctx, cycles)
        for o in ops:
            bench.run_op(o, "warmup", wctx)
        warmup_s = time.perf_counter() - t0
        timed, attempted, failed, measured = [], 0, 0, 0.0
        while measured < args.seconds:
            for o in next(cycles):
                d, ok, wall = bench.run_op(o, "timed")
                attempted += 1
                failed += not ok
                measured += wall
                if d is not None:
                    timed.append(d)
        if not timed:
            print("perfbench: no op completed", file=sys.stderr)
            return 1
        if bench.tracer.enabled:
            metrics = per_layer(bench, timed, shape["SPARK_GRAFT_CPUS"])
            bench.tracer.write(os.path.join(
                build_dir, "traces", f"{w.name}-seed{args.seed}.json"))
    finally:
        rss = bench.stop()
    if not bench.tracer.enabled:
        metrics, tail_name = end_to_end(statistics.median(setups) + warmup_s, timed, rss)
    kinds = {}
    for d in timed:
        if d.explain_s is not None:
            kinds.setdefault(d.op.kind, []).append(d.explain_s)
    info = {"workload": w.name, "seed": args.seed, "trace": args.trace,
            "ops": len(timed), "failed_frac": failed / max(attempted, 1),
            "session": shape, "setup_reps_s": [round(s, 4) for s in setups],
            "warmup_s": round(warmup_s, 4)}
    if not bench.tracer.enabled:
        info["op_tail"] = f"{tail_name} of {len(timed)} ops"
    if kinds:
        info["explain_p50_s"] = {k: round(statistics.median(v), 4) for k, v in kinds.items()}
    print("perfbench: " + json.dumps(info))
    out = {
        "correct": not bench.wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def record_goldens(workdir: str, build_dir: str) -> int:
    """Run every op any seed can draw, in a fresh session per workload, and
    write their output digests to goldens.json."""
    shape = session_shape(build_dir)
    pin_environment(workdir, shape)
    import_library()
    paths = data.write_tables(os.path.join(workdir, "data"))
    goldens = {}
    for w in WORKLOADS.values():
        bench = Bench(w, False, workdir, paths)
        bench.tracer.phase = "setup"
        try:
            bench.set_up()
            for o in w.all_ops():
                d = w.execute(bench.ctx, o)
                goldens[o.key] = normalise(d.digest)
                print(f"{o.key}: {d.latency:.3f}s", file=sys.stderr, flush=True)
        finally:
            bench.stop()
    with open(GOLDENS, "w") as f:
        json.dump(goldens, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(goldens)} goldens to {GOLDENS}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args()
    if args.record_goldens == bool(args.workload):
        ap.error("give either --workload or --record-goldens")
    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    workdir = os.path.join(build_dir, f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        if args.record_goldens:
            return record_goldens(workdir, build_dir)
        return run(args, workdir, build_dir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

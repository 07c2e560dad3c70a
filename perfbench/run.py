"""Layer benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload olap_scaleup --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop (one client, one process, a
``local[nproc]`` session): set-up, which ends with a warm-up pass whose
outputs are checked against ``expected.json``, then whole passes until
``--seconds`` have elapsed and at least three untraced passes have run.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it report the same figures for people, with sample counts
and the host's load.

``--record`` stores the warm-up outputs as the new expected values (for
every ``daily_etl`` variant) and then cross-checks the registry queries
against their DuckDB oracle SQL with ``tools/check_correctness.py``.

See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

import check
import inputs
import layers
import stats
import workloads as W

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE_DIR = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(BENCH_DIR, "expected.json")
MIN_PASSES = 3  # untraced passes per run: pass_s is a median of at least three
MIN_PASSES_TRACED = 2  # untraced passes beside the traced ones of a --trace 1 run

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "sources.load_s": "s",
    "sources.calls": "count",
    "sources.jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "queries.build_tasks": "count",
    "operators.graph_s": "s",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "ckpt.segments": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execution.wall_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.failed_tasks": "count",
    "execution.task_s": "s",
    "execution.gc_s": "s",
    "execution.shuffle_write_mb": "MB",
    "execution.shuffle_read_mb": "MB",
    "execution.spill_mb": "MB",
    "execution.core_util": "ratio",
    "plans.s": "s",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.rewrite_mb": "MB",
    "sinks.bytes_written_mb": "MB",
    "enrichment.s": "s",
    "enrichment.rows": "count",
    "streaming.s": "s",
    "streaming.batches": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "driver.peak_rss_mb": "MB",
}
# Per-layer metric <- key of the per-operation values (layers.Tracer.end_op).
FROM_OP = {
    "sources.load_s": "sources.incl_s",
    "operators.graph_s": "operators.graph.incl_s",
    "operators.dedup_s": "operators.dedup.incl_s",
    "operators.similarity_s": "operators.similarity.incl_s",
    "execution.wall_s": "execution.incl_s",
    "plans.s": "plans.self_s",
    "sinks.write_s": "sinks.self_s",
    "enrichment.s": "enrichment.self_s",
    "streaming.s": "streaming.self_s",
}
MB = 1024 * 1024


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, flush=True)


# -- host and process context -----------------------------------------------
def host_context() -> dict:
    load1 = os.getloadavg()[0]
    with open("/proc/loadavg") as f:
        runnable = int(f.read().split()[3].split("/")[0])
    nproc = len(os.sched_getaffinity(0))
    return {
        "load1": load1,
        "runnable": runnable,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "busy": load1 > nproc / 8,
    }


def peak_rss_mb(pid: int | str) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def prepare_env(work: str, tmp: str, nproc: int) -> None:
    """Keep every file the engine, Spark and its workers write inside the
    checkout, and put the engine on the Python workers' path whatever the
    current directory."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tempfile.tempdir = None
    os.chdir(work)


# -- set-up ------------------------------------------------------------------
def start_engine(sf_dir: str, trace: bool):
    """The first part of set-up: import the engine, which starts the JVM
    and the session, import its query registry, bind every input table.
    Returns (spark, registry, tracer)."""
    session = importlib.import_module(f"{layers.PKG}.session")
    spark = session.get_session("perfbench")
    tracer = layers.Tracer(spark.sparkContext) if trace else None
    swaps = layers.install(tracer) if trace else {}
    registry = importlib.import_module(f"{layers.PKG}.queries").load_all()
    layers.rebind(swaps)
    tables = importlib.import_module(f"{layers.PKG}.sources.tables")
    for name in tables.TABLES:
        tables.load_table(spark, sf_dir, name)
    return spark, registry, tracer


# -- passes ------------------------------------------------------------------
class PassResult:
    def __init__(self):
        self.seconds = 0.0
        self.latencies: list[float] = []
        self.ops: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = defaultdict(float)
        self.bytes_written = 0
        self.traced = False


def run_pass(ctx, order, expected=None, variant_key="", workload="", record=None) -> PassResult:
    """Run ``order`` once.  With ``expected`` (the warm-up pass), check each
    operation's output right after it runs; with ``record``, store it."""
    res = PassResult()
    res.traced = ctx.traced
    ctx.checking = expected is not None or record is not None
    shutil.rmtree(ctx.out_dir, ignore_errors=True)
    os.makedirs(ctx.out_dir)
    t_pass = time.perf_counter()
    for op in order:
        res.attempted += 1
        if res.traced:
            ctx.tracer.begin_op()
            wall0 = time.time()
        t0 = time.perf_counter()
        try:
            op.run(ctx)
        except Exception:  # noqa: BLE001 -- a failed operation is a result
            res.failed += 1
            log(f"# FAILED {op.name}:\n{traceback.format_exc()}")
            continue
        res.latencies.append(time.perf_counter() - t0)
        res.ops.append((op.name, res.latencies[-1]))
        if res.traced:
            vals = ctx.tracer.end_op()
            n, size = W.files_since(ctx.out_dir, wall0)
            vals["sinks.files_written"] = n
            if op.rewrites:
                vals["sinks.rewrite_mb"] = size / MB
            for k, v in vals.items():
                res.layers[k] += v
        if expected is None and record is None:
            continue
        out = op.output(ctx)
        got = check.fingerprint(out, ctx.eng.quality.table_fingerprint)
        if out.is_cached:
            out.unpersist()
        if op.files_of:
            got["files"] = W.file_count(os.path.join(ctx.out_dir, op.files_of))
        if record is not None:
            record.put(workload, variant_key, op.name, got)
            continue
        errs = check.mismatches(expected.get(workload, variant_key, op.name), got)
        if errs:
            res.failed += 1
            log(f"# CHECK FAILED {op.name}: {'; '.join(errs)}")
    res.seconds = time.perf_counter() - t_pass
    log(
        f"# pass {res.seconds:.3f}s{' traced' if res.traced else ''}: "
        + " ".join(f"{name.split('_')[0]}={s:.3f}" for name, s in res.ops)
    )
    res.bytes_written = W.dir_bytes(ctx.out_dir)
    if res.traced:
        res.layers["sinks.bytes_written_mb"] = res.bytes_written / MB
    _release(ctx)
    return res


def _release(ctx) -> None:
    """Drop what a pass leaves in the session: the cached enrichment frame
    and the streaming memory-sink tables."""
    wide = ctx.state.pop("wide", None)
    if wide is not None:
        wide.unpersist()
    df = ctx.state.pop("df", None)
    if df is not None and df.is_cached:
        df.unpersist()
    for t in ctx.spark.catalog.listTables():
        if t.name.startswith("mem_"):
            ctx.spark.catalog.dropTempView(t.name)


# -- metrics -----------------------------------------------------------------
def layer_metrics(traced: list[PassResult], untraced: list[PassResult], cores: int) -> dict:
    n = len(traced)
    tot: dict[str, float] = defaultdict(float)
    for r in traced:
        for k, v in r.layers.items():
            tot[k] += v
    out = {}
    for name in PER_LAYER:
        out[name] = tot.get(FROM_OP.get(name, name), 0.0) / n
    wall = out["execution.wall_s"]
    out["execution.core_util"] = out["execution.task_s"] / (wall * cores) if wall > 0 else 0.0
    out["trace.pass_s"] = statistics.median(r.seconds for r in traced)
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(
        r.seconds for r in untraced
    )
    return out


def layer_shares(op: dict, op_s: float) -> str:
    """Each layer's self time as a share of traced operation time (the
    rest is the benchmark's own glue between spans)."""
    shares = sorted(
        ((k[: -len(".self_s")], v / op_s) for k, v in op.items() if k.endswith(".self_s")),
        key=lambda kv: -kv[1],
    )
    return f"# self-time shares of op time {op_s:.3f}s: " + ", ".join(
        f"{layer} {share:.1%}" for layer, share in shares
    )


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    for name, value in metrics.items():
        log(f"# {name} = {value:.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )


# -- main --------------------------------------------------------------------
def stop_spark() -> None:
    """Stop the session, then close the driver JVM's stdin (it exits on
    EOF, taking its Python workers with it) and wait for it to end."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, layers.PKG)):
        print(f"engine package not found beside {BENCH_DIR}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOAD_NAMES:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    host = host_context()
    run_id = str(os.getpid())
    work = os.path.join(STATE_DIR, "work", run_id)
    tmp = os.path.join(STATE_DIR, "tmp", run_id)
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    prepare_env(work, tmp, host["nproc"])
    log(
        f"# host load1={host['load1']:.2f} runnable={host['runnable']} nproc={host['nproc']} "
        f"SPARK_GRAFT_CPUS={host['SPARK_GRAFT_CPUS'] or 'unset'} "
        f"(session uses {os.environ['SPARK_GRAFT_CPUS']}) busy={host['busy']}"
    )
    try:
        _run(args, host, work)
        return 0
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, host: dict, work: str) -> None:
    sf_dir = inputs.olap_dir(STATE_DIR) if args.workload == "olap_scaleup" else inputs.SMALL
    trace = bool(args.trace)

    # Set-up, timed as one: JVM and session start, load_all(), table
    # binding and the checked warm-up pass.
    t_setup = time.perf_counter()
    spark, registry, tracer = start_engine(sf_dir, trace)
    wl = W.workloads(list(registry))[args.workload]
    ctx = W.Ctx(spark, W.Engine(registry), sf_dir, os.path.join(work, "out"), {}, tracer)
    expected = check.Expected(EXPECTED)

    if args.record:
        record(ctx, wl, expected, sf_dir)
        return

    v = wl.variant_index(args.seed)
    ctx.variant = wl.variants[v]
    vkey = f"v{v}"
    warm = run_pass(ctx, W.pass_order(wl.ops, args.seed, 0), expected, vkey, wl.name)
    setup_s = time.perf_counter() - t_setup
    log(f"# set-up {setup_s:.3f}s, of which the warm-up pass {warm.seconds:.3f}s, "
        f"checked {warm.attempted} outputs, {warm.failed} failed")

    untraced: list[PassResult] = []
    traced: list[PassResult] = []
    t_start = time.perf_counter()
    k = 0
    while True:
        if tracer is not None:
            tracer.enabled = k % 2 == 1
        r = run_pass(ctx, W.pass_order(wl.ops, args.seed, k + 1))
        (traced if r.traced else untraced).append(r)
        k += 1
        enough = len(untraced) >= (MIN_PASSES_TRACED if trace else MIN_PASSES)
        done = time.perf_counter() - t_start >= args.seconds and enough
        if done and (not trace or traced):
            break

    passes = untraced + traced
    attempted = warm.attempted + sum(r.attempted for r in passes)
    failed = warm.failed + sum(r.failed for r in passes)
    lat = [x for r in untraced for x in r.latencies]
    log(stats.describe("pass", [r.seconds for r in untraced]))
    log(stats.describe("op latency", lat))
    log(f"# failed_op_share = {failed / attempted:.6g} ({failed} of {attempted})")
    log(f"# bytes_written_mb = {untraced[-1].bytes_written / MB:.6g} MB per pass")

    if trace:
        metrics = layer_metrics(traced, untraced, host["nproc"])
        op_s = sum(sum(r.latencies) for r in traced) / len(traced)
        per_pass = {k: sum(r.layers.get(k, 0.0) for r in traced) / len(traced)
                    for k in traced[0].layers}
        log(layer_shares(per_pass, op_s))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        metrics["driver.peak_rss_mb"] = peak_rss_mb("self") + peak_rss_mb(jvm_pid)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(r.seconds for r in untraced),
            "op_p50_s": statistics.median(lat),
        }
        units = END_TO_END
    emit(failed == 0, attempted, failed, metrics, units)


def record(ctx, wl, expected, sf_dir) -> None:
    """Store the outputs of one pass per variant as the expected values,
    then cross-check the registry queries against their DuckDB oracles."""
    for v, variant in enumerate(wl.variants):
        ctx.variant = variant
        run_pass(ctx, W.pass_order(wl.ops, 0, 0), None, f"v{v}", wl.name, record=expected)
    expected.save()
    log(f"# recorded {wl.name} into {EXPECTED}")
    queries = [op.name for op in wl.ops if op.name in ctx.eng.registry]
    stop_spark()
    cmd = [sys.executable, os.path.join(ROOT, "tools", "check_correctness.py"), sf_dir, *queries]
    subprocess.run(cmd, check=True, cwd=ROOT)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

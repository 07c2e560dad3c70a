"""Multi-JVM pinning: the oracle gate passes under ``local-cluster``.

Every other test runs ``local[32]`` — ONE JVM, where broadcast is a
pointer share, nothing crosses a socket, and Python workers trivially
import the engine package from the driver's ``sys.path``.  That hides a
whole class of cluster-only failures: closures that pickle driver-local
state, UDFs whose module isn't importable on executors, broadcast values
that don't serialize.  This test re-runs a representative slice of the
DuckDB-oracle gate on ``local-cluster[2,4,3072]`` — two REAL executor
JVMs with netty shuffle and their own Python workers — in a subprocess
(two SparkContexts cannot coexist in one process).

The slice covers each risky family once: the broadcast-join flagship,
an Arrow pandas UDF, a Python DataSource read, a streaming job, an
iterative graph op (localCheckpoint across executors), and a
mapInPandas decode.  The FULL registry on local-cluster is the sweep
tier ``tools/run_scale_sweeps.sh cluster``.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CLUSTER_SLICE = [
    "flagship_active_customer_snapshot",  # broadcast semi-join across JVMs
    "udf1_pandas_scalar_address",  # Arrow pandas UDF on executor workers
    "io7_python_datasource_pages",  # Python DataSource partitions on executors
    "st3_session_windows",  # streaming micro-batches + state store
    "pr4_cc_alternating",  # min-label CC: one join + localCheckpoint per round
    "mm2_decoded_features",  # mapInPandas binary decode
]


def test_oracle_gate_passes_on_local_cluster():
    env = dict(os.environ)
    env["SPARK_GRAFT_MASTER"] = "local-cluster[2,4,3072]"
    # Executor Python workers import engine modules by reference; on a
    # real cluster this contract is met by --py-files / a shipped wheel.
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "check_correctness.py"),
            "/root/testdata/sf0.001",
            *CLUSTER_SLICE,
        ],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    out = proc.stdout
    assert proc.returncode == 0, f"gate subprocess failed:\n{out}\n{proc.stderr[-3000:]}"
    assert f"{len(CLUSTER_SLICE)} pass, 0 rows-only, 0 fail" in out, out


# Task-RETRY exactness.  local[N] runs with maxFailures=1 — a task that
# fails kills the job, so no test on the default master can observe what
# a 1000-executor cluster does constantly: re-run a task attempt and
# fold its SECOND result into the same job.  An operator whose output
# varies per attempt (wall-clock, rng, partition-local counters) passes
# every single-JVM gate and silently corrupts results under real retry.
# This pins the contract: inject a transient failure into attempt 0 of
# one partition under local-cluster (maxFailures=4 default) and require
# the job's output to be byte-identical to the failure-free run.
_RETRY_SCRIPT = r"""
import os, sys
sys.path.insert(0, os.environ["SPARK_GRAFT_REPO"])
from data_etl_scripts_showcase__spark.session import get_session
from pyspark import TaskContext
from pyspark.sql import functions as F

spark = get_session("retry_probe")
li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
    "l_orderkey", "l_quantity", "l_extendedprice"
).repartition(8, "l_orderkey")

def chunks(it):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        raise RuntimeError("injected transient failure (attempt 0)")
    for pdf in it:
        yield pdf

flaky = li.mapInPandas(chunks, li.schema)
agg = lambda df: sorted(
    df.groupBy((F.col("l_orderkey") % 16).alias("b"))
    .agg(
        F.sum("l_quantity").alias("q"),
        # cents as BIGINT: double summation order is not deterministic
        # across separately-executed jobs, and a sum near a .005 boundary
        # could flip a 2-dp rounding (ADVICE r7) -- exact integers can't
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("p"),
        F.count("*").alias("n"),
    )
    .collect()
)
assert agg(flaky) == agg(li), "retry produced a different result"
print("RETRY_EXACT")
spark.stop()
"""


def test_task_retry_is_exact_under_local_cluster():
    env = dict(os.environ)
    env["SPARK_GRAFT_MASTER"] = "local-cluster[2,4,3072]"
    env["SPARK_GRAFT_REPO"] = REPO
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, f"retry probe failed:\n{proc.stderr[-3000:]}"
    assert "RETRY_EXACT" in proc.stdout
    # The injected failure must actually have fired (otherwise the test
    # proves nothing): Spark logs the task failure with our message.
    all_out = proc.stdout + proc.stderr
    assert "injected transient failure" in all_out, "failure injection never ran"

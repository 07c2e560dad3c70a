"""The benchmark's input tables.

``data/sf0.01`` holds a copy of the repository's sf0.01 test tables (the
ten parquet tables the registry reads, TPC-H-shaped plus ``events``,
``documents`` and ``embeddings``), so a run reads nothing outside its
checkout.  ``daily_etl`` reads them as they are.

``olap_scaleup`` reads a 10x scale-up of them, built once per checkout
under ``.perfbench/data`` by the repository's own tool,
``tools/scale_probe.py --build-only`` (``build_scaleup``'s block remap:
every table but ``region`` and ``nation`` is repeated with its keys
shifted into a per-replica block, so foreign keys stay inside their
replica).  The build runs in a child process before set-up and is not
part of any metric.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SMALL = os.path.join(BENCH_DIR, "data", "sf0.01")
OLAP_REPLICAS = 10  # lineitem 600 k rows, as many as sf0.1
UNSCALED = ("region", "nation")  # tools/scale_probe.py DIM_TABLES
MARKER = ".scale_probe_built"  # written by build_scaleup when it has finished


def table_rows(sf_dir: str) -> dict[str, int]:
    """Rows per table of a directory of ``<table>.parquet`` files or
    directories, read from the parquet footers."""
    import pyarrow.dataset as ds

    return {
        name[: -len(".parquet")]: ds.dataset(os.path.join(sf_dir, name)).count_rows()
        for name in sorted(os.listdir(sf_dir))
        if name.endswith(".parquet")
    }


def scaleup_errors(src: dict[str, int], out: dict[str, int], replicas: int) -> list[str]:
    """Differences from the scale-up's row-count invariants: the same
    tables, ``region`` and ``nation`` unchanged, every other table
    ``replicas`` times its source."""
    if set(src) != set(out):
        return [f"tables {sorted(out)} != {sorted(src)}"]
    errs = []
    for t, n in sorted(src.items()):
        want = n if t in UNSCALED else n * replicas
        if out[t] != want:
            errs.append(f"{t}: {out[t]} rows, want {want}")
    return errs


def _built(out: str, src: str, replicas: int) -> bool:
    try:
        with open(os.path.join(out, MARKER)) as f:
            return f.read().startswith(f"src={src}\nreplicas={replicas}\n")
    except FileNotFoundError:
        return False


def _run_reaped(cmd: list[str], env: dict) -> None:
    """Run ``cmd`` in a process group of its own and wait until every
    process in the group has ended (pyspark's JVM outlives its Python
    parent for a moment)."""
    p = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    rc = p.wait()
    deadline = time.monotonic() + 60
    while True:
        try:
            os.killpg(p.pid, 0)
        except ProcessLookupError:
            break
        if time.monotonic() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)
    if rc != 0:
        raise RuntimeError(f"{cmd} exited with {rc}")


def olap_dir(state_dir: str) -> str:
    """The ``olap_scaleup`` input directory, built first if needed."""
    out = os.path.join(state_dir, "data", f"sf0.01x{OLAP_REPLICAS}")
    if not _built(out, SMALL, OLAP_REPLICAS):
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=SMALL,
            SPARK_GRAFT_SCALE_DIR=out,
            SPARK_GRAFT_SCALE_REPLICAS=str(OLAP_REPLICAS),
        )
        t0 = time.perf_counter()
        _run_reaped([sys.executable, os.path.join(ROOT, "tools", "scale_probe.py"), "--build-only"], env)
        print(f"# built {out} in {time.perf_counter() - t0:.1f}s", flush=True)
    errs = scaleup_errors(table_rows(SMALL), table_rows(out), OLAP_REPLICAS)
    if errs:
        raise RuntimeError(f"scale-up at {out} is wrong: {'; '.join(errs)}")
    return out

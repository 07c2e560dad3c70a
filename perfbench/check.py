"""Output checks: a row count and an order-independent fingerprint per
operation, compared with the values stored in ``expected.json``.

Exact columns go through the engine's own ``sinks.quality.table_fingerprint``
(a sum of per-row md5 prefixes, so row order and partitioning do not
matter).  Floating-point columns are left out of that hash, because a
double aggregate can differ in its last bits with the order Spark merges
partial sums in; their column sums are compared with a relative tolerance
instead.
"""

from __future__ import annotations

import json
import math
import os

REL_TOL = 1e-6


def _is_float(dtype: str) -> bool:
    return "double" in dtype or "float" in dtype


def fingerprint(df, table_fingerprint) -> dict:
    """``{"rows", "fp", "fsum"}`` of a DataFrame.

    ``table_fingerprint`` is the engine's ``sinks.quality.table_fingerprint``
    (passed in so the function resolves against the engine loaded now).
    """
    from pyspark.sql import functions as F

    exact = [c for c, t in df.dtypes if not _is_float(t)]
    scalar_floats = [c for c, t in df.dtypes if t in ("double", "float")]
    if exact:
        rows, fp = table_fingerprint(df.select(*exact))
    else:
        rows, fp = df.count(), 0
    fsum = []
    if scalar_floats:
        row = df.agg(*[F.sum(F.col(c)).alias(c) for c in scalar_floats]).first()
        fsum = [None if row[c] is None else float(row[c]) for c in scalar_floats]
    return {"rows": int(rows), "fp": int(fp), "fsum": fsum}


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)


def mismatches(expected: dict | None, got: dict) -> list[str]:
    """Human-readable differences; empty when the output matches."""
    if expected is None:
        return ["no expected value stored"]
    errs = []
    for key in sorted(set(expected) | set(got)):
        want, have = expected.get(key), got.get(key)
        if key == "fsum":
            want, have = want or [], have or []
            if len(want) != len(have) or not all(map(_close, want, have)):
                errs.append(f"fsum {have} != {want}")
        elif want != have:
            errs.append(f"{key} {have!r} != {want!r}")
    return errs


class Expected:
    """The stored expectations: ``{workload: {variant: {op: value}}}``."""

    def __init__(self, path: str):
        self.path = path
        self.data: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                self.data = json.load(f)

    def get(self, workload: str, variant: str, op: str) -> dict | None:
        return self.data.get(workload, {}).get(variant, {}).get(op)

    def put(self, workload: str, variant: str, op: str, value: dict) -> None:
        self.data.setdefault(workload, {}).setdefault(variant, {})[op] = value

    def save(self) -> None:
        with open(self.path, "w") as f:
            json.dump(self.data, f, indent=1, sort_keys=True)
            f.write("\n")

"""Table registry + schema-checked parquet loaders.

The reference infers every output schema from the first row at runtime
(``fieldnames = list(rows[0].keys())`` — e.g.
/root/reference/Azure_datalake_etl/Gonukkad_Merchants.py:86) and declares no
input schema anywhere.  Our engine replaces that with a declared
``StructType`` registry per dataset (SURVEY.md §1.2): reads validate against
it, so source-side drift fails loudly instead of silently changing the sink.

The parquet footer stays authoritative: the registry schema is never passed
into ``spark.read``.  But the footer is read once per file listing, not once
per call.  Inferring a schema costs a Spark job (~0.1 s) on every
``spark.read.parquet``, so ``footer_schema`` infers it on the first bind of
a path in a session, validates it against the registry and records it, keyed
by the session and by the path's listing signature (name, size and
``st_mtime_ns`` of every file under it, read with ``os.walk``).  Every
``load_table`` reads with that footer schema, which runs no job; a changed
listing (a rewritten or drifted table) infers and validates again.  A path
``os`` cannot list (a non-local URI) is never recorded and infers on every
call.  The stream builders take their file schema from the same bind.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _s(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _s([("r_regionkey", T.IntegerType()), ("r_name", T.StringType())]),
    "nation": _s(
        [
            ("n_nationkey", T.IntegerType()),
            ("n_name", T.StringType()),
            ("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": _s(
        [
            ("c_custkey", T.LongType()),
            ("c_name", T.StringType()),
            ("c_nationkey", T.IntegerType()),
            ("c_acctbal", T.DoubleType()),
            ("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": _s(
        [
            ("s_suppkey", T.LongType()),
            ("s_name", T.StringType()),
            ("s_nationkey", T.IntegerType()),
            ("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": _s(
        [
            ("p_partkey", T.LongType()),
            ("p_name", T.StringType()),
            ("p_brand", T.StringType()),
            ("p_type", T.StringType()),
            ("p_size", T.IntegerType()),
            ("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": _s(
        [
            ("o_orderkey", T.LongType()),
            ("o_custkey", T.LongType()),
            ("o_orderstatus", T.StringType()),
            ("o_totalprice", T.DoubleType()),
            ("o_orderdate", T.TimestampNTZType()),
            ("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": _s(
        [
            ("l_orderkey", T.LongType()),
            ("l_partkey", T.LongType()),
            ("l_suppkey", T.LongType()),
            ("l_linenumber", T.IntegerType()),
            ("l_quantity", T.DoubleType()),
            ("l_extendedprice", T.DoubleType()),
            ("l_discount", T.DoubleType()),
            ("l_tax", T.DoubleType()),
            ("l_returnflag", T.StringType()),
            ("l_linestatus", T.StringType()),
            ("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": _s(
        [
            ("event_id", T.LongType()),
            ("ts", T.TimestampNTZType()),
            ("user_id", T.LongType()),
            ("event_type", T.StringType()),
            ("value", T.DoubleType()),
            ("props", T.StringType()),
        ]
    ),
    "documents": _s(
        [
            ("doc_id", T.LongType()),
            ("text", T.StringType()),
            ("lang", T.StringType()),
            ("source", T.StringType()),
            ("n_chars", T.LongType()),
        ]
    ),
    "embeddings": _s(
        [
            ("vec_id", T.LongType()),
            ("embedding", T.ArrayType(T.FloatType())),
            ("label", T.IntegerType()),
        ]
    ),
}


class SchemaDriftError(RuntimeError):
    """Source schema no longer matches the declared registry schema."""


# session -> {absolute path: (listing signature, footer schema)}; a new or
# stopped session holds no entry, so it binds afresh.  The listing is taken
# before the footer is read, so an entry never pairs a listing with an older
# schema; two threads racing on one path cost at most an extra inference.
_BINDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _listing(path: str) -> tuple | None:
    """(relative name, size, st_mtime_ns) of every file under ``path``, or
    None when ``os`` cannot list it."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                rel = os.path.relpath(full, path)
                files.append((rel, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def _nanos_ts(name: str, file_schema: T.StructType) -> bool:
    """Whether ``events.ts`` was read as raw int64 nanos."""
    return (
        name == "events"
        and "ts" in file_schema.fieldNames()
        and isinstance(file_schema["ts"].dataType, T.LongType)
    )


def footer_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The validated footer schema of ``{sf_dir}/{name}.parquet`` (before
    ``load_table``'s ``events.ts`` transform), inferred once per session and
    file listing; readers such as the stream builders declare it themselves."""
    if name == "events":
        # A TIMESTAMP(NANOS) file, which Spark's parquet reader rejects
        # otherwise, reads as raw int64 nanos; every events table in the
        # test and benchmark data stores timestamp[us] and is unaffected.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = os.path.abspath(path)
    signature = _listing(path)
    binds = _BINDS.setdefault(spark, {})
    bound = binds.get(key)
    if signature is not None and bound is not None and bound[0] == signature:
        return bound[1]
    schema = spark.read.parquet(path).schema
    expected = TABLE_SCHEMAS.get(name)
    if expected is not None:
        got = {f.name: f.dataType for f in schema.fields}
        if _nanos_ts(name, schema):
            got["ts"] = T.TimestampNTZType()  # load_table's transform
        want = {f.name: f.dataType for f in expected.fields}
        if got != want:
            raise SchemaDriftError(f"{name}: parquet schema {got} != declared {want}")
    if signature is not None:
        binds[key] = (signature, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one registry table from ``{sf_dir}/{name}.parquet``.

    Unlike the reference's silent try/except-print scans
    (/root/reference/Azure_datalake_etl/Gonukkad_Merchants.py:60-64 — scan
    failure yields an empty list), any mismatch raises.  Every call returns
    a fresh relation, so self-joins of two loads resolve as two scans.
    """
    schema = footer_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if _nanos_ts(name, schema):
        # floor-divide nanos to micros (DuckDB's TIMESTAMP_NS → TIMESTAMP
        # cast floors the same way, keeping the oracle comparable)
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Batch readers for the driver's parquet testdata and reference-style CSV.

Batch twin of the reference's file source (S1,
``chapter2/BasicStreamingOperations.java:51-62``): the same declared
schema, read once instead of monitored continuously. The streaming form
lives in ``sources.files``.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from demo_apache_flink_streaming_mode_spark.schemas import AUDIT_TRAIL_CSV, TESTDATA_TABLES
from demo_apache_flink_streaming_mode_spark.session import ensure_runtime_confs

# Scan-parallelism floor: a parquet file is splittable only at row-group
# granularity, and the driver's testdata ships one row group per table —
# so without intervention every scan (and the narrow work fused onto it:
# filters, projections, partial aggregation) runs as ONE task. Tables
# above this row count get a round-robin repartition to full parallelism
# right after the scan. On production data (many files / many row
# groups) the scan is already split and the repartition is skipped.
_SPLIT_MIN_ROWS = 20_000
# Scan-split key per table (r11, guide §2.4/§2.5): the fan-out
# repartition hashes on the table's dominant join/group key instead of
# round-robin. Two wins, both measured: (1) a keyless repartition pays
# Spark's sort-before-repartition local sort on every scan (retry
# determinism; hash-by-key is deterministic by VALUE, so no sort —
# lineitem scan+spread 0.94s -> 0.53s at sf0.1); (2) the scan comes out
# HashPartitioning(key, P), so a downstream join/groupBy on that key
# (TPC-H joins on orderkey, every keyed event window on user_id) needs
# no further exchange when P == spark.sql.shuffle.partitions. Keys are
# unique or near-uniform (events.user_id: 1500 distinct, max 99
# rows/key at sf0.1 — 47x the partition count, no skew).
_SPLIT_KEYS: dict[str, str] = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


class _Footer(NamedTuple):
    """What ``load_table`` needs from a parquet footer."""
    num_rows: int
    num_row_groups: int
    columns: tuple[str, ...]  # top-level column names, in file order
    nanos: frozenset[str]  # INT64 TIMESTAMP(NANOS) columns


# path -> ((st_mtime_ns, st_size, st_ino), footer): a file rewritten at
# the same path gets its footer read again
_meta_cache: dict[str, tuple[tuple[int, int, int], _Footer]] = {}


def _parquet_meta(path: str) -> _Footer:
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    hit = _meta_cache.get(path)
    if hit is None or hit[0] != stamp:
        import pyarrow as pa
        import pyarrow.parquet as pq
        # INT96 timestamps surface as micros, so only a true INT64
        # TIMESTAMP(NANOS) column (the one nanosAsLong turns into a long)
        # reads as ns here
        f = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        arrow = f.schema_arrow
        hit = stamp, _Footer(
            f.metadata.num_rows, f.num_row_groups, tuple(arrow.names),
            frozenset(fld.name for fld in arrow
                      if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns"))
        _meta_cache[path] = hit
    return hit[1]


def _file_schema(name: str, path: str,
                 footer: _Footer) -> tuple[T.StructType, list[str]]:
    """The declared schema of table ``name``, cut to the columns of this
    file's footer (in file order), so a column the file lacks still fails
    at analysis instead of reading as nulls; plus the declared timestamp
    columns the file stores as TIMESTAMP(NANOS). Those are read as
    ``LongType`` (``nanosAsLong``) for ``load_table`` to convert."""
    declared = {f.name: f for f in TESTDATA_TABLES[name].fields}
    undeclared = [c for c in footer.columns if c not in declared]
    if undeclared:
        raise ValueError(
            f"{path}: column(s) {undeclared} are not declared in "
            f"schemas.TESTDATA_TABLES[{name!r}]")
    as_nanos = [c for c in footer.columns if c in footer.nanos
                and isinstance(declared[c].dataType, T.TimestampType)]
    schema = T.StructType([
        T.StructField(c, T.LongType(), declared[c].nullable)
        if c in as_nanos else declared[c] for c in footer.columns])
    return schema, as_nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its declared schema
    (``schemas.TESTDATA_TABLES``), never an inferred one.

    The footer facts the read needs (row and row-group counts, column
    names, timestamp units) come from one pyarrow footer read, cached per
    file, so a load starts no Spark job: Spark's own schema inference is a
    one-task job plus a footer read per call.

    The driver's testdata stores every timestamp as INT64
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads directly as the
    declared ``TimestampType``. A TIMESTAMP(NANOS) column needs
    ``spark.sql.legacy.parquet.nanosAsLong``: it reads as LongType nanos
    and is converted here to TimestampType micros.

    Filters/pruning still push down to the scan: Catalyst moves
    predicates below the repartition, so `.explain` shows PushedFilters
    on the parquet scan either way.
    """
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _parquet_meta(path)
    schema, as_nanos = _file_schema(name, path, footer)
    df = spark.read.schema(schema).parquet(path)
    par = spark.sparkContext.defaultParallelism
    if footer.num_rows >= _SPLIT_MIN_ROWS and footer.num_row_groups < par:
        # guard: a listed key missing from this file falls back to
        # round-robin instead of an AnalysisException at plan time
        key = _SPLIT_KEYS.get(name)
        if key is not None and key not in schema.fieldNames():
            key = None
        df = df.repartition(par, F.col(key)) if key else df.repartition(par)
    for c in as_nanos:
        # integer `div`, NOT `/`: float division of ~1.7e18 ns exceeds
        # double precision and shifts timestamps by ±1 ms
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = tuple(TESTDATA_TABLES)
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_audit_trail_csv(spark: SparkSession, path: str,
                         on_malformed: str = "permissive") -> DataFrame:
    """Batch read of the reference's quoted-CSV audit-trail wire format.

    Replaces the hand-rolled quote-strip/split/cast parse
    (``chapter2/AuditTrail.java:17-28``) with Spark's native CSV reader +
    declared schema; epoch-ms longs become a proper event_time timestamp
    once, at ingest (SURVEY.md §1.2).

    Malformed-row policy (the reference's hand parse would throw
    ``NumberFormatException`` and kill the whole job — untenable when
    one bad line hides in 100 TB):

    - ``"permissive"`` (default): bad rows surface with NULL fields
      and the raw line in ``_corrupt_record`` — quantifiable and
      quarantinable downstream, never fatal;
    - ``"drop"``: DROPMALFORMED, silently skip;
    - ``"fail"``: FAILFAST, reproduce the reference's behavior.
    """
    modes = {"permissive": "PERMISSIVE", "drop": "DROPMALFORMED",
             "fail": "FAILFAST"}
    if on_malformed not in modes:
        raise ValueError(f"on_malformed must be one of {sorted(modes)}")
    schema = AUDIT_TRAIL_CSV
    if on_malformed == "permissive":
        schema = T.StructType(
            list(AUDIT_TRAIL_CSV.fields)
            + [T.StructField("_corrupt_record", T.StringType())])
    return (
        spark.read.schema(schema).option("quote", '"')
        .option("mode", modes[on_malformed])
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .withColumn("event_time", F.timestamp_millis(F.col("epoch_ms")))
    )

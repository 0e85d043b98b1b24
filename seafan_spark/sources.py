"""Sources & sinks.

Reference surface (SURVEY §2.1): CSVToPipe (pipeline.go:325-364), SQLToPipe
(pipeline.go:298-321), PipeToCSV (pipeline.go:395-425), PipeToSQL
(pipeline.go:367-392), VecFromAny (vec.go:38-70). The reference eagerly
materializes every row in RAM (ch.go:103-205); here readers stay lazy and
Catalyst prunes columns / pushes filters into the scan.

Row-order contract
------------------
The reference has an implicit physical row order that lag/cume/subset/row
depend on. Spark DataFrames have none, so every pipeline carries an explicit
order spec:

- an order column ``_rid = monotonically_increasing_id()`` is added
  **lazily**, only at the moment an order-dependent op needs one — adding it
  eagerly at ingest would put a nondeterministic projection between the scan
  and every filter, blocking predicate pushdown into parquet (verified via
  ``explain``: PushedFilters disappear);
- positional operators (subset/row/row()/lag without keys) densify via
  ``row_number()`` over the order spec on demand — a global sort, kept for
  reference compatibility and documented as a small-data path;
- scale-aware callers pass ``order_cols`` (e.g. events ordered by
  ``(ts, event_id)``) so windows ride a real key instead of ingest order.

Default role inference follows ch.go:163-171: string/date/timestamp -> CAT,
numeric -> CTS.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seafan_spark.ftypes import FRole, FType, FTypes

RID = "_rid"

_CAT_SPARK_TYPES = (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType, T.BooleanType)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Session-independent parquet read.

    Some corpus tables (events) carry TIMESTAMP(NANOS) columns that Spark
    only reads with ``spark.sql.legacy.parquet.nanosAsLong`` — the conf is
    runtime-settable, so set it here at read time rather than relying on
    the session factory having done so (a consumer's own SparkSession must
    be able to read every table). Downstream, ``streaming.ensure_event_time``
    converts the resulting bigint-nanos column to a real timestamp.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def infer_role(dtype: T.DataType) -> FRole:
    """Default role from the Spark type (ch.go:163-171, vec.go:43-46)."""
    if isinstance(dtype, _CAT_SPARK_TYPES):
        return FRole.CAT
    return FRole.CTS


def default_ftypes(df: DataFrame, user_fts: FTypes | None = None) -> FTypes:
    """Resolve per-field roles: user overrides win, else inferred."""
    fts = FTypes()
    for f in df.schema.fields:
        if f.name == RID:
            continue
        user = user_fts.get(f.name) if user_fts is not None else None
        if user is not None and user.role != FRole.EITHER:
            fts.add(user)
        else:
            fts.add(FType(name=f.name, role=infer_role(f.dataType)))
    return fts


def parquet_to_pipe(
    spark: SparkSession,
    path: str,
    fts: FTypes | None = None,
    keep_raw: bool = True,
    order_cols: Sequence[str] | None = None,
) -> "Pipeline":
    """Read parquet into a Pipeline (the engine's native source)."""
    from seafan_spark.pipeline import Pipeline

    df = read_parquet(spark, path)
    return Pipeline(df, fts=default_ftypes(df, fts), keep_raw=keep_raw, order_cols=order_cols)


def csv_to_pipe(
    spark: SparkSession,
    path: str,
    fts: FTypes | None = None,
    keep_raw: bool = True,
    order_cols: Sequence[str] | None = None,
    sep: str = ",",
) -> "Pipeline":
    """Read a headered CSV with type inference (CSVToPipe, pipeline.go:325-364).

    The reference imputes types by sampling with tolerance .98; Spark's
    ``inferSchema`` performs the same job with a full or sampled pass.
    """
    from seafan_spark.pipeline import Pipeline

    df = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("sep", sep)
        .csv(path)
    )
    return Pipeline(df, fts=default_ftypes(df, fts), keep_raw=keep_raw, order_cols=order_cols)


def sql_to_pipe(
    spark: SparkSession,
    sql: str,
    fts: FTypes | None = None,
    keep_raw: bool = True,
    order_cols: Sequence[str] | None = None,
) -> "Pipeline":
    """Run a SQL statement against the session catalog (SQLToPipe,
    pipeline.go:298-321 — there, ClickHouse; here, Spark SQL / registered
    views / JDBC-backed tables)."""
    from seafan_spark.pipeline import Pipeline

    df = spark.sql(sql)
    return Pipeline(df, fts=default_ftypes(df, fts), keep_raw=keep_raw, order_cols=order_cols)


def jdbc_to_pipe(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    fts: FTypes | None = None,
    keep_raw: bool = True,
    order_cols: Sequence[str] | None = None,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    lower_bound: Any | None = None,
    upper_bound: Any | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> "Pipeline":
    """Read from an external database over JDBC (the reference's SQLToPipe
    runs against a live ClickHouse, pipeline.go:298-321; role inference per
    ch.go:163-171 applies to the JDBC schema the same way).

    Exactly one of ``table`` / ``query``. For scale, pass
    ``partition_column`` + ``lower_bound`` + ``upper_bound`` +
    ``num_partitions`` so Spark issues ``num_partitions`` range-bounded
    queries in parallel instead of a single-connection full scan.
    """
    from seafan_spark.pipeline import Pipeline

    if (table is None) == (query is None):
        raise ValueError("jdbc_to_pipe: pass exactly one of table= or query=")
    reader = spark.read.format("jdbc").option("url", url)
    if table is not None:
        reader = reader.option("dbtable", table)
    else:
        reader = reader.option("query", query)
    for k, v in (
        ("driver", driver),
        ("user", user),
        ("password", password),
        ("partitionColumn", partition_column),
        ("lowerBound", lower_bound),
        ("upperBound", upper_bound),
        ("numPartitions", num_partitions),
    ):
        if v is not None:
            reader = reader.option(k, str(v))
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load()
    return Pipeline(df, fts=default_ftypes(df, fts), keep_raw=keep_raw, order_cols=order_cols)


def vec_to_pipe(
    spark: SparkSession,
    data: dict[str, list[Any]],
    fts: FTypes | None = None,
    keep_raw: bool = True,
) -> "Pipeline":
    """Build a pipeline from in-memory column vectors (VecFromAny,
    vec.go:38-70). Driver-side convenience for tests/small dims.

    The one ``createDataFrame`` of driver rows that does not go through
    ``session._local_frame``: these frames stand in for scanned tables in
    the tests. A local relation would let Catalyst's
    ``ConvertToLocalRelation`` evaluate their projections and filters in
    the interpreter at plan time, instead of through the generated code
    a parquet scan runs."""
    from seafan_spark.pipeline import Pipeline

    names = list(data)
    n = len(data[names[0]]) if names else 0
    rows = [tuple(data[name][i] for name in names) + (i,) for i in range(n)]
    df = spark.createDataFrame(rows, schema=names + [RID])
    return Pipeline(df, fts=default_ftypes(df, fts), keep_raw=keep_raw)


def _export_df(pipe: "Pipeline", ordered: bool = False):
    """User-visible columns only: every sink drops the internal
    '_'-prefixed helpers (_rid, append segments, shuffle keys) — the same
    contract as to_pandas/iter_rows."""
    d = pipe.ordered_df() if ordered else pipe.df
    return d.drop(*[c for c in d.columns if c.startswith("_")])


def pipe_to_parquet(pipe: "Pipeline", path: str, mode: str = "overwrite") -> None:
    """Write pipeline contents as parquet (scale-native sink)."""
    _export_df(pipe).write.mode(mode).parquet(path)


def pipe_to_csv(pipe: "Pipeline", path: str, sep: str = ",", mode: str = "overwrite") -> None:
    """Write pipeline contents as headered CSV (PipeToCSV, pipeline.go:395-425)."""
    _export_df(pipe, ordered=True).write.mode(mode).option("header", True).option("sep", sep).csv(path)


def pipe_to_table(pipe: "Pipeline", table: str, mode: str = "overwrite") -> None:
    """Save to a catalog table (PipeToSQL, pipeline.go:367-392)."""
    _export_df(pipe).write.mode(mode).saveAsTable(table)


def pipe_to_jdbc(
    pipe: "Pipeline",
    url: str,
    table: str,
    mode: str = "overwrite",
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    **options: str,
) -> None:
    """Write to an external database over JDBC (PipeToSQL's external-DB
    form, pipeline.go:367-392). Each partition writes over its own
    connection — batch size etc. via ``options`` (e.g. batchsize)."""
    writer = pipe.df.drop(RID).write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (("driver", driver), ("user", user), ("password", password)):
        if v is not None:
            writer = writer.option(k, v)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def json_to_pipe(
    spark: SparkSession,
    path: str,
    fts: FTypes | None = None,
    keep_raw: bool = True,
    order_cols: Sequence[str] | None = None,
    multiline: bool = False,
    schema: str | None = None,
) -> "Pipeline":
    """Read JSON-lines (or multiline JSON with ``multiline=True``) into a
    Pipeline. Pass ``schema`` (DDL string) at scale — schema inference is
    a full extra pass over the data."""
    from seafan_spark.pipeline import Pipeline

    r = spark.read.option("multiLine", multiline)
    df = r.schema(schema).json(path) if schema else r.json(path)
    return Pipeline(df, fts=default_ftypes(df, fts), keep_raw=keep_raw, order_cols=order_cols)


def orc_to_pipe(
    spark: SparkSession,
    path: str,
    fts: FTypes | None = None,
    keep_raw: bool = True,
    order_cols: Sequence[str] | None = None,
) -> "Pipeline":
    """Read ORC into a Pipeline (self-describing columnar, same pushdown
    properties as parquet)."""
    from seafan_spark.pipeline import Pipeline

    df = spark.read.orc(path)
    return Pipeline(df, fts=default_ftypes(df, fts), keep_raw=keep_raw, order_cols=order_cols)


def pipe_to_json(pipe: "Pipeline", path: str, mode: str = "overwrite") -> None:
    """Write the pipeline as JSON-lines (order not preserved: distributed
    writers emit per-partition files)."""
    _export_df(pipe).write.mode(mode).json(path)


def pipe_to_orc(pipe: "Pipeline", path: str, mode: str = "overwrite") -> None:
    """Write the pipeline as ORC."""
    _export_df(pipe).write.mode(mode).orc(path)


def pipe_to_parquet_partitioned(
    pipe: "Pipeline",
    path: str,
    partition_by: "Sequence[str] | str",
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned parquet sink: one directory per partition
    value (``source=src0/…``), so any read filtered on the partition
    column PRUNES whole directories before a single row group is opened
    — the coarse layout lever next to layout.py's Z-order (intra-file
    row-group skipping) and bucketing.py (co-located joins).

    Rows are repartitioned BY the partition columns first, so each
    output directory is written by the tasks owning that key instead of
    every task appending a sliver file to every directory (the
    small-files explosion that kills 100 TB listings);
    ``max_records_per_file`` caps file size within a partition."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    d = _export_df(pipe).repartition(*[F.col(c) for c in cols])
    w = d.write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.partitionBy(*cols).parquet(path)


def overwrite_partitions(
    pipe: "Pipeline",
    path: str,
    partition_by: "Sequence[str] | str",
) -> None:
    """Selective partition repair: overwrite ONLY the hive partitions
    present in ``pipe`` (Spark dynamic partition overwrite), leaving
    every other partition of the table untouched — the backfill /
    late-data repair primitive for tables written by
    :func:`pipe_to_parquet_partitioned`.  A full ``mode("overwrite")``
    would truncate the whole table; this rewrites exactly the affected
    directories."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    d = _export_df(pipe).repartition(*[F.col(c) for c in cols])
    spark = d.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        d.write.mode("overwrite").partitionBy(*cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

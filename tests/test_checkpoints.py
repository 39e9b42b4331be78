"""Scoped staging: a ``staged`` scope must free exactly the RDDs staged
inside it — a concurrent job's checkpoint taken during the window must
survive (localCheckpoint truncates lineage, so unpersisting it is
unrecoverable), an enclosing scope's pins must survive an inner scope,
and the scope's own blocks must all be released, on error too."""

from __future__ import annotations

import contextlib
import pathlib
import threading

import pytest

import demo_apache_beam_spark
from demo_apache_beam_spark.operators.checkpoints import _release, stage, staged


def _persistent_ids(spark):
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def _rdd_id(df):
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def test_cleanup_spares_concurrent_checkpoints(spark):
    """Two inputs. Flat: a plain localCheckpoint taken while a scope is
    open (the concurrent-job stand-in: a global before/after diff would
    have unpersisted it). Nested: a pin of an enclosing scope, taken
    before the inner scope opens. Either way the inner scope's exit
    frees its own pin only; the other RDD stays in the persistent map
    and is still collectable."""
    for nested in (False, True):
        outer = staged(spark) if nested else contextlib.nullcontext()
        with outer:
            theirs = stage(spark.range(50).selectExpr("id + 1 AS w")) if nested else None
            with staged(spark):
                mine = stage(spark.range(100).selectExpr("id * 2 AS v"))
                if not nested:
                    theirs = spark.range(50).selectExpr("id + 1 AS w").localCheckpoint()
                assert mine.count() == 100
                assert _rdd_id(mine) in _persistent_ids(spark)
            remaining = _persistent_ids(spark)
            assert _rdd_id(mine) not in remaining
            assert _rdd_id(theirs) in remaining
            assert theirs.count() == 50  # blocks intact, not just map entry
        if nested:  # the outer scope releases its own pin on exit
            assert _rdd_id(theirs) not in _persistent_ids(spark)
        else:
            _release(spark, [_rdd_id(theirs)])


def test_ledger_is_thread_local(spark):
    """A stage on ANOTHER thread while this thread's scope is open must
    not land in it (each foreachBatch thread owns exactly its own
    batch's pins): the scope's exit leaves it pinned."""
    other_ids = []

    def other_thread():
        other_ids.append(_rdd_id(stage(spark.range(10))))

    with staged(spark):
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
    assert other_ids and set(other_ids) <= _persistent_ids(spark)
    _release(spark, other_ids)


def test_untracked_is_plain_checkpoint(spark):
    """Outside any scope ``stage`` must behave exactly like
    df.localCheckpoint(): materialized, pinned, correct rows."""
    df = stage(spark.range(7).selectExpr("id AS x"))
    rid = _rdd_id(df)
    assert rid in _persistent_ids(spark)
    assert df.count() == 7
    _release(spark, [rid])


def test_erase_failure_leaves_no_pinned_rdds(spark, tmp_path, monkeypatch):
    """The erase wrappers freeze their keys before appending the
    tombstone; a failed append must still release the frozen keys."""
    from pyspark.sql.readwriter import DataFrameWriter

    from demo_apache_beam_spark.operators.dedup import erase_from_exact_store

    parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *a, **k):
        if str(path).endswith("__tombstones"):
            raise OSError("tombstone append failed")
        return parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    docs = spark.createDataFrame([("erase me",)], "text string")
    before = _persistent_ids(spark)
    with pytest.raises(OSError, match="tombstone append failed"):
        erase_from_exact_store(spark, str(tmp_path / "store"), docs, tombstone=True)
    assert _persistent_ids(spark) == before


def test_only_checkpoints_module_calls_local_checkpoint():
    """Every staging call goes through ``stage``: a raw
    ``.localCheckpoint(`` elsewhere in the package would pin its RDD
    past any open scope."""
    pkg = pathlib.Path(demo_apache_beam_spark.__file__).parent
    home = pkg / "operators" / "checkpoints.py"
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert offenders == []


def test_topk_store_upsert_leaves_no_pinned_rdds(spark, tmp_path):
    """Each upsert_batch stages its merged slice; the blocks must be
    released once the overwrite is durable — a long-running stream would
    otherwise pin one RDD per micro-batch forever."""
    from demo_apache_beam_spark.streaming.topk import TableTopKStore

    store = TableTopKStore(spark, str(tmp_path / "store"), k=2)
    before = _persistent_ids(spark)
    for batch in range(3):
        store.upsert_batch(
            spark.createDataFrame(
                [(f"2025-01-01 0{batch}:00:00", "TeamA", 10 + batch),
                 (f"2025-01-01 0{batch}:00:00", "TeamB", 5)],
                "window_start string, team string, total_score long",
            )
        )
    assert _persistent_ids(spark) <= before
    assert store.topk_df().count() > 0


def test_near_dedup_batch_leaves_no_pinned_rdds(spark, tmp_path):
    """End-to-end: one ingest batch (which stages bands, survivors,
    and every connected-components round internally) must release all of
    them once its writes are durable."""
    from demo_apache_beam_spark.streaming.dedup import make_near_dedup_ingest

    ingest = make_near_dedup_ingest(
        spark, str(tmp_path / "out"), str(tmp_path / "store")
    )
    before = _persistent_ids(spark)
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the bridge"),
            (2, "data pipelines shuffle terabytes across executors at night"),
        ],
        "doc_id long, text string",
    )
    ingest(batch, 0)
    assert _persistent_ids(spark) <= before


def test_ivm_ingest_leaves_no_pinned_rdds(spark, tmp_path):
    """A streamed IVM increment returns its view delta staged; the
    ingest must release it (and the delta freezes) with the batch."""
    from pyspark.sql import functions as F

    from demo_apache_beam_spark.streaming.ivm import make_ivm_ingest

    ingest = make_ivm_ingest(
        spark,
        str(tmp_path / "store"),
        on="k",
        right_deltas=lambda b: b.groupBy("k").agg(F.count(F.lit(1)).alias("rv")),
    )
    before = _persistent_ids(spark)
    for epoch in range(2):
        ingest(spark.createDataFrame([(epoch, f"v{epoch}")], "k long, v string"), epoch)
    assert _persistent_ids(spark) <= before

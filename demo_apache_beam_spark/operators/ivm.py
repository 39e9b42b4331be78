"""Incremental view maintenance — delta-join algebra over a persisted
materialized join view, with the stored sides BUCKETED on the join key
and the rollup maintained as an incremental monoid aggregate.

The batch-refresh face of materialized views: a warehouse keeps
``A ⋈ B`` materialized, facts arrive as APPEND-ONLY deltas, and each
refresh must pay for the deltas, not the recompute. The classic
identity (inner equi-join, append-only inputs):

    (A ∪ ΔA) ⋈ (B ∪ ΔB)  =  A⋈B  ∪  ΔA⋈B_old  ∪  ΔA⋈ΔB  ∪  A_old⋈ΔB

so the VIEW DELTA is the three right-hand terms. The decomposition is
deliberately kept in that 3-term form (rather than folding ΔA⋈ΔB into
``ΔA⋈(B_old ∪ ΔB)``): each STORED side then appears only as a direct
scan of its bucketed table — never under a union — so the scan's
bucket layout satisfies the join's required distribution and Catalyst
plans the stored side with ZERO Exchange (pinned by
``tests/test_joins.py::test_ivm_refresh_join_stored_side_no_exchange``).
At 100 TB this is the whole point of the algebra: the accumulated
(unbounded) sides never reshuffle on refresh; only the delta side pays
one delta-sized Exchange per term. The sides are written through
bucketed catalog tables (the ``functions/sinks.py:write_bucketed``
contract); appends land new per-bucket files, which Spark groups back
into the same bucket partitioning at scan (ordering is re-sorted but
no Exchange — many-increment stores compact through
:func:`compact_ivm_sides`; the generic ``layout.py:compact_files``
must NOT touch these directories, see its docstring). This complements
— not
duplicates — the stream-stream joins in ``streaming/joins.py``: those
hold bounded watermark state in the engine; this maintains an
UNBOUNDED persisted view across batch refreshes, the nightly-delta
contract.

The AGGREGATE view (:func:`apply_aggregate_increment` /
:func:`read_aggregate_view`) completes the story: each increment
appends a dimension-sized partial (count / exact-decimal sum — monoid
partials) computed from the view delta, and the registry read merges
partials with one dimension-sized aggregation — the rollup query never
scans the accumulated view at all.

INSERT increments are append-only (re-appending an existing key is two
distinct fact rows, exactly like re-inserting into a fact table);
DELETE increments exist as their signed complement
(:func:`apply_delete_increment`, r12 — closing the VERDICT r11 gap
where an erased source row survived inside any materialized view):
a delete removes every row matching a key set from the affected
bucketed side(s) (bucket-preserving write-then-swap rewrite), removes
the corresponding join rows from ``view/`` (exact, because the key
column survives into the view and column names are disjoint), and
appends NEGATIVE monoid partials to ``agg/`` — the Z-set discipline
where a deletion is an increment of multiplicity −1, so the aggregate
read still merges partials without ever scanning the view.
:func:`erase_from_ivm_store` is the right-to-erasure face of the same
operation, composing with ``operators/layout.py:erase_rows`` on the
source tables. The store holds four datasets — ``left/``, ``right/``
(bucketed tables), ``view/``, ``agg/`` (plain parquet appends). Both
input deltas are localCheckpointed UP FRONT (ADVICE r10) so the
returned view delta and the store appends derive from the same frozen
rows even for non-deterministic upstream plans; the view delta is
additionally checkpointed BEFORE the store mutates, so the caller's
lazy reads cannot re-list the post-append store. Increments run
serially (the standard ingest-scheduler contract).

Durability (ADVICE r11): one increment mutates up to four datasets as
sequential non-atomic writes, so every mutating entry point brackets
its writes with an ``_INCREMENT_IN_PROGRESS`` marker — created before
the first write, removed after the last. A crash in between leaves the
marker, and every subsequent attach/read/mutate raises
:class:`IvmStoreCorrupt` instead of silently serving (or blindly
re-appending onto) a half-applied increment; recovery is a store
rebuild, stated loudly in the error. A crashed COMPACTION swap is the
one recoverable case: the side's ``__precompact`` backup is the only
surviving copy, so :func:`_attach_side` auto-restores it (rename back)
and never deletes a backup whose live side directory is missing.

Small-files maintenance: the BUCKETED sides compact only through
:func:`compact_ivm_sides` (generic ``compact_files`` would destroy the
bucket file naming); ``view/`` and ``agg/`` are PLAIN parquet append
datasets, so the generic ``layout.py:compact_files`` IS the right tool
for them — scheduled alongside side compaction and DSR delete drains
via ``pipelines/maintain_ivm.py``.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers' convenience)

from .checkpoints import _pins, _release, stage, staged
from .dedup import _hadoop_path_exists


class IvmStoreCorrupt(RuntimeError):
    """A prior increment died between its non-atomic dataset writes
    (the ``_INCREMENT_IN_PROGRESS`` marker survived). The store's four
    datasets can no longer be trusted to agree — a blind retry would
    double-count the already-appended half — so every entry point
    fails loudly; recovery is a store rebuild. Deliberately NOT an
    OSError: the registry's store-unavailable fallback set must not
    swallow a consistency violation."""


def _fs_path(spark, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — the JVM boilerplate
    every swap/marker helper needs."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _marker_path(store_path: str) -> str:
    return os.path.join(store_path, "_INCREMENT_IN_PROGRESS")


def check_store_consistent(spark, store_path: str) -> None:
    """Raise :class:`IvmStoreCorrupt` if a prior increment on this
    store died between its dataset writes (module docstring,
    Durability). Called by every mutating and reading entry point."""
    if _hadoop_path_exists(spark, _marker_path(store_path)):
        raise IvmStoreCorrupt(
            f"IVM store at {store_path} holds an _INCREMENT_IN_PROGRESS "
            "marker: a prior increment crashed between its non-atomic "
            "dataset writes and the datasets may disagree. Rebuild the "
            "store from its sources (a blind retry would double-count "
            "the already-written half of the crashed increment)."
        )


def _begin_increment(spark, store_path: str) -> None:
    """Write the in-progress marker (after validating none exists) —
    the first mutation of every increment."""
    check_store_consistent(spark, store_path)
    fs, p = _fs_path(spark, _marker_path(store_path))
    fs.create(p, True).close()


def _end_increment(spark, store_path: str) -> None:
    """Remove the in-progress marker — the last act of every increment.
    A ``fs.delete`` returning False with the marker still present is
    surfaced loudly (ADVICE r12): the increment is fully applied, so
    letting the marker survive silently would make every subsequent
    touch raise :class:`IvmStoreCorrupt` and demand a rebuild of a
    store that is actually CONSISTENT — the error must name the real
    cause (marker cleanup failure on a healthy store) instead."""
    fs, p = _fs_path(spark, _marker_path(store_path))
    if not fs.delete(p, False) and fs.exists(p):
        raise OSError(
            f"_end_increment: could not remove {_marker_path(store_path)} "
            "after a fully-applied increment — the store data is "
            "consistent, but until the marker is removed (manually) "
            "every touch will raise IvmStoreCorrupt"
        )


#: Derived partition column of a partition-laid-out IVM side (r13,
#: VERDICT r12 item 3): a DUPLICATE of one join key, living only in the
#: directory names. Partitioning directly by the key would remove it
#: from the bucket spec (Spark forbids a column in both) and the
#: stored-side scan would stop satisfying the join's distribution —
#: measured: the refresh re-grows an Exchange on the accumulated side.
#: Duplicating the value keeps the FULL key list bucketed (exchange-free
#: refresh preserved) while the coarse copy prunes directories.
IVM_PART = "__ivm_part"


def _side_partition_cols(spark, store_path: str, sub: str) -> list[str]:
    """Partition columns of one stored side, self-described: from the
    catalog entry when one exists (authoritative — survives a side
    emptied by deletes), else from the ``__ivm_part=`` directory names.
    Returns ``[]`` for the classic bucket-only layout."""
    tbl = _side_table_name(store_path, sub)
    if spark.catalog.tableExists(tbl):
        return [
            c.name for c in spark.catalog.listColumns(tbl) if c.isPartition
        ]
    path = os.path.join(store_path, sub)
    if not _hadoop_path_exists(spark, path):
        return []
    fs, p = _fs_path(spark, path)
    for st in fs.listStatus(p):
        if st.isDirectory() and st.getPath().getName().startswith(
            IVM_PART + "="
        ):
            return [IVM_PART]
    return []


def _side_table_name(store_path: str, sub: str) -> str:
    """Deterministic catalog name for a bucketed side of the store at
    ``store_path`` — derived from the absolute path (local) or the URI
    as given (remote) so two stores never collide and the same store
    re-attaches to the same name. ``os.path.abspath`` on an
    ``hdfs://``/``s3a://`` URI would treat it as cwd-relative and make
    the digest — and hence the catalog name — depend on the driver's
    working directory (review r11)."""
    joined = store_path.rstrip("/") + "/" + sub
    key = joined if "://" in store_path else os.path.abspath(joined)
    digest = hashlib.md5(key.encode()).hexdigest()[:12]
    return f"ivm_{sub}_{digest}"


def _attach_side(
    spark, store_path: str, sub: str, keys: list[str], num_buckets: int
):
    """Bucket-aware handle on one stored side: returns
    ``(table_name, old_df_or_None)``. A catalog entry whose files were
    deleted out-of-band is dropped (stale); an existing store is
    re-attached through ``register_bucketed_table`` (spec-validated,
    metadata-only) so the scan keeps its bucket layout — a plain
    ``spark.read.parquet`` would lose it and reintroduce the Exchange.

    Crashed-swap recovery (ADVICE r11): a bucketed rewrite (compaction,
    delete increment) renames the live side to ``<side>__precompact``
    before renaming the new copy into place; a crash between the two
    renames leaves the side directory MISSING with the backup as the
    only surviving copy. Silently treating that as "no store yet" would
    recreate an EMPTY side on the next increment — every later view
    delta would omit every history term — so a missing side with a
    ``__precompact`` sibling is auto-restored (renamed back) here,
    before any caller can observe the hole.
    """
    from ..functions.sinks import register_bucketed_table

    path = os.path.join(store_path, sub)
    tbl = _side_table_name(store_path, sub)
    exists = _hadoop_path_exists(spark, path)
    if not exists:
        bak = path + "__precompact"
        if _hadoop_path_exists(spark, bak):
            fs, p_bak = _fs_path(spark, bak)
            _, p_live = _fs_path(spark, path)
            if not fs.rename(p_bak, p_live):
                raise OSError(
                    f"_attach_side: crashed-swap restore {bak} -> {path} "
                    "failed — the backup is the only copy of this side; "
                    "restore it manually before touching the store"
                )
            spark.catalog.refreshByPath(path)
            exists = True
    if spark.catalog.tableExists(tbl) and not exists:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not exists:
        return tbl, None
    pcols = _side_partition_cols(spark, store_path, sub)
    df = register_bucketed_table(
        spark, tbl, path, keys, num_buckets, sort_cols=keys,
        partition_cols=pcols or None,
    )
    # appends may have landed since the catalog cached the listing
    spark.catalog.refreshTable(tbl)
    return tbl, df


def _append_side(
    delta: DataFrame,
    tbl: str,
    path: str,
    keys: list[str],
    num_buckets: int,
    partition_col: str | None = None,
) -> None:
    """Append one delta into a bucketed side table (creates it on the
    first increment). Spark validates the bucket spec on append, so a
    drifted table fails loud instead of mixing layouts. The ``path``
    option is passed only at creation — an existing table already owns
    its location and some Spark versions reject a redundant path.
    ``partition_col`` (r13) lays the side out partitioned by
    :data:`IVM_PART` — a derived DUPLICATE of that join key (see the
    constant's note for why the key itself cannot be the partition
    column) — while the bucket spec keeps the FULL key list."""
    if partition_col is not None:
        delta = delta.withColumn(IVM_PART, F.col(partition_col))
    writer = (
        delta.write.mode("append")
        .format("parquet")
        .bucketBy(int(num_buckets), *keys)
        .sortBy(*keys)
    )
    if partition_col is not None:
        writer = writer.partitionBy(IVM_PART)
    if not delta.sparkSession.catalog.tableExists(tbl):
        writer = writer.option("path", path)
    writer.saveAsTable(tbl)


def _prune_bounds(delta: DataFrame, prune_col: str):
    """(min, max) of the frozen delta's prune column — one bounded
    driver row; (None, None) for an empty delta."""
    row = delta.agg(
        F.min(prune_col).alias("_lo"), F.max(prune_col).alias("_hi")
    ).collect()[0]
    return row["_lo"], row["_hi"]


def _pruned(stored, delta: DataFrame, prune_col: str | None):
    """The stored side restricted to the delta's prune-column range —
    EXACT because ``prune_col`` is one of the join keys: a stored row
    outside the delta's [min, max] cannot equal any delta row on it.
    The BETWEEN lands in the scan's PushedFilters, and because
    increments append time-correlated files, parquet footer min/max
    stats skip every old increment's files wholesale — the read-term
    lever the r11 refresh probe identified (SURVEY §6): the refresh
    scan becomes delta-CORRELATED instead of O(|stored|), with no
    partitionBy machinery. An empty delta prunes the whole side (its
    join term is empty anyway)."""
    if stored is None or prune_col is None:
        return stored
    lo, hi = _prune_bounds(delta, prune_col)
    if lo is None:
        return stored.filter(F.lit(False))
    return stored.filter(F.col(prune_col).between(F.lit(lo), F.lit(hi)))


def _part_scoped(stored, delta: DataFrame, partition_col: str | None):
    """Partition-prune a stored side to the opposing delta's
    ``partition_col`` range — the directory-level twin of
    :func:`_pruned` (exact for the same reason: the partition value
    duplicates a join key) — and strip the derived :data:`IVM_PART`
    column so it never reaches the join (both sides carry it; it would
    trip the non-key-clash guard and poison the view schema). The
    BETWEEN lands in the scan's PartitionFilters: directories outside
    the delta's range are never even LISTED, the lever footer min/max
    stats cannot give once increments interleave (a compacted side has
    one file per bucket spanning all time — footer stats stop
    skipping; partition dirs keep skipping forever)."""
    if stored is None:
        return None
    if IVM_PART not in stored.columns:
        return stored
    if partition_col is not None:
        lo, hi = _prune_bounds(delta, partition_col)
        if lo is None:
            stored = stored.filter(F.lit(False))
        else:
            stored = stored.filter(
                F.col(IVM_PART).between(F.lit(lo), F.lit(hi))
            )
    return stored.drop(IVM_PART)


def _view_delta(
    l_old,
    r_old,
    delta_left: DataFrame,
    delta_right: DataFrame,
    keys,
    prune_col: str | None = None,
) -> DataFrame:
    """The 3-term view delta ``ΔA⋈B_old ∪ ΔA⋈ΔB ∪ A_old⋈ΔB`` with every
    stored side a direct bucketed-table scan (module docstring), each
    pruned to the opposing delta's ``prune_col`` range when set."""
    terms = []
    if r_old is not None:
        terms.append(delta_left.join(_pruned(r_old, delta_left, prune_col), keys))
    terms.append(delta_left.join(delta_right, keys))
    if l_old is not None:
        terms.append(_pruned(l_old, delta_right, prune_col).join(delta_right, keys))
    out = terms[0]
    for t in terms[1:]:
        out = out.unionByName(t)
    return out


def apply_join_increment(
    spark,
    store_path: str,
    delta_left: DataFrame,
    delta_right: DataFrame,
    on: str | list[str],
    num_buckets: int = 8,
    prune_col: str | None = None,
    agg: tuple[list[str], list] | None = None,
    epoch: int | None = None,
    stream_id: str = "",
    partition_col: str | None = None,
    _frozen: bool = False,
) -> DataFrame:
    """Apply one append-only increment ``(ΔA, ΔB)`` to the materialized
    inner equi-join view at ``store_path``; returns the VIEW DELTA
    (the new join rows), already staged (the caller's ``staged`` scope
    owns that pin; the internal delta freezes are released before
    returning).

    ``agg=(group_cols, partial_aggs)`` optionally maintains the
    aggregate view INSIDE the same increment: the dimension-sized
    monoid partial (:func:`apply_aggregate_increment` semantics) is
    appended under the increment's ``_INCREMENT_IN_PROGRESS`` marker,
    so a crash between the join-view append and the aggregate append
    is detected like any other half-applied increment instead of
    leaving the two views silently disagreeing (ADVICE r11 — the
    separately-invoked :func:`apply_aggregate_increment` cannot give
    that guarantee).

    ``epoch`` (r12, the streaming contract) records an increment id
    into ``{store}/applied`` INSIDE the same marker window — the
    at-least-once replay ledger :func:`ivm_applied_epochs` reads:
    a redelivered epoch whose id is already recorded is a completed
    increment (skip — the store already holds it); an id that is
    absent with the in-progress marker present is the crashed case
    (raises, rebuild). One row per increment, driver-bounded.
    ``stream_id`` (r13, ADVICE r12) binds each ledger entry to the
    STREAM IDENTITY that produced it (the checkpoint location for a
    real stream): foreachBatch batch ids are scoped to one streaming
    checkpoint, so a fresh/recreated checkpoint restarts them at 0 —
    without the binding, genuinely new micro-batches would be
    silently skipped as "completed replays". The ingest refuses a
    foreign stream id loudly (:func:`ivm_ledger_guard`).

    Both sides' non-key column names must be disjoint (raises up
    front — a silent duplicate column would poison the stored view).
    ``num_buckets`` must stay constant across a store's lifetime (the
    bucketed append validates it; size it to the target scale — the
    test default 8 stands in for the thousands a 100 TB side needs).

    ``prune_col`` (optional; must be one of the join keys) turns the
    stored-side READ delta-correlated: each stored side is filtered to
    the opposing delta's [min, max] on that column — exact, since
    matching rows agree on every join key — and the BETWEEN reaches the
    parquet scan as a pushed filter, so the footer min/max of every
    OLD increment's time-correlated files skips them wholesale. This is
    the read-term lever the r11 refresh probe identified (SURVEY §6):
    without it a refresh scans both accumulated sides in full; with a
    time-like join component (event day, ingest epoch) the scan cost
    tracks the delta instead. Plan-pinned in
    ``tests/test_joins.py::test_ivm_prune_col_pushes_stored_side_filter``.

    ``partition_col`` (r13, VERDICT r12 item 3 — the read-term lever
    SURVEY §6 named) additionally lays the stored sides out
    DIRECTORY-partitioned on that key (must be a join key, same
    exactness argument as ``prune_col``; usually the same column):
    each append writes under ``__ivm_part=<value>`` directories —
    a derived duplicate of the key, because Spark forbids a column in
    both the partition and bucket spec, and dropping it from the
    bucket spec would re-grow the stored-side Exchange (measured; see
    :data:`IVM_PART`) — and each refresh restricts the stored side to
    the opposing delta's [min, max] BEFORE listing, surfacing as
    PartitionFilters in the scan. This holds where ``prune_col``'s
    footer-stats skipping decays: after compaction (one file per
    bucket spans all time — footer min/max stop discriminating) and
    for non-time-correlated file layouts. Must be passed consistently
    on every increment of a store's lifetime (the partitioned append
    onto a bucket-only table — and vice versa — fails loud). Delete
    increments and compaction auto-detect the layout; both preserve
    it through their rewrites.
    ``_frozen`` is the internal contract with
    :func:`apply_left_join_increment`: the deltas are already
    localCheckpointed, so re-freezing (a second full materialization of
    every delta — review r11) is skipped.
    """
    check_store_consistent(spark, store_path)
    keys = [on] if isinstance(on, str) else list(on)
    l_extra = set(delta_left.columns) - set(keys)
    r_extra = set(delta_right.columns) - set(keys)
    clash = l_extra & r_extra
    if clash:
        raise ValueError(
            f"apply_join_increment: non-key columns shared by both sides "
            f"{sorted(clash)} — rename before materializing"
        )
    if prune_col is not None and prune_col not in keys:
        raise ValueError(
            f"apply_join_increment: prune_col {prune_col!r} must be "
            "one of the join keys — pruning on a non-key column "
            "would silently drop matching rows"
        )
    if partition_col is not None and partition_col not in keys:
        raise ValueError(
            f"apply_join_increment: partition_col {partition_col!r} "
            "must be one of the join keys — partition-pruning on a "
            "non-key column would silently drop matching rows"
        )

    # freeze BOTH deltas first (ADVICE r10): the view delta below and
    # the side-store appends must derive from the same rows — a
    # non-deterministic upstream plan executed twice would let the
    # stored sides diverge from the already-returned view delta. The
    # freezes are released when this increment ends, on error too: a
    # long-lived nightly-refresh session must not pin two delta copies
    # per increment forever (review r11). Their scope closes before the
    # view-delta stage, so THAT pin — the return value — belongs to the
    # caller's scope; one ``with staged`` cannot split the two, hence
    # the private scope + release.
    delta_pins: list = []
    try:
        if not _frozen:
            with _pins() as delta_pins:
                delta_left = stage(delta_left)
                delta_right = stage(delta_right)
        l_path, r_path, v_path = (
            os.path.join(store_path, "left"),
            os.path.join(store_path, "right"),
            os.path.join(store_path, "view"),
        )
        l_tbl, l_old = _attach_side(
            spark, store_path, "left", keys, num_buckets
        )
        r_tbl, r_old = _attach_side(
            spark, store_path, "right", keys, num_buckets
        )
        # partition-scope each stored side to the OPPOSING delta's
        # range and strip the derived partition column before any join
        l_old = _part_scoped(l_old, delta_right, partition_col)
        r_old = _part_scoped(r_old, delta_left, partition_col)

        dview = stage(
            _view_delta(
                l_old, r_old, delta_left, delta_right, keys,
                prune_col=prune_col,
            )
        )

        # all store mutations live inside the marker window: a crash
        # between any two of them surfaces as IvmStoreCorrupt on the
        # next touch instead of a silently half-applied increment
        _begin_increment(spark, store_path)
        _append_side(
            delta_left, l_tbl, l_path, keys, num_buckets,
            partition_col=partition_col,
        )
        _append_side(
            delta_right, r_tbl, r_path, keys, num_buckets,
            partition_col=partition_col,
        )
        dview.write.mode("append").parquet(v_path)
        if agg is not None:
            group_cols, partial_aggs = agg
            apply_aggregate_increment(
                spark, store_path, dview, list(group_cols),
                list(partial_aggs), _in_increment=True,
            )
        if epoch is not None:
            _append_ledger(spark, store_path, epoch, stream_id)
        _end_increment(spark, store_path)
        for t in (l_tbl, r_tbl):
            spark.catalog.refreshTable(t)
        return dview
    finally:
        _release(spark, delta_pins)


def read_join_view(spark, store_path: str) -> DataFrame:
    """The accumulated materialized view (all increments applied)."""
    check_store_consistent(spark, store_path)
    return spark.read.parquet(os.path.join(store_path, "view"))


def apply_aggregate_increment(
    spark,
    store_path: str,
    view_delta: DataFrame,
    group_cols: list[str],
    partial_aggs: list,
    _in_increment: bool = False,
) -> None:
    """Maintain the AGGREGATE view incrementally: append one
    dimension-sized partial computed from this increment's view delta.

    ``partial_aggs`` are aliased aggregate Columns that must be
    SUM-MERGEABLE monoids — ``F.count(...)`` partials merge by sum,
    exact-decimal ``F.sum(cast)`` partials merge by decimal sum (both
    order-independent); an average is expressed as sum+count partials
    and divided at read. Each append is |groups| rows, so after N
    increments the stored aggregate is N·|groups| rows — the
    :func:`read_aggregate_view` merge is dimension-sized, never a scan
    of the accumulated view. Prefer the ``agg=`` option of
    :func:`apply_join_increment`, which runs this append INSIDE the
    increment's durability marker; invoked standalone the append is its
    own (single-dataset, hence atomic-enough) mutation, but a crash
    between the join append and this one leaves the two views
    disagreeing with nothing to detect it (``_in_increment`` is the
    internal flag distinguishing the two call shapes)."""
    if not _in_increment:
        check_store_consistent(spark, store_path)
    (
        view_delta.groupBy(*group_cols)
        .agg(*partial_aggs)
        .write.mode("append")
        .parquet(os.path.join(store_path, "agg"))
    )


def read_aggregate_view(
    spark,
    store_path: str,
    group_cols: list[str],
    merge_aggs: list,
    drop_zero_col: str | None = None,
) -> DataFrame:
    """Merge the appended monoid partials into the current aggregate —
    one groupBy over N·|groups| rows (``merge_aggs``: aliased Columns
    summing the partial columns). ``drop_zero_col`` names a merged
    COUNT column; groups where it sums to 0 are dropped — the Z-set
    rule that a group whose every contributing row was deleted
    (positive partials fully cancelled by negative ones) must vanish
    from the view, exactly as a from-scratch recompute would have no
    row for it. Stores that never take delete increments can leave it
    unset (no group can reach zero)."""
    check_store_consistent(spark, store_path)
    out = (
        spark.read.parquet(os.path.join(store_path, "agg"))
        .groupBy(*group_cols)
        .agg(*merge_aggs)
    )
    if drop_zero_col is not None:
        out = out.filter(F.col(drop_zero_col) != 0)
    return out


def compact_ivm_sides(
    spark, store_path: str, keys: list[str], num_buckets: int
) -> dict:
    """Compact the bucketed side tables back to ONE file per bucket.

    Every increment appends new per-bucket files; Spark groups them
    back into the right partitions at scan, but after many increments
    the small-files overhead dominates. Generic
    ``operators/layout.py:compact_files`` MUST NOT touch these
    directories — it rewrites through a plain parquet writer, which
    destroys the bucket-id file naming while the catalog DDL still
    claims bucketed, i.e. silently WRONG exchange-free joins. This
    helper rewrites each side THROUGH the bucketed writer instead, with
    the erase_rows write-then-swap discipline — the accumulated side is
    the unbounded dataset this module exists to preserve, so at no
    point is it held only in memory (a delete-before-write draft kept
    the rows solely in a non-replicated localCheckpoint — an executor
    loss in that window would have destroyed the store; review r11):

    1. write the compacted copy to a ``__compacting`` sibling through a
       temp bucketed table, reading the side as PLAIN parquet with a
       ``repartition(num_buckets, keys)`` in the write plan — Spark's
       repartition hash is the same Murmur3 the bucketizer uses, so
       partition index == bucket id → exactly one file per bucket. The
       plain read matters: on the bucketed-table scan the planner
       elides the repartition as already-satisfied and THEN disables
       the bucketed scan (no operator needs it anymore), leaving
       mixed-bucket tasks — "Bucketed: false (disabled by query
       planner)" with no Exchange, one file per (task, bucket)
       (measured, review r11);
    2. rename original → ``__precompact``, rename the copy into place
       (a durable copy exists at every step; a crash between the
       renames leaves the side directory missing with the backup as the
       only copy — :func:`_attach_side` AUTO-RESTORES it on the next
       touch, ADVICE r11);
    3. drop the temp catalog entry, refresh the real one (its location
       never changed), delete the backup.

    Stale ``__compacting`` leftovers from a crashed run are cleared up
    front; a ``__precompact`` backup is deleted only while the live
    side directory exists (it may be the only surviving copy). Cost is one full rewrite of each side —
    that's what compaction is; schedule it like any other table
    maintenance. Beyond small-files overhead, multi-file buckets also
    force a stored-side Sort into every refresh join (sorted-scan
    metadata needs one file per bucket) — measured 14.8 s to compact a
    2×10M-row store (SURVEY §6). Returns per-side file counts after
    compaction."""
    check_store_consistent(spark, store_path)
    out = {}
    for sub in ("left", "right"):
        n = _bucketed_rewrite_swap(
            spark, store_path, sub, keys, num_buckets, lambda df: df
        )
        if n is not None:
            out[sub] = n
    return out


def _bucketed_rewrite_swap(
    spark, store_path: str, sub: str, keys: list[str], num_buckets: int,
    transform,
) -> int | None:
    """Rewrite one bucketed side as ``transform(plain read)`` with the
    write-then-swap discipline of :func:`compact_ivm_sides` (whose
    docstring documents the three steps and why the read is PLAIN
    parquet) — shared by compaction (``transform`` = identity) and the
    delete increment (``transform`` = anti-join against the delete
    keys). Returns the post-swap parquet file count, or None when the
    side doesn't exist yet. Crash safety: a durable copy of the side
    exists at every step; :func:`_attach_side` auto-restores the
    ``__precompact`` backup if a crash lands between the two renames,
    and the stale-leftover cleanup here never deletes a backup whose
    live side directory is missing (ADVICE r11 — deleting it would
    destroy the only surviving copy)."""
    tbl, df = _attach_side(spark, store_path, sub, keys, num_buckets)
    if df is None:
        return None
    path = os.path.join(store_path, sub)
    # plain read — the bucketed-table scan would defeat the repartition
    # (compact_ivm_sides docstring step 1); the original files stay
    # alive until the swap, so no freeze is needed either. A
    # partition-laid-out side (r13) is self-describing here: the plain
    # read infers IVM_PART from the directory names, and the rewrite
    # preserves the layout (partitionBy below + MSCK SYNC after the
    # swap, so catalog partitions track dirs emptied by a delete).
    df = transform(spark.read.parquet(path))
    partitioned = IVM_PART in df.columns
    tmp_path = path + "__compacting"
    bak_path = path + "__precompact"
    tmp_tbl = f"{tbl}_compacting"
    fs, p_orig = _fs_path(spark, path)
    jvm = spark._jvm
    # clear leftovers of a crashed prior run: the __compacting copy is
    # always disposable (never the only copy); the __precompact backup
    # is only disposable while the live side exists — _attach_side just
    # guaranteed it does (it restores a missing side from the backup),
    # but guard anyway so a future caller reordering cannot turn this
    # cleanup into data loss
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    tmp_stale = jvm.org.apache.hadoop.fs.Path(tmp_path)
    if fs.exists(tmp_stale):
        fs.delete(tmp_stale, True)
    bak_stale = jvm.org.apache.hadoop.fs.Path(bak_path)
    if fs.exists(bak_stale):
        if not fs.exists(p_orig):
            raise OSError(
                f"_bucketed_rewrite_swap: {bak_path} exists but {path} "
                "does not — the backup is the only copy; restore it "
                "(rename back) instead of rewriting"
            )
        fs.delete(bak_stale, True)

    writer = (
        df.repartition(int(num_buckets), *[F.col(k) for k in keys])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(int(num_buckets), *keys)
        .sortBy(*keys)
        .option("path", tmp_path)
    )
    if partitioned:
        writer = writer.partitionBy(IVM_PART)
    writer.saveAsTable(tmp_tbl)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp_path)
    p_bak = jvm.org.apache.hadoop.fs.Path(bak_path)
    if not fs.rename(p_orig, p_bak):
        raise OSError(f"bucketed rewrite: rename {path} -> {bak_path} failed")
    if not fs.rename(p_tmp, p_orig):
        # put the original back — the rewritten copy is still durable
        fs.rename(p_bak, p_orig)
        raise OSError(f"bucketed rewrite: rename {tmp_path} -> {path} failed")
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    spark.catalog.refreshTable(tbl)
    if partitioned:
        # a delete can empty a partition directory entirely; drop its
        # stale catalog entry (and register any new values) so the
        # table's partition list tracks what the swap actually wrote
        spark.sql(f"MSCK REPAIR TABLE {tbl} SYNC PARTITIONS")
    fs.delete(p_bak, True)
    n_files = 0
    it = fs.listFiles(p_orig, True)  # recursive: partition dirs count too
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n_files += 1
    return n_files


def apply_left_join_increment(
    spark,
    store_path: str,
    delta_left: DataFrame,
    delta_right: DataFrame,
    on: str | list[str],
    num_buckets: int = 8,
    prune_col: str | None = None,
    epoch: int | None = None,
    stream_id: str = "",
) -> None:
    """LEFT OUTER join view maintenance (the retraction-bearing half the
    inner algebra cannot express): maintain ``A LEFT JOIN B`` under
    append-only deltas. The inner-match rows are append-only and reuse
    the whole :func:`apply_join_increment` machinery (bucketed sides,
    frozen deltas) at ``{store}/inner``; the NULL-extended rows are the
    left rows with no match yet — and that set shrinks when ΔB arrives,
    which is a RETRACTION, so it lives in its own rewritten dataset:

        unmatched_new = unmatched_old ⟕̸ ΔB  ∪  ΔA ⟕̸ B_new

    (anti-joins: unmatched_old rows already failed to match B_old, so
    only ΔB can claim them; ΔA must clear all of B_new). The rows any
    increment moves out of ``unmatched`` are exactly the
    ``A_old ⋈ ΔB`` term the inner store just appended — the two
    datasets stay consistent by construction (pinned per-increment in
    pytest against a full recompute).

    Scale shape: the anti-joins are delta-vs-stored (the stored side of
    ``ΔA ⟕̸ B_new`` is the bucketed right table — exchange-free like
    every stored-side join here), except the ``unmatched`` rewrite,
    which costs |unmatched| per refresh — bounded by the fact table's
    UNMATCHED rows (telemetry without a dimension row yet), a set that
    drains as late dimension rows arrive; a warehouse where it grows
    unboundedly has a referential-integrity problem, not a plan
    problem. Read with :func:`read_left_join_view`.

    ``epoch``/``stream_id`` (r13, VERDICT r12 item 7) record the
    increment into the ROOT store's ``{store}/applied`` replay ledger
    — appended after the unmatched rewrite, inside the root marker
    window — giving the streaming ingest
    (``streaming/ivm.py:make_left_ivm_ingest``) the same
    skip-if-applied redelivery contract as the inner-join path. The
    nested inner-store increment deliberately does NOT ledger its own
    epoch: the composite either fully lands (root ledger row present)
    or fails loud via one of the two markers.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # one staged scope spans the whole increment: the delta freezes, the
    # inner store's view-delta stage (its return value is not used here),
    # and the unmatched-rewrite freeze are all released on exit — none
    # of these pins outlives the increment (review r11)
    check_store_consistent(spark, store_path)
    with staged(spark):
        delta_left = stage(delta_left)
        delta_right = stage(delta_right)

        # the root-store marker brackets the WHOLE composite
        # increment (inner store mutation + unmatched rewrite); the
        # nested apply_join_increment additionally brackets its own
        # writes under {store}/inner — both markers clear on
        # success. Opened after the input freezes so a failure in
        # the caller's upstream plan (store untouched) doesn't
        # falsely flag corruption.
        _begin_increment(spark, store_path)
        inner = os.path.join(store_path, "inner")
        apply_join_increment(
            spark, inner, delta_left, delta_right, on=keys,
            num_buckets=num_buckets, prune_col=prune_col,
            _frozen=True,
        )
        _, r_all = _attach_side(spark, inner, "right", keys, num_buckets)
        # the anti-probe prunes too: B_new rows outside ΔA's
        # prune-column range cannot match any ΔA row, so removing
        # them cannot flip an anti-join verdict
        r_all = _pruned(r_all, delta_left, prune_col)
        um_path = os.path.join(store_path, "unmatched")
        if _hadoop_path_exists(spark, um_path):
            um_old = spark.read.parquet(um_path).join(
                delta_right.select(*keys), keys, "left_anti"
            )
        else:
            um_old = None
        um_new = delta_left.join(r_all.select(*keys), keys, "left_anti")
        um = um_old.unionByName(um_new) if um_old is not None else um_new
        # the rewrite plan reads the old store — freeze before
        # rewriting. Then write-aside → delete → rename (r13, the
        # erase_rows swap discipline): a plain overwrite deletes the
        # original FIRST and leaves the old unmatched rows' only
        # copy in a non-replicated localCheckpoint for the write's
        # duration — an executor loss in that window would destroy
        # them (the hazard class the r11 review closed for
        # compaction). With the aside, the original survives on
        # disk until the new copy is fully durable.
        um = stage(um)
        from .layout import _aside_path

        jvm = spark._jvm
        p_um = jvm.org.apache.hadoop.fs.Path(um_path)
        um_fs = p_um.getFileSystem(spark._jsc.hadoopConfiguration())
        aside = _aside_path(jvm, um_path, "__rewriting")
        if um_fs.exists(aside):
            um_fs.delete(aside, True)  # stale leftover: disposable
        um.write.mode("overwrite").parquet(aside.toString())
        if um_fs.exists(p_um):
            um_fs.delete(p_um, True)
        if not um_fs.rename(aside, p_um):
            raise OSError(
                f"apply_left_join_increment: rename {aside} -> "
                f"{um_path} failed — the rewritten unmatched set "
                "is durable at the aside path; restore it manually"
            )
        spark.catalog.refreshByPath(um_path)
        if epoch is not None:
            _append_ledger(spark, store_path, epoch, stream_id)
        _end_increment(spark, store_path)


def read_left_join_view(spark, store_path: str) -> DataFrame:
    """The accumulated LEFT OUTER view: inner-match rows ∪ unmatched
    left rows null-extended to the right side's columns. The extension
    schema comes from the inner VIEW's own parquet footers (exactly the
    left+right columns as written, so it never drifts) — not from the
    stored right table, whose directory holds NO schema-bearing files
    while every right delta so far was empty (the fact-stream-before-
    dimension shape; r13)."""
    check_store_consistent(spark, store_path)
    inner = spark.read.parquet(os.path.join(store_path, "inner", "view"))
    um = spark.read.parquet(os.path.join(store_path, "unmatched"))
    ext = um
    for f in inner.schema.fields:
        if f.name not in um.columns:
            ext = ext.withColumn(f.name, F.lit(None).cast(f.dataType))
    return inner.unionByName(ext.select(*inner.columns))


def apply_delete_increment(
    spark,
    store_path: str,
    keys: DataFrame,
    key_col: str,
    on: str | list[str],
    num_buckets: int = 8,
    agg: tuple[list[str], list] | None = None,
    epoch: int | None = None,
    stream_id: str = "",
) -> dict:
    """Apply one DELETE increment to the materialized inner-join store:
    remove every row whose ``key_col`` value appears in ``keys`` (a
    DataFrame carrying a column named ``key_col``) — the signed
    complement of :func:`apply_join_increment`, closing the r11 gap
    where a source-row deletion could not be propagated into a
    maintained view (VERDICT r11 item 1).

    Z-set reading: the delete is an increment of multiplicity −1 per
    matching row. Physically, per dataset:

    - **sides** — every affected bucketed side (the side(s) whose
      schema carries ``key_col``; both when it is a join key) is
      rewritten without the matching rows THROUGH the bucketed writer
      with the compaction write-then-swap discipline
      (:func:`_bucketed_rewrite_swap` — bucket layout and its
      exchange-free refresh joins survive; a plain rewrite would
      silently break them);
    - **view/** — the join rows carrying a deleted row are EXACTLY the
      view rows whose ``key_col`` matches (the column survives into the
      view and the two sides' non-key columns are disjoint by the
      insert-path contract), removed via the atomic
      ``operators/layout.py:erase_rows`` rewrite;
    - **agg/** — one NEGATIVE monoid partial per group, computed from
      the removed view rows BEFORE they are rewritten away (frozen via
      localCheckpoint) and appended: counts and exact-decimal sums
      negate exactly, so :func:`read_aggregate_view` keeps merging
      partials without ever scanning the view; pass its
      ``drop_zero_col`` so fully-cancelled groups vanish as a recompute
      would. ``agg=(group_cols, partial_aggs)`` must be the SAME spec
      the insert increments used.

    ``on`` is the store's join key list (bucket layout of the sides).
    The delete key set is frozen up front (it may derive from the very
    datasets being rewritten) and is dimension-sized by contract (a
    DSR queue / CDC tombstone batch), so every probe broadcasts; the
    side and view rewrites are the only full-dataset costs, identical
    in shape to compaction — schedule deletes like any other table
    maintenance, batched. All writes run inside the increment's
    ``_INCREMENT_IN_PROGRESS`` marker (module docstring, Durability).
    ``epoch``/``stream_id`` (r13, VERDICT r12 item 1) record the delete
    into the same ``{store}/applied`` replay ledger the insert path
    uses — written LAST inside the marker window — so a streamed
    tombstone batch (``streaming/ivm.py:make_ivm_delete_ingest``)
    redelivered after a restart skips byte-identically instead of
    re-running the (idempotent-in-rows but not in negative-partials)
    rewrite: a re-applied delete epoch would append a second, now
    zero-row-backed negative partial only when rows matched again, but
    would pay two compaction-shaped probes and — for a key re-inserted
    between delivery and redelivery — would WRONGLY delete the new
    rows. The ledger makes redelivery a no-op by construction.
    Returns per-dataset removed-row counts:
    ``{"left": n, "right": n, "view": n, "agg_groups": n}``.
    """
    from .layout import erase_rows

    check_store_consistent(spark, store_path)
    join_keys = [on] if isinstance(on, str) else list(on)
    out = {"left": 0, "right": 0, "view": 0, "agg_groups": 0}
    with staged(spark):
        req = stage(
            keys.select(F.col(key_col).alias("__del_key")).distinct()
        )
        probe = F.col(key_col) == F.col("__del_key")

        sides = {}
        for sub in ("left", "right"):
            _, df = _attach_side(
                spark, store_path, sub, join_keys, num_buckets
            )
            if df is not None and key_col in df.columns:
                sides[sub] = df
        if not sides:
            raise ValueError(
                f"apply_delete_increment: {key_col!r} is not a column "
                "of any stored side — nothing identifies the rows to "
                "delete"
            )

        v_path = os.path.join(store_path, "view")
        view = (
            spark.read.parquet(v_path)
            if _hadoop_path_exists(spark, v_path)
            else None
        )
        has_agg = _hadoop_path_exists(
            spark, os.path.join(store_path, "agg")
        )
        if has_agg and agg is None:
            # deleting view rows while keeping their positive
            # partials would leave the maintained aggregate
            # silently STALE — the one corruption this module
            # exists to prevent; the caller must supply the same
            # (group_cols, partial_aggs) spec the inserts used
            raise ValueError(
                "apply_delete_increment: the store maintains an "
                "aggregate view (agg/ exists) but no agg= spec was "
                "given — the delete must append matching NEGATIVE "
                "partials or the aggregate goes stale"
            )
        neg_partial = None
        if view is not None and agg is not None and has_agg:
            group_cols, partial_aggs = agg
            removed = view.join(F.broadcast(req), probe, "left_semi")
            part = removed.groupBy(*group_cols).agg(*partial_aggs)
            # negate every partial column, cast back to its own type
            # so the parquet append schema stays byte-compatible
            # (unary minus widens some numeric types)
            neg_partial = stage(
                part.select(
                    *group_cols,
                    *[
                        (-F.col(f.name)).cast(f.dataType).alias(f.name)
                        for f in part.schema.fields
                        if f.name not in group_cols
                    ],
                )
            )
            out["agg_groups"] = neg_partial.count()

        _begin_increment(spark, store_path)
        if neg_partial is not None:
            neg_partial.write.mode("append").parquet(
                os.path.join(store_path, "agg")
            )
        if view is not None:
            stats = erase_rows(
                spark, v_path, req, key_col=key_col, id_col="__del_key"
            )
            out["view"] = stats["rows_erased"]
        for sub in sides:
            # probe first (footer count + broadcast semi-join — the
            # erase_rows discipline): a side with ZERO matching rows
            # must not pay a full rewrite+swap; a re-drained DSR
            # queue then costs two probes, not two compactions
            n_match = (
                sides[sub]
                .join(F.broadcast(req), probe, "left_semi")
                .count()
            )
            if n_match == 0:
                out[sub] = 0
                continue
            _bucketed_rewrite_swap(
                spark, store_path, sub, join_keys, num_buckets,
                lambda df: df.join(F.broadcast(req), probe, "left_anti"),
            )
            out[sub] = n_match
        if epoch is not None:
            _append_ledger(spark, store_path, epoch, stream_id)
        _end_increment(spark, store_path)
        return out


def erase_from_ivm_store(
    spark,
    store_path: str,
    ids: DataFrame,
    key_col: str,
    on: str | list[str],
    num_buckets: int = 8,
    agg: tuple[list[str], list] | None = None,
) -> dict:
    """Right-to-erasure propagation into a materialized IVM store —
    the composition ``operators/layout.py:erase_rows`` alone cannot
    provide (VERDICT r11 item 1: an erased source row otherwise
    SURVIVES inside every view materialized from that table, a
    right-to-erasure hole). Call it with the same subject-id set handed
    to ``erase_rows``/``erase_rows_multi`` on the source tables, once
    per IVM store built over them; after it returns, the store's
    sides, view, and maintained aggregate no longer carry the subject
    (pinned end-to-end in pytest together with the source erasure and
    a zero-reading erasure audit).

    Handles both store layouts:

    - **inner store** (``left/ right/ view/ agg/``) — delegates to
      :func:`apply_delete_increment`;
    - **LEFT OUTER store** (``inner/ unmatched/``) — the inner store
      takes the delete increment, and matching rows are additionally
      erased from the ``unmatched`` dataset (atomic ``erase_rows``
      rewrite). Erasing by a RIGHT-side-only column is rejected loudly:
      deleting dimension rows would have to move their former matches
      back INTO the unmatched set, which requires the recompute this
      module exists to avoid — rebuild the store instead (deleting by
      a left-side or join-key column, the right-to-erasure shape, is
      fully supported).
    """
    inner = os.path.join(store_path, "inner")
    if not _hadoop_path_exists(spark, inner):
        return apply_delete_increment(
            spark, store_path, ids, key_col, on=on,
            num_buckets=num_buckets, agg=agg,
        )
    check_store_consistent(spark, store_path)
    join_keys = [on] if isinstance(on, str) else list(on)
    _, r_side = _attach_side(spark, inner, "right", join_keys, num_buckets)
    _, l_side = _attach_side(spark, inner, "left", join_keys, num_buckets)
    right_only = (
        r_side is not None
        and key_col in r_side.columns
        and (l_side is None or key_col not in l_side.columns)
    )
    if right_only:
        raise ValueError(
            f"erase_from_ivm_store: {key_col!r} identifies RIGHT-side "
            "rows of a LEFT OUTER store — deleting them would move "
            "their former matches back into the unmatched set, which "
            "needs a recompute; rebuild the store from the post-delete "
            "sources instead"
        )
    _begin_increment(spark, store_path)
    out = apply_delete_increment(
        spark, inner, ids, key_col, on=on, num_buckets=num_buckets, agg=agg
    )
    from .layout import erase_rows

    um_path = os.path.join(store_path, "unmatched")
    out["unmatched"] = 0
    if _hadoop_path_exists(spark, um_path):
        um_cols = spark.read.parquet(um_path).columns
        if key_col in um_cols:
            stats = erase_rows(spark, um_path, ids, key_col=key_col)
            out["unmatched"] = stats["rows_erased"]
    _end_increment(spark, store_path)
    return out


def _append_ledger(
    spark, store_path: str, epoch: int, stream_id: str = ""
) -> None:
    """Record one completed increment into the ``{store}/applied``
    replay ledger — called INSIDE the increment's marker window, after
    every dataset write, so presence means the increment fully landed.
    Each row carries the epoch id AND the stream identity that produced
    it (ADVICE r12: batch ids are checkpoint-scoped)."""
    spark.createDataFrame(
        [(int(epoch), str(stream_id))], "epoch long, stream_id string"
    ).coalesce(1).write.mode("append").parquet(
        os.path.join(store_path, "applied")
    )


def _ledger_rows(spark, store_path: str) -> list[tuple[int, str]]:
    """All ``(epoch, stream_id)`` pairs in the replay ledger —
    driver-bounded (one row per increment ever applied). Rows written
    before the stream-identity column existed (r12 stores) read as
    stream id ``""`` — the same default a non-streaming caller uses."""
    path = os.path.join(store_path, "applied")
    if not _hadoop_path_exists(spark, path):
        return []
    df = spark.read.parquet(path)
    if "stream_id" not in df.columns:
        df = df.withColumn("stream_id", F.lit(""))
    return [
        (int(r["epoch"]), "" if r["stream_id"] is None else str(r["stream_id"]))
        for r in df.collect()
    ]


def ivm_applied_epochs(
    spark, store_path: str, stream_id: str | None = None
) -> set[int]:
    """The replay ledger: epoch ids whose increments COMPLETED (each id
    is written inside its increment's durability marker window, so
    presence here means every dataset of that increment landed).
    Driver-bounded: one row per increment ever applied. With
    ``stream_id`` set, only that stream's epochs are returned — the
    skip-if-applied check must never match another stream's batch ids
    (ADVICE r12); ``None`` returns every epoch regardless of origin
    (inspection/back-compat)."""
    rows = _ledger_rows(spark, store_path)
    if stream_id is None:
        return {e for e, _s in rows}
    return {e for e, s in rows if s == str(stream_id)}


def ivm_ledger_guard(spark, store_path: str, stream_id: str) -> set[int]:
    """Validate the ONE-STORE-ONE-STREAM invariant and return the
    stream's applied epochs (ADVICE r12). foreachBatch batch ids are
    scoped to a streaming checkpoint: if the checkpoint is lost or
    recreated — or a second stream points at the same store — ids
    restart at 0 and the bare epoch check would silently skip genuinely
    NEW micro-batches as completed replays (silent view data loss).
    A ledger holding entries under a DIFFERENT stream identity is
    therefore refused loudly (:class:`IvmStoreCorrupt`-adjacent
    fail-loud discipline, but the store data itself is consistent —
    hence a plain ``RuntimeError`` naming the remedies: resume the
    original checkpoint, or rebuild the store for a new stream).
    Insert and delete ingests maintaining the SAME store must share
    one logical stream identity (one CDC stream dispatched by op),
    so their batch-id sequences cannot collide."""
    rows = _ledger_rows(spark, store_path)
    foreign = sorted({s for _e, s in rows if s != str(stream_id)})
    if foreign:
        raise RuntimeError(
            f"IVM replay ledger at {store_path}/applied holds increments "
            f"from stream identity {foreign[0]!r}, but this ingest runs "
            f"as {str(stream_id)!r}. Batch ids are checkpoint-scoped: "
            "applying this stream's batches here could silently skip "
            "new data as 'completed replays' (or double-apply). Resume "
            "the stream from its original checkpoint, or rebuild the "
            "store to re-home it."
        )
    return {e for e, _s in rows}


def compact_ivm_ledger(spark, store_path: str) -> int:
    """Rewrite the ``{store}/applied`` replay ledger back to ONE file
    (VERDICT r12 What's-wrong 2: every increment appends a tiny
    ``coalesce(1)`` parquet file, and the ledger is re-read on the hot
    path of EVERY micro-batch — months of epochs means thousands of
    files per skip check). The rewrite runs inside its own increment
    marker window with the write-aside → delete → rename discipline
    (a crash mid-swap surfaces as IvmStoreCorrupt, never a silently
    truncated ledger — losing ledger rows would re-apply completed
    epochs on the next replay). Returns the row count; scheduled via
    ``pipelines/maintain_ivm.py --compact`` alongside side compaction.
    """
    from .layout import _aside_path

    path = os.path.join(store_path, "applied")
    check_store_consistent(spark, store_path)
    if not _hadoop_path_exists(spark, path):
        return 0
    rows = _ledger_rows(spark, store_path)
    _begin_increment(spark, store_path)
    jvm = spark._jvm
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(spark._jsc.hadoopConfiguration())
    aside = _aside_path(jvm, path, "__compacting")
    spark.createDataFrame(
        rows or [], "epoch long, stream_id string"
    ).coalesce(1).write.mode("overwrite").parquet(aside.toString())
    fs.delete(src, True)
    fs.rename(aside, src)
    spark.catalog.refreshByPath(path)
    _end_increment(spark, store_path)
    return len(rows)

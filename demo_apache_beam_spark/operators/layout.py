"""Multi-dimensional data layout — Z-order (Morton) clustering for scan
pruning.

An engine extension with no reference counterpart (the reference writes
whatever order the runner produces): at 100 TB the dominant query cost is
the scan, and the dominant scan saving is file/row-group skipping on
min-max statistics. A table sorted on one column skips perfectly on that
column and not at all on any other; interleaving the bits of several
(rank-scaled) columns into one Morton key and range-partitioning on it
gives every participating column locality, so min-max pruning works for
predicates on ANY of them. This is the same layout Delta/Iceberg expose as
``OPTIMIZE ZORDER BY`` — here it is plain DataFrame ops: two aggregate
passes (global min/max per column, a handful of rows broadcast back) and a
codegen-only bit-interleave expression, then ``repartitionByRange`` on the
key. No UDF, no driver loop; the range partitioner's sample pass is the
only extra job.

``zorder_value`` is deliberately integer-exact (scale = multiply + integer
DIV) so the key is reproducible across engines — the registry query
``events_zorder_index`` hash-checks it against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpoints import stage, staged


def scaled_rank(col: str, mn: str, mx: str, bits: int) -> Column:
    """Map an integer column with known [``mn``, ``mx``] bound columns onto
    [0, 2**bits) by integer arithmetic only:
    ((x - mn) * 2**bits) DIV (mx - mn + 1).
    Exact and engine-portable (no float rounding anywhere). Arguments are
    column NAMES (the bounds typically arrive via a broadcast one-row
    stats join)."""
    return F.expr(
        f"CAST((({col} - {mn}) * {1 << bits}) DIV ({mx} - {mn} + 1) AS LONG)"
    )


def zorder_value(cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of each (already scaled) column
    into a single Morton key: bit b of column i lands at position
    b * len(cols) + i. Pure shift/mask/or — whole-stage codegen."""
    n = len(cols)
    z: Column | None = None
    for b in range(bits):
        for i, c in enumerate(cols):
            piece = F.shiftleft(
                F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                b * n + i,
            )
            z = piece if z is None else z.bitwiseOR(piece)
    assert z is not None
    return z.cast("long")


def zorder_layout(
    df: DataFrame,
    zcol: str = "zval",
    num_files: int = 32,
) -> DataFrame:
    """Cluster ``df`` for writing: contiguous Morton-key ranges per output
    file (range partition + in-file sort), so each file's min-max covers a
    small rectangle of the key space in EVERY interleaved dimension."""
    return df.repartitionByRange(num_files, F.col(zcol)).sortWithinPartitions(zcol)


def compact_files(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    sort_col: str | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_file_bytes)`` files and atomically swap it
    into place. Returns the new file count.

    The operational tool every streaming/append table needs: micro-batch
    and per-window appends leave thousands of KB-sized files, and at
    100 TB the scan's task-scheduling and footer-reading overhead comes to
    dominate actual IO (the classic small-files problem). Sizing reads
    the REAL byte total from the filesystem (no row-count heuristics);
    with ``sort_col`` the rewrite range-partitions + sorts so compaction
    simultaneously restores clustering (pair with ``zorder_value`` to
    re-establish multi-column skipping). A Hive-partitioned dataset
    (``k=v`` subdirectories) compacts per partition, preserving the
    directory layout — partition pruning and replay-by-partition-
    overwrite (the epoch-partitioned streaming stores) keep working.
    The swap is write-aside → delete → rename: crash-safe in the sense
    that the original survives any failure before the delete, and the
    aside copy survives one after it."""
    import math

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(hconf)
    entries = list(fs.listStatus(src))
    part_dirs = [
        e for e in entries
        if e.isDirectory() and "=" in e.getPath().getName()
    ]
    if part_dirs:
        # Hive-partitioned dataset: compact each partition IN PLACE so the
        # directory layout survives — flattening it would break partition
        # pruning and any replay-by-partition-overwrite contract (the
        # epoch-partitioned streaming band/marker stores). The previous
        # top-level-only listing also summed 0 bytes here, so the rewrite
        # would have collapsed everything into one file on top of that.
        return sum(
            compact_files(
                spark, e.getPath().toString(), target_file_bytes, sort_col
            )
            for e in part_dirs
        )
    total = sum(
        f.getLen()
        for f in entries
        if f.getPath().getName().startswith("part-")
    )
    n = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    out = (
        df.repartitionByRange(n, F.col(sort_col)).sortWithinPartitions(sort_col)
        if sort_col
        else df.repartition(n)
    )
    aside = _aside_path(jvm, path, "__compacting")
    out.write.mode("overwrite").parquet(aside.toString())
    fs.delete(src, True)
    fs.rename(aside, src)
    return n


def _aside_path(jvm, path: str, suffix: str):
    """Write-aside sibling for the atomic-swap rewrites, named with a
    leading underscore: Hadoop's hidden-file filter (the `_SUCCESS` /
    `_temporary` convention) makes Spark's partition discovery skip it,
    so a crash that leaves the aside directory behind inside a
    Hive-partitioned dataset root cannot surface as a phantom
    partition value (which would silently degrade the partition column
    to string and read residue rows as live data)."""
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/"))
    return jvm.org.apache.hadoop.fs.Path(
        p.getParent(), "_" + p.getName() + suffix
    )


def erase_rows(
    spark,
    path: str,
    ids: DataFrame,
    key_col: str | list[str] | tuple[str, ...],
    id_col: str | list[str] | tuple[str, ...] | None = None,
    sort_col: str | None = None,
    _frozen: bool = False,
) -> dict:
    """Right-to-erasure rewrite — the execution half of the
    ``user_erasure_audit`` dry run: rewrite the parquet dataset at
    ``path`` without any row whose ``key_col`` appears in ``ids``
    (column ``id_col``, default ``key_col``), atomically swapped into
    place with the same underscore-prefixed write-aside → delete →
    rename discipline as :func:`compact_files` (the original survives
    any failure before the delete; a leftover aside is invisible to
    partition discovery). Returns ``{"rows_before", "rows_erased",
    "rows_after"}``.

    The request set is checkpointed FIRST — it may derive from the very
    dataset being rewritten, and a lazy plan would re-read the
    post-delete files mid-swap. Deletion-request sets are
    dimension-sized (a DSR queue), so the probe and anti-join
    broadcast. A Hive-partitioned dataset is handled per partition,
    preserving the directory layout, and a partition whose broadcast
    semi-join probe matches ZERO requested ids is NOT rewritten — its
    cost is the parquet-footer row count plus one key-column scan, so
    a request touching 1% of partitions rewrites 1% of the bytes.
    ``rows_after`` derives from the probe count (the anti-join is its
    exact complement), never a post-rename re-read. ``sort_col``
    forwards the compaction clustering option so a Z-ordered dataset
    keeps its min-max skipping through the rewrite. ``key_col`` must
    be a data column: erasing by the PARTITION column is directory
    deletion, not a rewrite — rejected loudly before any mutation.

    This rewrites the TABLE, not its derived artifacts: a materialized
    IVM view built over the table still holds copies of the erased
    rows — call ``operators/ivm.py:erase_from_ivm_store`` with the same
    subject set, once per store over this table (pinned end-to-end in
    ``tests/test_layout.py::test_erase_rows_propagates_to_ivm_store``);
    the dedup/linkage stores have their own erase wrappers likewise.

    ``key_col`` may be a LIST of columns for composite-key erasure
    (``ids`` then matches on the conjunction of all of them — the shape
    the dedup-store erasure wrappers need, where a MinHash band row is
    identified by (band_idx, band_hash), never by either alone:
    erasing by band_hash only could collateral-delete another accepted
    document's row that shares the hash under a different band index).
    """
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    id_cols = (
        key_cols
        if id_col is None
        else ([id_col] if isinstance(id_col, str) else list(id_col))
    )
    if len(id_cols) != len(key_cols):
        raise ValueError(
            f"erase_rows: id_col count {len(id_cols)} != key_col count "
            f"{len(key_cols)}"
        )
    probe_cols = [f"__erase_{i}" for i in range(len(key_cols))]
    # ``_frozen`` (internal, erase_rows_multi): the caller already
    # distinct-staged a __erase_id set and owns its release — a
    # per-table re-freeze would run one extra eager job and pin one
    # extra RDD per target table (review r8)
    if _frozen:
        if len(key_cols) != 1:
            raise ValueError("erase_rows: _frozen supports a single key only")
        probe_cols = ["__erase_id"]

    def _match_cond():
        cond = F.col(key_cols[0]) == F.col(probe_cols[0])
        for k, p in zip(key_cols[1:], probe_cols[1:]):
            cond = cond & (F.col(k) == F.col(p))
        return cond

    def _erase(p: str) -> dict:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        src = jvm.org.apache.hadoop.fs.Path(p)
        fs = src.getFileSystem(hconf)
        entries = list(fs.listStatus(src))
        part_dirs = [
            e for e in entries
            if e.isDirectory() and "=" in e.getPath().getName()
        ]
        if part_dirs:
            out = {"rows_before": 0, "rows_erased": 0, "rows_after": 0}
            for e in part_dirs:
                sub = _erase(e.getPath().toString())
                for k in out:
                    out[k] += sub[k]
            return out
        n_files = sum(
            1 for f in entries if f.getPath().getName().startswith("part-")
        )
        df = spark.read.parquet(p)
        for k in key_cols:
            if k not in df.columns:
                raise ValueError(
                    f"erase_rows: {k!r} is not a data column of {p} — "
                    "erasing by the Hive partition column means deleting "
                    "the matching partition directories, not rewriting files"
                )
        before = df.count()  # parquet footer counts — no data read
        erased = (
            df.join(F.broadcast(req), _match_cond(), "left_semi").count()
        )
        if erased == 0:
            return {
                "rows_before": before, "rows_erased": 0, "rows_after": before,
            }
        keep = df.join(F.broadcast(req), _match_cond(), "left_anti")
        keep = (
            keep.repartitionByRange(
                max(1, n_files), F.col(sort_col)
            ).sortWithinPartitions(sort_col)
            if sort_col
            else keep.repartition(max(1, n_files))
        )
        aside = _aside_path(jvm, p, "__erasing")
        keep.write.mode("overwrite").parquet(aside.toString())
        fs.delete(src, True)
        fs.rename(aside, src)
        spark.catalog.refreshByPath(p)
        return {
            "rows_before": before,
            "rows_erased": erased,
            "rows_after": before - erased,
        }

    # the staged request set is released on exit (ADVICE r7): the
    # streaming erasure path calls this once per micro-batch, and without
    # the release a long-running stream pins one RDD per epoch
    with staged(spark):
        req = ids if _frozen else stage(
            ids.select(
                *[F.col(c).alias(p) for c, p in zip(id_cols, probe_cols)]
            ).distinct()
        )
        return _erase(path)


def erase_rows_multi(
    spark,
    ids: DataFrame,
    targets: dict[str, tuple[str, str]],
    id_col: str,
    sort_cols: dict[str, str] | None = None,
    ivm_stores: dict[str, dict] | None = None,
    store_catalog: str | None = None,
) -> dict[str, dict]:
    """Identity-mapped MULTI-TABLE erasure execute — the execution half
    of the ``user_erasure_audit`` dry run across every table that keys
    the same subject differently: ``targets`` maps table name →
    ``(dataset path, key column)`` (events.user_id, customer.c_custkey,
    orders.o_custkey in the audit), and each dataset is rewritten via
    :func:`erase_rows` with the shared request set. Returns per-table
    ``{"rows_before", "rows_erased", "rows_after"}`` — by construction
    the rows the audit counted per table are exactly the rows removed
    (pinned audit==execute by pytest).

    The request set is frozen ONCE, before the first delete: a DSR set
    derived from one of the target tables (the audit's events slice)
    must not re-resolve against half-rewritten data mid-loop — the
    per-table :func:`erase_rows` calls then distinct an already-frozen
    plan, never the mutating source. One pass per table, each a
    broadcast probe + anti-join rewrite; tables not matching any
    request id are probed but not rewritten.

    ``ivm_stores`` (r12) extends the same one-call erasure to every
    MATERIALIZED VIEW built over the target tables — the copies a
    table-only erase leaves behind (the r11 right-to-erasure hole):
    each entry maps a name → kwargs for
    ``operators/ivm.py:erase_from_ivm_store`` (``store_path``,
    ``key_col``, ``on``, optional ``num_buckets``/``agg``), called with
    the SAME frozen request set (renamed to each store's ``key_col``)
    AFTER the source tables, so a store-derived request cannot observe
    the mutation order. A STACKED (view-of-view) store erases by
    listing each pairwise level as its own entry (the subject key is a
    plain column at every level, pinned in pytest). Returns the store
    results under their names alongside the table results.

    ``store_catalog`` (r13, VERDICT r12 item 2) DISCOVERS the dependent
    stores instead of trusting the caller's dict: every ``kind='ivm'``
    entry of the persisted catalog (``operators/catalog.py``, recorded
    at store-build time) whose source table is among ``targets`` is
    erased with the same frozen request set — a store the caller never
    heard of is reached anyway, which is the whole point (a forgotten
    store silently keeping the subject was the r12 inventory hole).
    An explicitly-passed ``ivm_stores`` entry wins over a catalog entry
    of the same name (caller override); catalog-less legacy stores keep
    working through the explicit dict alone.

    The catalog's DEDUP entries (``dedup_exact``/``dedup_minhash``,
    r13) erase by the subject's DOCUMENT CONTENT, so their input — the
    subject's doc rows from each store's source table — is captured
    and frozen BEFORE that table is rewritten, then driven through the
    kind's erase wrapper with the recorded build params AFTER the
    table/view erasures. First-seen-wins nuance, inherited from the
    wrappers' batch semantics: erasing a digest/band row makes that
    content RE-ADMISSIBLE (and, where the subject's doc duplicated
    another subject's accepted content, stops deduping against it) —
    the store holds fingerprints, not documents, so no other subject's
    data is removed."""
    dedup_specs: list[dict] = []
    if store_catalog is not None:
        from .catalog import dedup_stores_from_catalog, ivm_stores_from_catalog

        discovered = ivm_stores_from_catalog(
            spark, store_catalog, list(targets.keys())
        )
        discovered.update(ivm_stores or {})  # explicit entries win
        ivm_stores = discovered
        dedup_specs = dedup_stores_from_catalog(
            spark, store_catalog, list(targets.keys())
        )

    with staged(spark):
        req = stage(ids.select(F.col(id_col).alias("__erase_id")).distinct())
        # capture the subject's doc rows for every dedup store NOW —
        # the tables are about to be rewritten without them
        captured: dict[str, DataFrame] = {}
        for spec in dedup_specs:
            path, key_col = targets[spec["source_table"]]
            src = spark.read.parquet(path)
            captured[spec["store_name"]] = stage(
                src.join(
                    F.broadcast(req),
                    src[key_col] == req["__erase_id"],
                    "left_semi",
                )
            )
        out = {
            name: erase_rows(
                spark,
                path,
                req,
                key_col,
                id_col="__erase_id",
                sort_col=(sort_cols or {}).get(name),
                _frozen=True,  # req is already a distinct-staged
                # __erase_id set; no per-table re-freeze
            )
            for name, (path, key_col) in targets.items()
        }
        if ivm_stores:
            from .ivm import erase_from_ivm_store

            for name, spec in ivm_stores.items():
                if name in out:
                    raise ValueError(
                        f"erase_rows_multi: ivm store name {name!r} "
                        "collides with a table target"
                    )
                kc = spec["key_col"]
                out[name] = erase_from_ivm_store(
                    spark,
                    spec["store_path"],
                    req.select(F.col("__erase_id").alias(kc)),
                    kc,
                    on=spec["on"],
                    num_buckets=spec.get("num_buckets", 8),
                    agg=spec.get("agg"),
                )
        if dedup_specs:
            from .dedup import erase_from_exact_store, erase_from_minhash_store

            for spec in dedup_specs:
                name = spec["store_name"]
                if name in out:
                    raise ValueError(
                        f"erase_rows_multi: dedup store name {name!r} "
                        "collides with another target/store"
                    )
                p = spec["params"]
                docs = captured[name]
                if spec["kind"] == "dedup_exact":
                    out[name] = erase_from_exact_store(
                        spark,
                        spec["store_path"],
                        docs,
                        key_cols=tuple(p.get("key_cols", ("text",))),
                    )
                else:  # dedup_minhash (the only other discoverable kind)
                    out[name] = erase_from_minhash_store(
                        spark,
                        spec["store_path"],
                        docs,
                        id_col=p.get("id_col", "doc_id"),
                        text_col=p.get("text_col", "text"),
                        num_hashes=int(p.get("num_hashes", 32)),
                        bands=int(p.get("bands", 8)),
                        shingle_n=int(p.get("shingle_n", 3)),
                    )
        return out


def training_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export:
    every row gets a reproducible pseudorandom position, materialized as
    ``(shard, pos)`` — the layout a data-parallel trainer consumes
    (worker w reads shard files w, w+W, w+2W, …; epoch order is fixed by
    construction, so a run is resumable and byte-for-byte repeatable).

    The shuffle key is ``md5(seed : id)`` — an engine-portable keyed
    hash, so the same (corpus, seed) produces the same order on any
    engine (the registry query hash-checks this against DuckDB).
    ``shard`` is the key's first 48 bits mod ``n_shards``;
    ``pos`` ranks rows *within* a shard by (key, id).

    Scale shape: no global sort and no global row_number — the only
    wide operation is one hash partition by ``shard`` with a per-shard
    sort (Spark's repartition + sortWithinPartitions write pattern,
    here a window whose partition key IS the shard). Operate it like a
    real exporter: grow ``n_shards`` ∝ corpus size (a shard ≈ one
    ~1 GB output file ⇒ 100 TB ⇒ ~10⁵ shards) so each per-shard sort
    stays file-sized; the hash key keeps shard populations balanced
    within √N noise regardless of id distribution (no skew salting
    needed — the key is already uniform).
    """
    from pyspark.sql import Window

    # 12 hex digits = 48 key bits: supports n_shards into the millions
    # with mod bias ≤ n_shards/2^48 (two digits would cap shards at 256
    # and starve any shard id above that). Horner evaluation with
    # engine-portable instr/substring only.
    hexpos = "CAST(instr('0123456789abcdef', substring(_sk, {i}, 1)) - 1 AS BIGINT)"
    key_bits = " + ".join(
        f"{hexpos.format(i=i + 1)} * CAST({16 ** (11 - i)} AS BIGINT)"
        for i in range(12)
    )
    keyed = df.withColumn(
        "_sk", F.md5(F.concat_ws(":", F.lit("shuffle"), F.lit(seed), F.col(id_col)))
    ).withColumn(
        "shard",
        (F.expr(f"CAST({key_bits} AS BIGINT)") % F.lit(n_shards)).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("_sk", id_col)
    return keyed.select(
        F.col(id_col),
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        F.col("_sk").alias("shuffle_key"),
    )

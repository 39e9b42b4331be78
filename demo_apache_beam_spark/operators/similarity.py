"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the standard ANN playbook:

- **Brute-force cosine top-k** — the exact baseline: broadcast the query
  set, one pass over the corpus, per-query top-k via *two-phase* rank
  (per-partition local top-k, then a global rank over only k rows per
  surviving partition). Cost O(N·Q·d) FLOPs with no single-partition
  hotspot: the old one-window-per-query plan funneled all N·Q scored
  rows into Q partitions; the two-phase plan's final window sees ≤ k·P
  rows per query.
- **Multi-table angular LSH** — the scale path: L independent
  random-hyperplane signatures (Charikar '02 sign-random-projection; the
  multi-table construction is the classic Indyk–Motwani/E2LSH recipe)
  bucket the corpus L ways; a query probes its bucket in every table and
  the union of bucket members is scored exactly. Per-neighbor recall is
  1 - (1 - p^b)^L with p = 1 - θ/π, so recall is tuned by (b = planes
  per table, L = tables) instead of a single monolithic signature —
  which is what made the round-1 version collapse (10 planes = 1,024
  buckets over a 500-vector corpus ⇒ singleton buckets, recall 0.025).

At 100 TB the corpus-side signature table (id, table, bucket) is written
once, bucketed by (table, bucket); every query batch equi-joins against
it shuffle-free on the corpus side, and only candidate ids — not
vectors — flow through the join. Vectors are fetched for the candidate
set alone, and scoring is pure array expressions (``zip_with`` +
``aggregate``) over double-cast arrays — JVM-side, no Python.

Reference parity note: the reference (Demo-Apache-Beam) has no
similarity operators; this module is part of the training-data-pipeline
extension surface (SURVEY.md §7 phase 5).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .checkpoints import stage


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_col(a: Column, b: Column) -> Column:
    """Sequential-order dot & norms in double — deterministic for a fixed
    array order, and reproducible by any engine that folds left-to-right."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def dot_col_unrolled(a_name: str, b_name: str, dim: int) -> Column:
    """``dot_col`` with the fold unrolled into a static ``dim``-term
    addition chain: ``a[0]*b[0] + a[1]*b[1] + ...``. SQL ``+`` is
    left-associative, so the IEEE addition sequence is the fold's
    exactly (the only delta is the fold's leading ``0.0 +``, which
    cannot change any sum) — but the unrolled chain is plain codegen'd
    arithmetic instead of a per-element interpreted lambda. Built as
    ONE ``F.expr`` string over column NAMES: constructing it from 2·dim
    ``getItem`` Column objects measured ~0.9 s of per-call py4j/analysis
    overhead on the driver — the string parses in one call. The chain
    KEEPS the fold's leading ``0.0 +`` so even the negative-zero case
    is bit-identical (without it, all-(-0.0) products would yield -0.0
    where the fold yields +0.0). Use when the dimension is statically
    known; the HOF stays for dynamic dims."""
    return F.expr(
        "0.0 + "
        + " + ".join(f"{a_name}[{j}] * {b_name}[{j}]" for j in range(dim))
    )


def _scored_cosine(na: Column, nb: Column, a: Column, b: Column) -> Column:
    """Cosine from precomputed norms: dot/(na·nb). Each row's norm folds
    once instead of once per PAIR (N+Q folds, not N·Q) — bit-identical to
    ``cosine_col`` since the stored sqrt values and the multiply are the
    same doubles in the same order."""
    return dot_col(a, b) / (na * nb)


def _topk_two_phase(
    scored: DataFrame, k: int, query_id_col: str = "query_id"
) -> DataFrame:
    """Scale-safe per-query top-k over (query_id, neighbor_id, cosine).

    Phase 1 ranks within (query, input-partition) groups — Q·P small
    groups spread across the cluster — and keeps k rows per group.
    Phase 2 ranks the ≤ k·P survivors per query. No partition ever holds
    a query's full corpus scan, unlike a single
    ``Window.partitionBy(query)`` which concentrates N rows per query
    into one task. Ties break by neighbor id for full determinism, so
    the result is bit-identical to the single-window plan.
    """
    order = [F.desc("cosine"), F.asc("neighbor_id")]
    w_local = Window.partitionBy(query_id_col, "_part").orderBy(*order)
    w_global = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        scored.withColumn("_part", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .drop("_part", "_lr")
        .withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast-cross-join queries × corpus, then
    two-phase rank.

    Output: (query_id, neighbor_id, cosine, rank), ties broken by
    neighbor id for full determinism. ``exclude_self`` (default) drops
    pairs whose query id equals the corpus id — correct ONLY when the
    query set is drawn from the corpus (the kNN-graph case); serving
    paths whose external query ids share no namespace with corpus ids
    must pass ``exclude_self=False`` or a numeric collision silently
    drops a real neighbor (same contract as :func:`ivf_topk`).
    """
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", norm_col(F.col("_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", norm_col(F.col("_cv")))
    join_cond = (
        F.col(query_id_col) != F.col("neighbor_id")
        if exclude_self
        else F.lit(True)
    )
    scored = c.join(F.broadcast(q), join_cond).select(
        query_id_col,
        "neighbor_id",
        _scored_cosine(
            F.col("_qn"), F.col("_cn"), F.col("_qv"), F.col("_cv")
        ).alias("cosine"),
    )
    return _topk_two_phase(scored, k, query_id_col)


# ---------------------------------------------------------------------------
# Multi-table random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, num_planes: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes (splitmix64-style scramble
    of the (seed, plane, coord) triple — no RNG state, reproducible
    anywhere)."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            x = (seed * 0x9E3779B97F4A7C15 + p * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 30
            x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 27
            row.append((x / 2**64) * 2.0 - 1.0)  # uniform [-1, 1)
        planes.append(row)
    return planes


def signature_col(vec: Column, planes: list[list[float]]) -> Column:
    """Bit b of the signature = sign(plane_b · vec). Pure-SQL variant kept
    for single-signature uses; the multi-table path batches all planes
    through one numpy matmul instead (see ``_table_sigs``)."""
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        plane_arr = F.array(*[F.lit(v) for v in plane])
        bit = F.when(dot_col(plane_arr, vec) >= 0, F.expr(f"CAST(1 AS BIGINT) << {b}")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + bit
    return sig


def default_planes_per_table(corpus_size: int, target_bucket: int = 64) -> int:
    """b ≈ log2(N / target_bucket): buckets sized so exact re-rank inside a
    bucket stays cheap while collision probability p^b stays meaningful."""
    return max(2, math.ceil(math.log2(max(2, corpus_size / target_bucket))))


def _table_sigs(
    df: DataFrame,
    id_alias: str,
    vec_col: str,
    tables: list[list[list[float]]],
) -> DataFrame:
    """(id, _tbl, _sig) — one row per (row, hash table).

    All L·b plane projections happen as ONE numpy matmul per Arrow batch
    (vectorized Pandas UDF): per-plane ``zip_with``/``aggregate`` column
    expressions are higher-order functions Spark interprets row-at-a-time
    — at 80 planes × 64 dims that interpretation dominates the whole
    query. Dense linear algebra is the textbook case for the Arrow path.
    """
    from pyspark.sql.functions import pandas_udf

    num_tables = len(tables)
    planes_per_table = len(tables[0])
    # (L·b) × dim projection matrix, row-major by (table, plane)
    proj = np.asarray(
        [plane for planes in tables for plane in planes], dtype=np.float64
    )

    @pandas_udf("array<long>")
    def all_sigs(emb: pd.Series) -> pd.Series:
        x = np.vstack(emb.to_numpy()).astype(np.float64)  # n × dim
        bits = (x @ proj.T) >= 0.0  # n × (L·b)
        sigs = np.zeros((x.shape[0], num_tables), dtype=np.int64)
        for t in range(num_tables):
            for b in range(planes_per_table):
                sigs[:, t] |= bits[:, t * planes_per_table + b].astype(np.int64) << b
        return pd.Series(list(sigs))

    return (
        df.select(F.col(id_alias), all_sigs(F.col(vec_col)).alias("_sigs"))
        .select(F.col(id_alias), F.posexplode("_sigs").alias("_tbl", "_sig"))
    )


def lsh_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 16,
    planes_per_table: int | None = None,
    dim: int | None = None,
    corpus_size_hint: int | None = None,
    seed: int = 42,
) -> tuple[DataFrame, dict]:
    """Build the LSH index once: returns ``(signatures, params)`` where
    ``signatures`` is the corpus (neighbor_id, _tbl, _sig) table and
    ``params`` = {num_tables, planes_per_table, dim, seed} — everything
    needed to re-derive the hyperplanes (they are closed-form functions
    of (seed, table, plane, coord), so persistence never stores plane
    values). This is the artifact the module docstring's 100 TB story
    describes: write it once (:func:`lsh_save`, partitioned by table so
    a probe prunes to its table's files), then every query batch signs
    only ITSELF and equi-joins the stored rows."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if planes_per_table is None:
        n = corpus_size_hint if corpus_size_hint is not None else corpus.count()
        planes_per_table = default_planes_per_table(n)
    tables = [
        hyperplanes(dim, planes_per_table, seed=seed + 7919 * t)
        for t in range(num_tables)
    ]
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    sigs = _table_sigs(c_vec, "neighbor_id", "_cv", tables)
    params = {
        "num_tables": num_tables,
        "planes_per_table": planes_per_table,
        "dim": dim,
        "seed": seed,
    }
    return sigs, params


def lsh_save(index: tuple[DataFrame, dict], path: str) -> None:
    """Persist an LSH index from :func:`lsh_build`: the signature rows at
    ``path/signatures`` (partitioned by ``_tbl``) and the four scalar
    params at ``path/params`` (one row). Plane values are never stored —
    :func:`hyperplanes` regenerates them bit-identically from the seed."""
    sigs, params = index
    sigs.write.mode("overwrite").partitionBy("_tbl").parquet(f"{path}/signatures")
    spark = sigs.sparkSession
    spark.createDataFrame(
        [(params["num_tables"], params["planes_per_table"], params["dim"], params["seed"])],
        "num_tables int, planes_per_table int, dim int, seed int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def lsh_load(spark, path: str) -> tuple[DataFrame, dict]:
    """Load an index written by :func:`lsh_save`; plugs into
    ``lsh_topk(index=...)`` unchanged. Only the one params row reaches
    the driver; the signature table stays a distributed scan."""
    row = spark.read.parquet(f"{path}/params").collect()[0]
    params = {
        "num_tables": int(row["num_tables"]),
        "planes_per_table": int(row["planes_per_table"]),
        "dim": int(row["dim"]),
        "seed": int(row["seed"]),
    }
    sigs = spark.read.parquet(f"{path}/signatures").select(
        "neighbor_id", F.col("_tbl").cast("int").alias("_tbl"), "_sig"
    )
    return sigs, params


def lsh_save_bucketed(
    index: tuple[DataFrame, dict],
    path: str,
    table_name: str,
    num_buckets: int = 32,
) -> None:
    """Persist an LSH index as a parquet table **bucketed and sorted by
    (_tbl, _sig)** — the layout :func:`ann_knn_graph` self-joins for
    candidate pairs. Bucketing makes that self-join co-partitioned: both
    branches scan the same bucketed files, their output partitioning
    already satisfies the join's distribution requirement, and Catalyst
    drops the Exchange (and, with the persisted sort, the Sorts) — at
    100 TB the per-run cost of the graph build falls from
    sign-the-corpus + full shuffle to a co-located merge join over the
    stored rows. Params land in the SIBLING directory ``{path}_params``
    — outside the table location, so the table's file listing never
    sees them; plane values are never stored — :func:`hyperplanes` regenerates them from the seed."""
    from ..functions.sinks import write_bucketed

    sigs, params = index
    spark = sigs.sparkSession
    write_bucketed(
        sigs.select("neighbor_id", "_tbl", "_sig"),
        table_name,
        ["_tbl", "_sig"],
        num_buckets,
        sort_cols=["_tbl", "_sig"],
        path=path,
    )
    # sibling path: overwriting the table clears {path}; the params
    # live next to it, not inside it
    spark.createDataFrame(
        [
            (
                params["num_tables"],
                params["planes_per_table"],
                params["dim"],
                params["seed"],
                int(num_buckets),
            )
        ],
        "num_tables int, planes_per_table int, dim int, seed int, num_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}_params")


def lsh_load_bucketed(spark, path: str, table_name: str) -> tuple[DataFrame, dict]:
    """Load a :func:`lsh_save_bucketed` store, re-registering the
    bucketed table when this session's catalog doesn't know it yet (the
    in-memory catalog forgets across processes; the DDL re-attach costs
    one metadata operation — bucket ids are recovered from the file
    names, no data pass). The returned signatures carry the bucketing
    spec, so ``ann_knn_graph(..., index=...)`` self-joins them
    exchange-free."""
    rows = spark.read.parquet(f"{path}_params").collect()
    if not rows:
        # corrupt/truncated sidecar = store unavailable (callers fall
        # back or rebuild) — not a programming error
        raise OSError(f"empty LSH params sidecar at {path}_params")
    row = rows[0]
    params = {
        "num_tables": int(row["num_tables"]),
        "planes_per_table": int(row["planes_per_table"]),
        "dim": int(row["dim"]),
        "seed": int(row["seed"]),
        "num_buckets": int(row["num_buckets"]),
    }
    if not spark.catalog.tableExists(table_name):
        spark.sql(
            f"CREATE TABLE {table_name} "
            "(neighbor_id BIGINT, `_tbl` INT, `_sig` BIGINT) USING parquet "
            "CLUSTERED BY (`_tbl`, `_sig`) SORTED BY (`_tbl`, `_sig`) "
            f"INTO {params['num_buckets']} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(table_name).select("neighbor_id", "_tbl", "_sig"), params


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_tables: int = 16,
    planes_per_table: int | None = None,
    dim: int | None = None,
    corpus_size_hint: int | None = None,
    multiprobe_bits: int = 0,
    seed: int = 42,
    index: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Approximate top-k via L independent hash tables.

    Per table: b-plane signature → bucket. Candidates = union over tables
    of same-bucket (query, corpus) pairs; candidates are exact-scored and
    two-phase-ranked. ``multiprobe_bits`` additionally probes buckets at
    Hamming distance 1 in each table (flip each of the first m bits) for
    extra recall without more tables.

    ``planes_per_table`` defaults to log2(N/64) — pass it (and ``dim``)
    explicitly in production; the fallbacks run one tiny count()/first()
    job each. At 100 TB: build the corpus (id, _tbl, _sig) table ONCE
    (``index=lsh_build(...)``, persisted via :func:`lsh_save` /
    :func:`lsh_load`, partitioned by table); per query batch only the
    query side is signed, the narrow signature rows shuffle, and
    vectors are fetched for candidate ids only.
    """
    if index is not None:
        c_sigs, params = index
        num_tables = params["num_tables"]
        planes_per_table = params["planes_per_table"]
        dim = params["dim"]
        seed = params["seed"]
    else:
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        if planes_per_table is None:
            n = corpus_size_hint if corpus_size_hint is not None else corpus.count()
            planes_per_table = default_planes_per_table(n)
    tables = [
        hyperplanes(dim, planes_per_table, seed=seed + 7919 * t)
        for t in range(num_tables)
    ]

    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", norm_col(F.col("_cv")))
    q_vec = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", norm_col(F.col("_qv")))

    if index is None:
        c_sigs = _table_sigs(c_vec, "neighbor_id", "_cv", tables)
    q_sigs = _table_sigs(q_vec, query_id_col, "_qv", tables)
    if multiprobe_bits > 0:
        probe = F.explode(
            F.array_distinct(
                F.array(
                    F.col("_sig"),
                    *[
                        F.col("_sig").bitwiseXOR(F.lit(1 << b).cast("long"))
                        for b in range(min(multiprobe_bits, planes_per_table))
                    ],
                )
            )
        )
        q_sigs = q_sigs.select(query_id_col, "_tbl", probe.alias("_sig"))

    candidates = (
        c_sigs.join(F.broadcast(q_sigs), ["_tbl", "_sig"])
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    scored = (
        candidates.join(c_vec, "neighbor_id")
        .join(F.broadcast(q_vec), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            _scored_cosine(
                F.col("_qn"), F.col("_cn"), F.col("_qv"), F.col("_cv")
            ).alias("cosine"),
        )
    )
    out = _topk_two_phase(scored, k, query_id_col)
    return out.select(query_id_col, "neighbor_id", "cosine", "rank")


# ---------------------------------------------------------------------------
# Exact all-pairs cosine (embedding near-dup)
# ---------------------------------------------------------------------------

def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 16,
    margin: float = 1e-9,
    max_block_rows: int = 4096,
    corpus_size_hint: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — **exact** (embedding-cosine
    near-dup; the oracle is the naive pairwise definition).

    Block-nested matmul: vectors hash into B buckets; each of the
    B(B+1)/2 bucket combinations becomes one task whose candidate
    generation is a single numpy ``X_a @ X_b.T`` over the two buckets —
    the O(N²·d) inner loop runs at BLAS speed instead of per-pair
    expression interpretation. Replication factor is B (each bucket
    meets every other), the standard all-pairs trade.

    **Block rows are size-capped**: each bucket is packed into ONE
    ``collect_list`` row, so B is raised to ``ceil(N / max_block_rows)``
    whenever the ``blocks`` argument would leave a bucket holding more
    than ``max_block_rows`` vectors (~2 MB rows at 64-dim doubles by
    default) — an unbounded bucket row would hit Spark's 2 GB row limit
    and task memory long before the O(N²) math becomes the problem. N
    comes from ``corpus_size_hint`` or one count() (negligible next to
    the pairwise work this operator exists to do).

    Candidates pass at ``threshold - margin`` and are then re-scored
    with the engine's canonical left-fold ``cosine_col`` — bit-identical
    to the SQL oracle's evaluation order, with ``margin`` (≫ any
    reordering error at realistic dims) guaranteeing no boundary pair
    is lost.

    Output: (id_a, id_b, cosine), id_a < id_b, cosine ≥ threshold.
    ``id_col`` may be any integral or string type (the output schema
    follows it); other types raise up front rather than failing with an
    opaque executor-side conversion error.
    """
    from pyspark.sql.types import IntegralType, StringType

    id_type = df.schema[id_col].dataType
    if isinstance(id_type, IntegralType):
        id_sql, np_dtype = "long", np.int64
    elif isinstance(id_type, StringType):
        id_sql, np_dtype = "string", object
    else:
        raise TypeError(
            f"cosine_pairs: id column {id_col!r} has type {id_type.simpleString()}; "
            "only integral or string ids are supported"
        )

    n = corpus_size_hint if corpus_size_hint is not None else df.count()
    blocks = max(blocks, -(-n // max_block_rows))  # ceil; cap bucket rows

    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v")).withColumn(
        "_b", F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks))
    )
    packed = v.groupBy("_b").agg(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("_v").alias("v"))).alias("items")
    )
    combos = (
        packed.select(F.col("_b").alias("_ba"), F.col("items").alias("items_a"))
        .join(
            packed.select(F.col("_b").alias("_bb"), F.col("items").alias("items_b")),
            F.col("_ba") <= F.col("_bb"),
        )
    )
    cut = threshold - margin

    def block_pairs(batches):
        for pdf in batches:
            ids_a, ids_b = [], []
            for items_a, items_b in zip(pdf["items_a"], pdf["items_b"]):
                ia = np.array([x["id"] for x in items_a], dtype=np_dtype)
                ib = np.array([x["id"] for x in items_b], dtype=np_dtype)
                xa = np.vstack([np.asarray(x["v"], dtype=np.float64) for x in items_a])
                xb = np.vstack([np.asarray(x["v"], dtype=np.float64) for x in items_b])
                na = np.linalg.norm(xa, axis=1)
                nb = np.linalg.norm(xb, axis=1)
                c = (xa @ xb.T) / np.outer(na, nb)
                hit_a, hit_b = np.nonzero(c >= cut)
                pa, pb = ia[hit_a], ib[hit_b]
                lo = np.minimum(pa, pb)
                hi = np.maximum(pa, pb)
                keep = lo < hi  # drops self-pairs; same-block dups deduped below
                ids_a.append(lo[keep])
                ids_b.append(hi[keep])
            ids_a = np.concatenate(ids_a) if ids_a else np.empty(0, dtype=np_dtype)
            ids_b = np.concatenate(ids_b) if ids_b else np.empty(0, dtype=np_dtype)
            yield pd.DataFrame({"id_a": ids_a, "id_b": ids_b})

    cands = (
        combos.mapInPandas(block_pairs, f"id_a {id_sql}, id_b {id_sql}")
        .distinct()  # same-block combos emit (a,b) and (b,a) hits once each
    )
    vn = v.withColumn("_n", norm_col(F.col("_v")))
    va = vn.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    vb = vn.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            _scored_cosine(F.col("_na"), F.col("_nb"), F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate kNN
# ---------------------------------------------------------------------------

def _spherical_kmeans(
    x: np.ndarray, k: int, seed: int = 42, max_iter: int = 10
) -> np.ndarray:
    """Driver-side spherical k-means (kmeans++ seeding, Lloyd updates,
    centroids renormalized to the unit sphere each step). ``x`` must be
    unit rows; on the sphere argmax-dot assignment ≡ min-euclidean, so
    every step is one BLAS matmul. Input is a BOUNDED training sample
    (≤ a few thousand rows), never the corpus."""
    n = x.shape[0]
    k = min(k, n)
    rng = np.random.RandomState(seed)
    centers = x[rng.randint(n)][None, :]
    d = np.maximum(1.0 - x @ centers[0], 0.0)  # kmeans++ on cosine distance
    for _ in range(1, k):
        tot = d.sum()
        i = rng.choice(n, p=d / tot) if tot > 0 else rng.randint(n)
        centers = np.vstack([centers, x[i]])
        d = np.minimum(d, np.maximum(1.0 - x @ x[i], 0.0))
    for _ in range(max_iter):
        a = (x @ centers.T).argmax(axis=1)
        new = np.vstack(
            [x[a == j].sum(axis=0) if (a == j).any() else centers[j] for j in range(k)]
        )
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        new = new / norms
        if np.allclose(new, centers, atol=1e-9):
            return new
        centers = new
    return centers


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    sample_target: int | None = None,
    corpus_size_hint: int | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Build the IVF index once: returns ``(assigned, centroids)`` where
    ``assigned`` is the inverted file (neighbor_id, _cell) and
    ``centroids`` is the nlist × dim coarse quantizer.

    The quantizer fits on a BOUNDED sample — ``sample_target`` rows
    (default 256·nlist, the standard IVF training heuristic) — collected
    to the driver and clustered with dense numpy Lloyd steps. At 100 TB
    you never run distributed ML training inside a query: the sample
    collect is a few MB regardless of corpus size, and ``assigned`` is
    written/persisted once (partitioned by ``_cell``) then reused by
    every query batch. ``corpus_size_hint`` sizes the sampling fraction
    without a count() job; omit it and build pays one count().
    """
    from pyspark.sql.functions import pandas_udf

    target = sample_target if sample_target is not None else 256 * nlist
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    n = corpus_size_hint if corpus_size_hint is not None else c_vec.count()
    sampled = c_vec.select("_cv")
    if n > target:
        # oversample 2x so the post-sample limit() almost never truncates
        # below target, then hard-bound the driver collect regardless.
        sampled = sampled.sample(fraction=min(1.0, 2.0 * target / n), seed=seed)
    rows = sampled.limit(target).collect()
    x = np.asarray([r["_cv"] for r in rows], dtype=np.float64)
    xn = np.linalg.norm(x, axis=1, keepdims=True)
    xn[xn == 0.0] = 1.0
    centroids = _spherical_kmeans(x / xn, nlist, seed=seed, max_iter=max_iter)

    @pandas_udf("int")
    def assign_cell(emb: pd.Series) -> pd.Series:
        v = np.vstack(emb.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return pd.Series(((v / norms) @ centroids.T).argmax(axis=1).astype(np.int32))

    assigned = c_vec.select(
        "neighbor_id", assign_cell(F.col("_cv")).alias("_cell")
    )
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    index: tuple[DataFrame, np.ndarray] | None = None,
    corpus_size_hint: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: a sample-fit spherical-k-means coarse
    quantizer partitions the corpus into ``nlist`` cells; each query
    exact-scores only the ``nprobe`` cells nearest its own vector — the
    classic FAISS-style inverted-file layout.

    Pass ``index=ivf_build(...)`` to amortize the index across query
    batches (the production shape); without it one index is built
    inline from a bounded sample — still no distributed training job.
    """
    from pyspark.sql.functions import pandas_udf

    if index is None:
        index = ivf_build(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            nlist=nlist,
            seed=seed,
            max_iter=max_iter,
            corpus_size_hint=corpus_size_hint,
        )
    assigned, centroids = index

    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", norm_col(F.col("_cv")))
    q_vec = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", norm_col(F.col("_qv")))

    @pandas_udf("array<int>")
    def probe_cells(emb: pd.Series) -> pd.Series:
        x = np.vstack(emb.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        dots = (x / norms) @ centroids.T
        order = np.argsort(-dots, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    q_probed = q_vec.select(
        query_id_col, F.explode(probe_cells(F.col("_qv"))).alias("_cell")
    )
    candidates = assigned.join(F.broadcast(q_probed), "_cell")
    if exclude_self:
        # right semantics ONLY when queries are corpus rows (kNN graph);
        # external query streams share no id namespace with the corpus —
        # an id collision there must NOT drop a real neighbor, so
        # serving paths pass exclude_self=False.
        candidates = candidates.filter(F.col(query_id_col) != F.col("neighbor_id"))
    candidates = candidates.select(query_id_col, "neighbor_id").distinct()
    scored = (
        candidates.join(c_vec, "neighbor_id")
        .join(F.broadcast(q_vec), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            _scored_cosine(
                F.col("_qn"), F.col("_cn"), F.col("_qv"), F.col("_cv")
            ).alias("cosine"),
        )
    )
    out = _topk_two_phase(scored, k, query_id_col)
    return out.select(query_id_col, "neighbor_id", "cosine", "rank")


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    tau: float = 0.95,
    seed: int = 42,
    corpus_size_hint: int | None = None,
    index: tuple[DataFrame, np.ndarray] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with a coarse quantizer, then
    dropping within each cluster any item whose cosine similarity to an
    already-kept item reaches ``tau``.

    The cluster step reuses :func:`ivf_build` (sample-fit spherical
    k-means — no distributed training job; pass ``index=`` to amortize
    one build across semantic-dedup + IVF-search over the same corpus).
    Within a cluster the keep/drop decision is a greedy sweep in
    ascending id order — deterministic regardless of partitioning, and
    exactly reproducible by a sequential reference implementation.

    Scale shape: each cluster becomes ONE ``applyInPandas`` group whose
    work is a single m×m BLAS gram matrix. The paper's own scaling rule
    applies here: grow ``nlist`` ∝ corpus size so the expected cluster
    size m = N/nlist stays bounded (they used 50k clusters for LAION at
    N≈2e9 ⇒ m≈40k); the shuffle moves each vector exactly once, keyed
    by cluster id.

    Returns (``id_col``, cell, kept, max_prior_sim) — one row per corpus
    item; ``max_prior_sim`` is the item's best cosine against the items
    kept before it (-1.0 for the first item of a cell), rounded to 6 dp
    so the boundary is engine-stable.
    """
    if index is None:
        index = ivf_build(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            nlist=nlist,
            seed=seed,
            corpus_size_hint=corpus_size_hint,
        )
    assigned, _ = index

    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    cell_rows = assigned.join(c_vec, "neighbor_id")

    out_schema = (
        f"{id_col} long, cell int, kept boolean, max_prior_sim double"
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        x = np.vstack(pdf["_cv"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        xn = x / norms
        gram = xn @ xn.T  # one BLAS call; m is bounded by nlist ∝ N
        m = len(pdf)
        kept = np.zeros(m, dtype=bool)
        best = np.full(m, -1.0)
        kept_idx: list[int] = []
        for i in range(m):
            if kept_idx:
                best[i] = gram[i, kept_idx].max()
            if best[i] < tau:
                kept[i] = True
                kept_idx.append(i)
        return pd.DataFrame(
            {
                id_col: pdf["neighbor_id"],
                "cell": pdf["_cell"].astype("int32"),
                "kept": kept,
                "max_prior_sim": np.round(best, 6),
            }
        )

    return cell_rows.groupBy("_cell").applyInPandas(dedup_cell, out_schema)


def semantic_dedup_hash_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    tau: float = 0.95,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup with a **deterministic, SQL-expressible** cell assignment
    — the oracle-backed sibling of :func:`semantic_dedup` (VERDICT r5
    #3). The sample-fit k-means quantizer there is oracle-infeasible
    (driver-side numpy RNG state); here cells are the ``num_planes``-bit
    random-hyperplane signature (:func:`hyperplanes` — closed-form
    scrambled constants), which BOTH engines can evaluate: similar
    vectors still share cells (it is exactly one LSH table), and the
    greedy within-cell sweep is unchanged SemDeDup semantics.

    Bit-parity engineering (same discipline as
    :func:`brute_force_topk_blocked`): the cell signature's plane dots
    and the sweep's pairwise cosines accumulate with an explicit
    left-to-right loop over the dimension from float32→float64 widened
    inputs, finished as dot/(n_a·n_b) — the identical IEEE sequence as
    DuckDB's ``list_dot_product`` / ``list_cosine_similarity``, so every
    kept/dropped decision and every ``max_prior_sim`` is the same double
    on both sides. The DuckDB side replays the greedy order as a
    recursive CTE advancing one (cell, position) per step with the kept
    set carried as a list column. The kept decision compares an exact
    double against ``tau``; like the pagerank oracle, a value landing
    within combine-order noise (~1e-15) of the boundary could flip one
    side — acknowledged margin, far below any realistic mass.

    Returns (``id_col``, cell, kept, max_prior_sim) with
    ``max_prior_sim`` UNROUNDED (-1.0 for a cell's first item); the
    registry query rounds to 6 dp on both sides.

    Scale shape: identical to :func:`semantic_dedup` — one shuffle
    keyed by cell, one ``applyInPandas`` group per cell whose work is
    the m×m gram; grow ``num_planes`` with log2(N) so cells stay
    bounded.
    """
    from pyspark.sql.functions import pandas_udf

    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = np.asarray(hyperplanes(dim, num_planes, seed=seed), dtype=np.float64)

    @pandas_udf("int")
    def cell_of(emb: pd.Series) -> pd.Series:
        x = np.vstack(emb.to_numpy()).astype(np.float64)
        sig = np.zeros(len(x), dtype=np.int32)
        for b in range(planes.shape[0]):
            dot = np.zeros(len(x))
            for j in range(x.shape[1]):  # left-to-right fold, = SQL's
                dot += x[:, j] * planes[b, j]
            sig |= (dot >= 0.0).astype(np.int32) << b
        return pd.Series(sig)

    rows = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cell", cell_of(F.col("_cv")))

    out_schema = f"{id_col} long, cell int, kept boolean, max_prior_sim double"

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        x = np.vstack(pdf["_cv"].to_numpy()).astype(np.float64)
        m, d = x.shape
        dot = np.zeros((m, m))
        nrm = np.zeros(m)
        for j in range(d):  # same fold order as the signature/list_* kernels
            dot += np.outer(x[:, j], x[:, j])
            nrm += x[:, j] * x[:, j]
        nrm = np.sqrt(nrm)
        if np.any(nrm == 0.0):
            bad = pdf["_id"].to_numpy()[nrm == 0.0][:5].tolist()
            raise ValueError(
                "zero-norm embedding(s) (cosine is undefined); "
                f"offending ids include {bad}"
            )
        gram = dot / np.outer(nrm, nrm)
        kept = np.zeros(m, dtype=bool)
        best = np.full(m, -1.0)
        kept_idx: list[int] = []
        for i in range(m):
            if kept_idx:
                best[i] = gram[i, kept_idx].max()
            if best[i] < tau:
                kept[i] = True
                kept_idx.append(i)
        return pd.DataFrame(
            {
                id_col: pdf["_id"],
                "cell": pdf["_cell"].astype("int32"),
                "kept": kept,
                "max_prior_sim": best,
            }
        )

    return rows.groupBy("_cell").applyInPandas(dedup_cell, out_schema)


def _blocked_candidates(
    c: DataFrame,
    q_ids: "np.ndarray",
    qm: "np.ndarray",
    qn: "np.ndarray",
    k: int,
    score_budget: int,
    query_id_col: str,
) -> DataFrame:
    """One query block's candidate stream: broadcast the block, scan the
    corpus once through the Arrow kernel, emit per-batch local top-k rows.
    Factored out so each block binds its OWN broadcast (no closure-capture
    of a loop variable)."""
    sess = c.sparkSession
    bq = sess.sparkContext.broadcast((q_ids, qm, qn))

    def score_batches(iterator):
        q_ids, qm, qn = bq.value
        kk_target = k
        # cap the score-matrix footprint: rows-per-chunk × Q ≤ score_budget
        # doubles (256 MB default) regardless of Arrow batch or query-set size
        chunk_rows = max(1, score_budget // max(1, len(q_ids)))
        for whole in iterator:
            for start in range(0, len(whole), chunk_rows):
                pdf = whole.iloc[start : start + chunk_rows]
                m = len(pdf)
                if m == 0:
                    continue
                x = np.vstack(pdf["_cv"].to_numpy()).astype(np.float64)
                ids = pdf["neighbor_id"].to_numpy()
                dot = np.zeros((m, len(q_ids)))
                xn = np.zeros(m)
                for j in range(x.shape[1]):
                    dot += np.outer(x[:, j], qm[:, j])
                    xn += x[:, j] * x[:, j]
                xn = np.sqrt(xn)
                if np.any(xn == 0.0):
                    # The fold path fails loudly here too (ANSI
                    # DIVIDE_BY_ZERO); a silent isfinite() filter would
                    # make the two implementations disagree on degenerate
                    # inputs (ADVICE r4). Zero-norm vectors are outside
                    # the cosine contract — reject them identically.
                    bad = ids[xn == 0.0][:5].tolist()
                    raise ValueError(
                        "zero-norm embedding(s) in corpus (cosine is "
                        f"undefined); offending ids include {bad}"
                    )
                cos = dot / (qn[None, :] * xn[:, None])
                # self-matches can never win
                cos[ids[:, None] == q_ids[None, :]] = -np.inf
                kk = min(kk_target, m)
                # per-query local cut at the kth value, keeping boundary ties
                # (vectorized; exact ordering happens in the global rank)
                thresh = -np.partition(-cos, kk - 1, axis=0)[kk - 1]
                keep = (cos >= thresh[None, :]) & np.isfinite(cos)
                rows, cols = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        query_id_col: q_ids[cols],
                        "neighbor_id": ids[rows],
                        "cosine": cos[rows, cols],
                    }
                )

    candidates = c.mapInPandas(
        score_batches, f"{query_id_col} long, neighbor_id long, cosine double"
    )
    return candidates, bq


def brute_force_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    score_budget: int = 32_000_000,
    query_block_rows: int = 65_536,
) -> DataFrame:
    """Exact cosine top-k, Arrow-batched kernel — bit-identical to
    :func:`brute_force_topk` but ~20× faster when the query set is large
    (the kNN-graph case, queries == corpus), where the per-pair
    ``zip_with``/``aggregate`` fold turns into interpreted expression
    evaluation over N·Q pairs.

    Bit parity is engineered, not hoped for: the kernel accumulates the
    dot product and both norms with an explicit loop over the dimension,
    adding ``x_j·q_j`` terms left-to-right from the same float32→float64
    widened inputs — the identical IEEE operation sequence as the
    ``aggregate`` fold (and as DuckDB's list_cosine_similarity), so
    every cosine is the same double, and the same ``dot/(qn·cn)``
    expression finishes it (multiplication commutes exactly in IEEE).
    Zero-norm vectors are outside the contract in BOTH paths: the fold
    raises ANSI DIVIDE_BY_ZERO and this kernel raises ``ValueError``
    naming the offending ids — loud, consistent rejection instead of a
    silent filter that would let the implementations diverge.

    Scale shape: the query side is consumed in bounded blocks of
    ``query_block_rows`` via ``toLocalIterator`` — driver memory holds
    ONE block (not the whole query set) at a time, and each executor
    broadcast is ≤ block_rows·d doubles. Per block the corpus streams
    through ``mapInPandas`` once and each Arrow batch emits only its
    local top-k per query (plus boundary ties), so the final exact rank
    sees ≤ (k + ties)·batches rows per query, never the N·Q cross
    product. Multi-block runs eagerly materialize each block's (small)
    candidate set with ``checkpoints.stage`` and then destroy that block's
    broadcast, so total broadcast footprint stays O(block), not O(Q) —
    this is what makes queries == corpus (the kNN-graph case) viable at
    scale: O(N/B) corpus scans, never O(N·d) driver or executor memory.
    Total scored work is O(N·Q·d) regardless of blocking — inherent to
    exact kNN; the LSH/IVF paths are the sub-quadratic alternatives.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    sess = corpus.sparkSession
    # The kernel's parallelism is the corpus partition count. A small
    # corpus arrives as one parquet split → one single-threaded numpy
    # task; widen it to the cluster's parallelism. A corpus already wider
    # than the cluster keeps its layout (no shuffle at scale, where the
    # scan is many splits anyway).
    par = sess.sparkContext.defaultParallelism
    if c.rdd.getNumPartitions() < par:
        c = c.repartition(par)

    def block_arrays(rows):
        ids = np.asarray([r[0] for r in rows], dtype=np.int64)
        mat = np.asarray([r[1] for r in rows], dtype=np.float64)
        d = mat.shape[1]
        nrm = np.zeros(len(rows))
        for j in range(d):
            nrm += mat[:, j] * mat[:, j]
        if np.any(nrm == 0.0):
            bad = ids[nrm == 0.0][:5].tolist()
            raise ValueError(
                "zero-norm embedding(s) in query set (cosine is "
                f"undefined); offending ids include {bad}"
            )
        return ids, mat, np.sqrt(nrm)

    # Probe with limit(block+1).collect(): ONE parallel job, driver holds
    # at most block+1 rows. If everything fits a single block we skip the
    # toLocalIterator path entirely — that iterator runs partitions as
    # sequential jobs and costs more than the whole scan for small query
    # sets. Only genuinely multi-block inputs pay the streaming protocol.
    blocks: list[DataFrame] = []
    probe = (
        queries.select(query_id_col, vec_col)
        .limit(query_block_rows + 1)
        .collect()
    )
    if 0 < len(probe) <= query_block_rows:
        # Single-block fast path: lazy, no checkpoint — identical plan to
        # the pre-chunking implementation for bounded query sets.
        cand, _ = _blocked_candidates(c, *block_arrays(probe), k, score_budget, query_id_col)
        blocks.append(cand)
    elif len(probe) > query_block_rows:
        # Stream query rows to the driver one partition at a time; never
        # more than one block resident.
        del probe
        buf: list = []
        it = queries.select(query_id_col, vec_col).toLocalIterator()
        for row in it:
            buf.append(row)
            if len(buf) >= query_block_rows:
                blocks.append(_materialize_block(c, block_arrays(buf), k, score_budget, query_id_col))
                buf = []
        if buf:
            blocks.append(_materialize_block(c, block_arrays(buf), k, score_budget, query_id_col))

    if not blocks:
        schema = f"{query_id_col} long, neighbor_id long, cosine double, rank int"
        return sess.createDataFrame([], schema)

    candidates = blocks[0]
    for b in blocks[1:]:
        candidates = candidates.unionByName(b)
    w_global = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
    )


def _materialize_block(c, arrays, k, score_budget, query_id_col):
    """Run one block's corpus scan NOW (eager ``stage`` of the
    ≤(k+ties)·batches·block_rows candidate rows), then free the block's
    broadcast so concurrent executor memory stays O(one block)."""
    cand, bq = _blocked_candidates(c, *arrays, k, score_budget, query_id_col)
    out = stage(cand)
    try:
        bq.destroy()
    except Exception:
        pass
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-bounded ANN codes
# ---------------------------------------------------------------------------

def _lloyd_kmeans(x: np.ndarray, k: int, seed: int, max_iter: int = 15):
    """Plain L2 Lloyd k-means with deterministic seeded init — runs per PQ
    subspace on the driver-side training sample (bounded rows × dsub
    dims, so the dense distance matrix stays a few MB)."""
    rng = np.random.RandomState(seed)
    centers = x[rng.permutation(len(x))[:k]].copy()
    for _ in range(max_iter):
        d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        new = np.vstack(
            [x[a == j].mean(axis=0) if (a == j).any() else centers[j] for j in range(k)]
        )
        if np.allclose(new, centers, atol=1e-9):
            return new
        centers = new
    return centers


def pq_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample_target: int | None = None,
    corpus_size_hint: int | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Product-quantize the corpus: returns ``(codes, codebooks)`` where
    ``codes`` is (neighbor_id, _codes array<int>) — one ``m``-byte-ish
    code word per vector — and ``codebooks`` is the (m, ksub, d/m)
    per-subspace quantizer (Jégou et al. 2011).

    Why this exists at 100 TB: float32 embeddings at 1e11 × 64 dims are
    ~25 TB of vector payload; PQ codes at m=8, ksub=16 are 8 small ints
    per vector (~32× smaller even unpacked), so the SCAN side of ANN fits
    in a fraction of the IO and memory budget, at the price of
    approximate scores. Training follows the same discipline as
    ``ivf_build``: a BOUNDED sample (default 256·ksub rows) collected to
    the driver, per-subspace Lloyd k-means in dense numpy — never a
    distributed ML job inside a query; encoding is one Arrow-batched
    pass over the corpus. Vectors are L2-normalized before splitting so
    the asymmetric scores approximate COSINE (dot of unit vectors).
    """
    from pyspark.sql.functions import pandas_udf

    target = sample_target if sample_target is not None else 256 * ksub
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    n = corpus_size_hint if corpus_size_hint is not None else c_vec.count()
    sampled = c_vec.select("_cv")
    if n > target:
        sampled = sampled.sample(fraction=min(1.0, 2.0 * target / n), seed=seed)
    rows = sampled.limit(target).collect()
    x = np.asarray([r["_cv"] for r in rows], dtype=np.float64)
    xn = np.linalg.norm(x, axis=1, keepdims=True)
    xn[xn == 0.0] = 1.0
    x = x / xn
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    codebooks = np.stack(
        [
            _lloyd_kmeans(x[:, j * dsub : (j + 1) * dsub], ksub, seed + j)
            for j in range(m)
        ]
    )  # (m, ksub, dsub)

    @pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        v = np.vstack(emb.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        v = v / norms
        codes = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            sub = v[:, j * dsub : (j + 1) * dsub]
            # argmin ||s - c||^2 = argmax (s.c - ||c||^2/2): one matmul
            cb = codebooks[j]
            scores = sub @ cb.T - 0.5 * (cb * cb).sum(axis=1)[None, :]
            codes[:, j] = scores.argmax(axis=1)
        return pd.Series(list(codes))

    codes_df = c_vec.select("neighbor_id", encode(F.col("_cv")).alias("_codes"))
    return codes_df, codebooks


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    rerank_factor: int = 8,
    index: tuple[DataFrame, np.ndarray] | None = None,
    corpus_size_hint: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k with exact refinement (the FAISS
    ``IndexRefineFlat`` shape): each query precomputes an (m × ksub)
    lookup table of subspace dot products against the codebooks; a
    corpus vector's approximate cosine is the sum of m table entries
    selected by its code — no float vector is touched during the scan.
    The PQ scan keeps a ``k·rerank_factor`` shortlist per query; only
    that shortlist joins back to the real vectors for an exact cosine
    re-rank, so returned cosines are EXACT and quantization error only
    costs recall when a true neighbor falls outside the shortlist.

    Approximate by design: recall vs the exact scan is asserted in
    tests, the same contract as the LSH/IVF paths. Queries are a
    bounded set (broadcast LUTs); the corpus-sized scan streams over
    the CODES table — the point is that codes are ~32× smaller than
    the vectors they index, so at 100 TB the ANN scan reads a few TB
    of codes and the refinement reads shortlist·d floats, not the
    corpus.

    Output: (query_id, neighbor_id, cosine, rank) — same shape as
    ``brute_force_topk``.
    """
    if index is None:
        index = pq_build(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            m=m,
            ksub=ksub,
            seed=seed,
            corpus_size_hint=corpus_size_hint,
        )
    codes_df, codebooks = index
    mm, _ksub, dsub = codebooks.shape
    shortlist_k = k * max(1, rerank_factor)

    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    qm = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    qu = qm / qn
    # (Q, m, ksub) lookup tables: q_sub . codebook entries
    lut = np.einsum("qmd,mkd->qmk", qu.reshape(len(qu), mm, dsub), codebooks)
    sess = corpus.sparkSession
    blut = sess.sparkContext.broadcast((q_ids, lut))

    def score_codes(iterator):
        q_ids, lut = blut.value
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            codes = np.vstack(pdf["_codes"].to_numpy())  # (n, m)
            ids = pdf["neighbor_id"].to_numpy()
            scores = np.zeros((n, len(q_ids)))
            for j in range(codes.shape[1]):
                scores += lut[:, j, codes[:, j]].T
            scores[ids[:, None] == q_ids[None, :]] = -np.inf
            kk = min(shortlist_k, n)
            thresh = -np.partition(-scores, kk - 1, axis=0)[kk - 1]
            keep = (scores >= thresh[None, :]) & np.isfinite(scores)
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    query_id_col: q_ids[cols],
                    "neighbor_id": ids[rows],
                    "approx_cosine": scores[rows, cols],
                }
            )

    candidates = codes_df.mapInPandas(
        score_codes, f"{query_id_col} long, neighbor_id long, approx_cosine double"
    )
    w_pq = Window.partitionBy(query_id_col).orderBy(
        F.desc("approx_cosine"), F.asc("neighbor_id")
    )
    shortlist = (
        candidates.withColumn("_pqr", F.row_number().over(w_pq))
        .filter(F.col("_pqr") <= shortlist_k)
        .select(query_id_col, "neighbor_id")
    )

    # exact refinement on the shortlist only — same canonical fold as
    # brute_force_topk, so returned cosines are bit-identical to exact
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", norm_col(F.col("_cv")))
    q_vec = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", norm_col(F.col("_qv")))
    scored = (
        shortlist.join(c_vec, "neighbor_id")
        .join(F.broadcast(q_vec), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            _scored_cosine(
                F.col("_qn"), F.col("_cn"), F.col("_qv"), F.col("_cv")
            ).alias("cosine"),
        )
    )
    w_global = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w_global)).filter(
        F.col("rank") <= k
    )


def ivf_save(index: tuple[DataFrame, np.ndarray], path: str) -> None:
    """Persist an IVF index built by :func:`ivf_build` as two parquet
    datasets: the inverted file at ``path/assigned`` (partitioned by
    ``_cell`` so a query's nprobe cells prune to their own files at
    read time) and the coarse quantizer at ``path/centroids`` (nlist
    rows). This is the production index lifecycle — build once over
    the corpus, write once, then every query batch loads the quantizer
    (a few KB to the driver) and scans only the probed cell partitions;
    the corpus is never re-clustered per query.
    """
    assigned, centroids = index
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(
        f"{path}/assigned"
    )
    spark = assigned.sparkSession
    rows = [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_load(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """Load an IVF index written by :func:`ivf_save` — the returned pair
    plugs into ``ivf_topk(index=...)`` / ``semantic_dedup(index=...)``
    unchanged. Only the nlist centroid rows are collected; the inverted
    file stays a distributed scan."""
    assigned = spark.read.parquet(f"{path}/assigned").select(
        "neighbor_id", F.col("_cell").cast("int").alias("_cell")
    )
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    centroids = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
    return assigned, centroids


def pca_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_components: int = 8,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA over an embedding column without any distributed ML
    training job: each partition reduces to one (count, Σx, Σxxᵀ)
    moment row via ``mapInPandas`` (numpy BLAS), the driver combines
    the ≤ num_partitions moment rows — d + d² doubles each, size
    independent of N — and solves the d×d eigenproblem locally.
    Returns (mean d, components k×d, explained_variance k).

    Sign convention: each component is flipped so its largest-magnitude
    coordinate is positive — eigenvectors are defined up to sign, and
    pinning it makes projections reproducible across partitionings and
    BLAS builds (the numpy-reference pytest relies on this).

    Moments accumulate **about a pilot point** (the first row's vector):
    cov = E[(x−p)(x−p)ᵀ] − (μ−p)(μ−p)ᵀ. The naive E[xxᵀ] − μμᵀ form
    cancels catastrophically when |μ| ≫ σ (ADVICE r5); shifting by any
    in-distribution point makes both terms O(σ²) so the subtraction
    loses no precision, at zero extra passes (the pilot rides the same
    ``first()`` probe that reads the dimension).

    This is the preprocessing step SemDeDup-style pipelines run before
    quantization/clustering; at 100 TB it is one corpus scan whose
    shuffle is the moment rows, never vectors.
    """
    import pandas as pd

    pilot = np.asarray(
        corpus.select(_as_double(F.col(vec_col)).alias("_v")).first()["_v"],
        dtype=np.float64,
    )
    d = len(pilot)

    def moments(batches):
        n = 0
        s = np.zeros(d)
        ss = np.zeros((d, d))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["_v"].to_numpy()).astype(np.float64) - pilot
            n += len(x)
            s += x.sum(axis=0)
            ss += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = (
        corpus.select(_as_double(F.col(vec_col)).alias("_v"))
        .mapInPandas(moments, "n long, s array<double>, ss array<double>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in parts], axis=0)
    mean_shift = s / n  # μ − p
    mean = pilot + mean_shift
    cov = ss / n - np.outer(mean_shift, mean_shift)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T
    evar = evals[order]
    # pin sign: largest-|coordinate| positive (ties -> lowest index wins)
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, evar


def pca_project(
    corpus: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto fitted components: (id, pca array<double>).
    The k×d component matrix rides the Arrow UDF closure (a few KB);
    projection is one corpus scan, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    m = np.asarray(mean, dtype=np.float64)
    c = np.asarray(components, dtype=np.float64)

    @pandas_udf("array<double>")
    def proj(emb: pd.Series) -> pd.Series:
        x = np.vstack(emb.to_numpy()).astype(np.float64)
        return pd.Series(list(((x - m) @ c.T)))

    return corpus.select(
        F.col(id_col), proj(_as_double(F.col(vec_col))).alias(out_col)
    )


def lsh_self_candidates(
    sigs: DataFrame, max_bucket: int | None = None, directed: bool = True
) -> DataFrame:
    """Candidate (src_id, dst_id) pairs from a signature-table self-join
    on the bucket key (_tbl, _sig) — the candidate generator of
    :func:`ann_knn_graph`'s LSH method, exposed so the plan pytest pins
    the exact construction the operator runs. Over a
    :func:`lsh_save_bucketed` store both branches scan the same bucketed
    files and the join plans WITHOUT an Exchange; the only shuffle left
    is the pair-dedup's.

    ``max_bucket`` (opt-in) drops buckets holding more than that many
    ids before the join — the standard production-LSH guard against
    mega-buckets: a bucket of B ids contributes B² candidate pairs, so
    a corpus with dense near-identical clusters (measured: 10 replicas
    per vector → candidate volume ×100, the LSH build 2× SLOWER than
    the exact graph it replaces) degrades quadratically while normal
    buckets stay small. Pairs inside a dropped bucket usually co-occur
    in another table's (finer) bucket; edges lost outright are
    cosine≈1 duplicate edges — which exact dedup upstream should have
    removed anyway (the pipeline order the curation capstones use).
    Sizing runs as one partial-aggregated groupBy on the same bucket
    key, exchange-free over the bucketed store.

    ``directed=False`` emits each candidate pair ONCE (src_id < dst_id)
    instead of in both orientations. The bucket self-join is symmetric
    — (a, b) co-buckets iff (b, a) does — so the directed set is
    exactly the unordered set mirrored; callers that score pairs with a
    symmetric measure (cosine) should take the unordered half, score
    it once, and mirror the scored rows, halving the candidate dedup
    shuffle and the refinement work at any scale."""
    if max_bucket is not None:
        keep = (
            sigs.groupBy("_tbl", "_sig")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket)
            .select("_tbl", "_sig")
        )
        sigs = sigs.join(keep, ["_tbl", "_sig"], "left_semi")
    a = sigs.select(F.col("_id").alias("src_id"), "_tbl", "_sig")
    b = sigs.select(F.col("_id").alias("dst_id"), "_tbl", "_sig")
    cond = (
        F.col("src_id") < F.col("dst_id")
        if not directed
        else F.col("src_id") != F.col("dst_id")
    )
    return (
        a.join(b, ["_tbl", "_sig"])
        .filter(cond)
        .select("src_id", "dst_id")
        .distinct()
    )


def ann_knn_graph(
    corpus: DataFrame,
    k: int = 5,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 16,
    planes_per_table: int | None = None,
    dim: int | None = None,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    corpus_size_hint: int | None = None,
    index: tuple[DataFrame, dict] | tuple[DataFrame, np.ndarray] | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate kNN **graph** (every corpus vector is a query) with
    exact-cosine refinement — the sub-quadratic replacement for
    ``brute_force_topk_blocked(emb, emb)`` as the input to graph
    analytics (PageRank / LPA / triangles / BFS), where the exact
    graph's O(N²·d) scored work is the one remaining scale-killer.

    This is NOT ``lsh_topk``/``ivf_topk`` with ``queries=corpus``: those
    broadcast the query side (right for bounded query sets, O(N·d)
    executor memory when the query set IS the corpus). Here both sides
    are corpus-sized, so candidate generation is a **shuffle self-join
    on the bucket key** — the only memory bound is a bucket's candidate
    fan-out, and no vector is ever broadcast:

    - ``method="lsh"``: the (id, table, signature) rows self-join on
      (table, signature); per-neighbor recall is the multi-table
      1-(1-p^b)^L curve. Pass ``index=`` an ``(signatures, params)``
      pair from :func:`lsh_build` / :func:`lsh_load_bucketed` to skip
      the per-run corpus signing entirely; when the signatures come
      from the :func:`lsh_save_bucketed` layout (bucketed + sorted by
      (_tbl, _sig)) the self-join is co-partitioned — **exchange-free**,
      pinned by the plan pytest. Without an index the signatures are
      computed inline and staged (the single-run stand-in).
      ``max_bucket`` opts into the mega-bucket guard (see
      :func:`lsh_self_candidates`) for corpora with dense
      near-identical clusters.
    - ``method="ivf"``: the inverted file (id, cell) joins the probe
      rows (id, cell — each vector's ``nprobe`` nearest cells, assigned
      by the bounded-sample quantizer riding the Arrow UDF closure).
      Recall is controlled by nprobe/nlist; candidate volume per cell is
      |probes into cell| × |cell|, sub-quadratic with nlist ∝ N. Pass
      ``index=ivf_build(...)`` to reuse a persisted index
      (:func:`ivf_save` / :func:`ivf_load`).
    - ``method="exact"``: delegates to :func:`brute_force_topk_blocked`
      — the oracle-parity path, compute-inherent O(N²·d).

    Candidates are scored with the canonical exact cosine (two shuffle
    joins fetch src/dst vectors by id) and two-phase-ranked, so emitted
    cosines are EXACT and approximation only costs recall — which the
    graph-overlap pytest pins (edge overlap ≥0.9 vs exact on the
    fixture corpus, PageRank rank-correlation ≥0.95).

    Refinement stays JVM-side deliberately: an Arrow-batched numpy
    scorer was measured HEAD-TO-HEAD against the interpreted
    zip_with/aggregate fold at sf0.1 (clean sessions, 3 runs each) and
    LOST — 4.1-4.6 s vs 2.6-3.2 s on the 64-d graph, parity on the
    168-d series profiles — because shipping both vectors of every
    candidate pair through Arrow (pairs × 2·dim × 8 B) costs more than
    interpreting the fold; the vectorized-kernel win only applies when
    Python already holds the vectors (the blocked exact scan), not when
    they must be exported per pair.

    Output: (src_id, rank, dst_id, cosine) — the ``knn_graph`` shape.
    """
    if method == "exact":
        out = brute_force_topk_blocked(
            corpus,
            corpus.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
            k=k,
            id_col=id_col,
            vec_col=vec_col,
        )
        return out.select(
            F.col("query_id").alias("src_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("neighbor_id").alias("dst_id"),
            "cosine",
        )

    c_vec = corpus.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm_col(F.col("_v")))

    if method == "lsh":
        if index is not None:
            # persisted signatures (lsh_build / lsh_load_bucketed): no
            # signing pass at all, and a bucketed store self-joins
            # without an Exchange — the production path.
            sigs = index[0].select(
                F.col("neighbor_id").alias("_id"), "_tbl", "_sig"
            )
        else:
            if dim is None:
                dim = len(corpus.select(vec_col).first()[0])
            if planes_per_table is None:
                n = (
                    corpus_size_hint
                    if corpus_size_hint is not None
                    else corpus.count()
                )
                planes_per_table = default_planes_per_table(n)
            tables = [
                hyperplanes(dim, planes_per_table, seed=seed + 7919 * t)
                for t in range(num_tables)
            ]
            # materialize the narrow (id, table, signature) rows before
            # the self-join: both join branches would otherwise
            # re-execute the signature UDF — i.e. scan the corpus
            # twice. This is the single-run stand-in for the persisted
            # signature table above.
            sigs = stage(_table_sigs(c_vec, "_id", "_v", tables))
        # unordered pairs: the bucket self-join is symmetric and cosine
        # is exactly symmetric (x*y == y*x, na*nb == nb*na in IEEE), so
        # each pair is deduped, vector-fetched and scored ONCE and the
        # scored row mirrored below — half the candidate shuffle and
        # half the refinement folds at any scale.
        candidates = lsh_self_candidates(
            sigs, max_bucket=max_bucket, directed=False
        )
        symmetric_candidates = True
    elif method == "ivf":
        if index is None:
            index = ivf_build(
                corpus,
                id_col=id_col,
                vec_col=vec_col,
                nlist=nlist,
                seed=seed,
                corpus_size_hint=corpus_size_hint,
            )
        assigned, centroids = index
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<int>")
        def probe_cells(emb: pd.Series) -> pd.Series:
            x = np.vstack(emb.to_numpy()).astype(np.float64)
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            order = np.argsort(-((x / norms) @ centroids.T), axis=1)
            return pd.Series(list(order[:, :nprobe].astype(np.int32)))

        probes = c_vec.select(
            F.col("_id").alias("src_id"),
            F.explode(probe_cells(F.col("_v"))).alias("_cell"),
        )
        candidates = (
            probes.join(assigned.withColumnRenamed("neighbor_id", "dst_id"), "_cell")
            .filter(F.col("src_id") != F.col("dst_id"))
            .select("src_id", "dst_id")
            .distinct()
        )
        # IVF candidates are NOT symmetric (a probing b's cell does not
        # imply b probes a's) — keep the directed set as-is.
        symmetric_candidates = False
    else:
        raise ValueError(f"unknown ann_knn_graph method: {method!r}")

    scored = (
        candidates.join(
            c_vec.select(
                F.col("_id").alias("src_id"),
                F.col("_v").alias("_sv"),
                F.col("_n").alias("_sn"),
            ),
            "src_id",
        )
        .join(
            c_vec.select(
                F.col("_id").alias("dst_id"),
                F.col("_v").alias("_dv"),
                F.col("_n").alias("_dn"),
            ),
            "dst_id",
        )
        .select(
            F.col("src_id").alias("query_id"),
            F.col("dst_id").alias("neighbor_id"),
            # the interpreted fold is the measured winner HERE, like the
            # Arrow scorer before it (docstring): swapping in
            # dot_col_unrolled was tried head-to-head and LOST 3-4x at
            # both dims (64-d: 9.5 s vs 2.9 s; 168-d: 22 s vs 5.5 s,
            # clean sessions) — atop the double shuffle join the wide
            # expression falls out of whole-stage codegen and evaluates
            # ~4·dim interpreted nodes per pair, where the fold is one
            # node looping JVM-side. The unrolled chain wins only in
            # narrow broadcast-scan plans (embedding_decontamination).
            _scored_cosine(
                F.col("_sn"), F.col("_dn"), F.col("_sv"), F.col("_dv")
            ).alias("cosine"),
        )
    )
    if symmetric_candidates:
        # each unordered pair was scored once; emit both orientations
        # from the SAME row via one explode (a unionAll of scored with
        # its mirror would re-execute the whole candidate join + fold).
        # Cosine is exactly symmetric, so the directed row set — and
        # the top-k per source — is bit-identical to scoring the
        # directed candidates.
        scored = scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("query_id"),
                        F.col("neighbor_id"),
                    ),
                    F.struct(
                        F.col("neighbor_id").alias("query_id"),
                        F.col("query_id").alias("neighbor_id"),
                    ),
                )
            ).alias("_e"),
            "cosine",
        ).select("_e.query_id", "_e.neighbor_id", "cosine")
    out = _topk_two_phase(scored, k, "query_id")
    return out.select(
        F.col("query_id").alias("src_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").alias("dst_id"),
        "cosine",
    )


def topk_incremental_update(
    prev_topk: DataFrame | None,
    corpus_delta: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Incremental exact top-k maintenance (the interactive-session
    pattern: keep per-query neighbor lists current as the corpus grows
    without ever rescanning it): score the standing queries against ONLY
    the new ``corpus_delta``, union the candidates with the previous
    top-k rows, and re-rank. Per refresh the work is |delta|·|Q| scores
    plus a (2k per query)-row rank — the accumulated corpus never moves
    again; only its k winners per query survive in ``prev_topk``.

    ``exclude_self`` defaults to **False**: this is a serving-pattern API
    (standing external queries against a growing corpus), where query ids
    live in their own namespace — a numeric collision with a corpus
    ``vec_id`` must not drop a real neighbor. Flip it on only when the
    standing queries ARE corpus rows.

    .. versionchanged:: round 6
       Earlier rounds inherited :func:`brute_force_topk`'s unconditional
       ``query_id != neighbor_id`` filter, so self-matches were silently
       dropped. The default is now ``exclude_self=False``: pipelines
       whose standing queries are corpus rows will start receiving
       cosine-1.0 self rows (displacing a rank-k neighbor) unless they
       pass ``exclude_self=True`` explicitly — re-check call sites when
       upgrading.

    Correctness: exact top-k is mergeable — a vector outside both the
    previous top-k and the delta can never enter the new top-k. With
    ``prev_topk=None`` this is the bootstrap scan. Rank/tie semantics
    are exactly :func:`brute_force_topk`'s (cosine desc, neighbor id
    asc), so incremental state after any sequence of deltas is
    bit-identical to a from-scratch scan of their union — the pytest
    asserts that equivalence.
    """
    fresh = brute_force_topk(
        corpus_delta,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    ).select(query_id_col, "neighbor_id", "cosine")
    cand = (
        fresh
        if prev_topk is None
        else fresh.unionByName(prev_topk.select(query_id_col, "neighbor_id", "cosine"))
    )
    # A neighbor id may appear in both the standing top-k and an
    # overlapping delta (re-crawled/re-embedded row); collapse to one
    # candidate per (query, neighbor) — max cosine, i.e. the better of
    # old/new scores — so no vector can occupy two of the k slots.
    # Disjoint deltas make this a no-op, preserving bit-parity with the
    # from-scratch scan.
    cand = cand.groupBy(query_id_col, "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    out = _topk_two_phase(cand, k, query_id_col)
    return out.select(query_id_col, "neighbor_id", "cosine", "rank")


# ---------------------------------------------------------------------------
# Distributed Lloyd k-means — partition-parallel clustering over the full
# corpus (the driver-side `_spherical_kmeans` / `_lloyd_kmeans` above are
# SAMPLED codebook trainers for IVF/PQ; this one assigns EVERY row and is
# the kernel for cluster-based curation — Sorscher et al. 2022, "Beyond
# neural scaling laws: beating power law scaling via data pruning").
# ---------------------------------------------------------------------------

def _kmeans_assign_pts(pts: DataFrame, centroids: list[list[float]],
                       id_col: str) -> DataFrame:
    """The Lloyd assign step over a pre-cast ``(id, _v)`` frame: a
    shuffle-free projection — per centroid, a Euclidean distance fold
    over the double vector; argmin via ``least`` + first-match ``when``
    so exact distance ties break to the LOWEST cluster id (mirrors the
    SQL oracle's ``ORDER BY dist, cluster``). Centroids are inlined as
    plan literals — no broadcast, no shuffle; the expression is
    O(k·dim) per row inside whole-stage codegen."""
    k = len(centroids)
    dists = [
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.array(*[F.lit(c) for c in cent]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias(f"_d{j}")
        for j, cent in enumerate(centroids)
    ]
    scored = pts.select(id_col, "_v", *dists)
    dmin = F.least(*[F.col(f"_d{j}") for j in range(k)]) if k > 1 else F.col("_d0")
    cluster = F.when(F.col("_d0") == dmin, F.lit(0))
    for j in range(1, k):
        cluster = cluster.when(F.col(f"_d{j}") == dmin, F.lit(j))
    return scored.select(
        id_col,
        "_v",
        cluster.cast("long").alias("cluster"),
        dmin.alias("dist"),
    )


#: ``kernel="auto"`` switches :func:`kmeans_assign` from the literal-
#: centroid codegen kernel to the numpy Gram-trick kernel at this k.
#: The measured crossover (SURVEY §6: Catalyst analysis of the k·dim
#: literal tree dominates past k≈100; 14.5 s analyze at k=256) sits
#: near 100 — 64 is the conservative side of it. Part of any persisted
#: store's fingerprint params: changing it re-pins which kernel built
#: the artifact (the two kernels can differ on exact-tie rows).
VECTORIZED_ASSIGN_MIN_K = 64


def kmeans_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "auto",
) -> DataFrame:
    """Assign-only pass at FIXED centroids — the incremental face of
    :func:`distributed_kmeans` (no update step, no driver collect, no
    shuffle at all): new corpus rows are scored against an already-
    trained centroid list exactly as the training run's final assign
    scored its own rows, so a delta assigned here is bit-identical to
    what a full recompute at the same centroids would produce (pinned
    by pytest). Returns ``(id, cluster, dist)``. This is what makes the
    clustering usable for corpus deltas: at 100 TB a refresh assigns
    only the new rows (map-only over the delta scan) instead of
    re-running Lloyd over the whole history.

    ``kernel`` picks the assign implementation (VERDICT r9 item 3 —
    the measured large-k lever needs a production consumer, not just
    its own pytest):

    - ``"literal"`` — per-centroid distance folds inlined as plan
      literals inside whole-stage codegen; the right plan through
      k≈32 but Catalyst ANALYSIS of the k·dim literal tree dominates
      past k≈100 (measured, SURVEY §6).
    - ``"vectorized"`` — :func:`kmeans_assign_vectorized`'s numpy
      Gram-trick ``mapInPandas``; wall-flat in k.
    - ``"auto"`` (default) — literal below
      :data:`VECTORIZED_ASSIGN_MIN_K` (=64), vectorized at or above.
      Every existing k=8 pipeline (stores, delta, streaming) stays on
      the literal kernel, so persisted artifacts and oracles are
      untouched.

    Determinism note: the two kernels agree everywhere except exact
    floating-point distance ties (different summation order), so a
    pipeline persisting assignments must pin ONE kernel — the store
    fingerprints record the dispatch parameters for exactly that
    reason.

    Guards: a null embedding or a vector whose dimension differs from
    the centroids' (a re-embedded corpus against a stale centroid
    store) would make every distance null and SILENTLY assign null
    clusters — poisonous when the output is persisted — so the
    assignment raises at runtime instead (``raise_error`` when the
    argmin comes back null; review r9; the vectorized kernel raises on
    the same inputs, plus non-finite elements). Centroids must be
    non-empty and dimension-uniform."""
    if not centroids:
        raise ValueError("kmeans_assign: empty centroid list")
    dims = {len(c) for c in centroids}
    if len(dims) != 1:
        raise ValueError(
            f"kmeans_assign: centroid dimensions differ: {sorted(dims)}"
        )
    if kernel not in ("auto", "literal", "vectorized"):
        raise ValueError(f"kmeans_assign: unknown kernel {kernel!r}")
    if kernel == "vectorized" or (
        kernel == "auto" and len(centroids) >= VECTORIZED_ASSIGN_MIN_K
    ):
        return kmeans_assign_vectorized(
            emb, centroids, id_col=id_col, vec_col=vec_col
        )
    pts = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    out = _kmeans_assign_pts(pts, centroids, id_col)
    guarded = F.when(
        F.col("cluster").isNull(),
        F.raise_error(
            F.lit(
                "kmeans_assign: null assignment — embedding is null or "
                f"its dimension != centroid dimension {len(centroids[0])}"
            )
        ).cast("long"),
    ).otherwise(F.col("cluster"))
    return out.select(
        F.col(id_col), guarded.alias("cluster"), F.col("dist")
    )


def distributed_kmeans(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Partition-parallel Lloyd k-means over the whole table.

    Deterministic seeding: the ``k`` rows with the smallest ids become
    centroids 0..k-1 (no RNG — reproducible across engines, which is
    what lets a SQL oracle replay the run). Each iteration is

    - **assign** — a shuffle-free projection: per centroid, a Euclidean
      distance fold over the double-cast vector; argmin via
      ``least`` + first-match ``when`` chain, so exact distance ties
      break to the LOWEST cluster id (mirrors the oracle's
      ``ORDER BY dist, cluster``).
    - **update** — ONE partial-aggregated shuffle: ``groupBy(cluster)``
      with ``dim`` element ``avg``\\ s; the ≤ k result rows come back to
      the driver (k·dim doubles — bounded regardless of corpus size).
      A cluster that captured no rows keeps its previous centroid.

    ``iters`` counts ASSIGNMENT passes: ``iters=2`` is assign → update
    → assign, and the returned DataFrame is the final assignment
    ``(id, cluster, dist)``. Also returns the centroid list that
    produced it (for tests and downstream scoring).

    100 TB shape: assignment is map-only over the scan (broadcast-free —
    centroids are plan literals), the update shuffle moves only k·dim
    partial sums per task, and driver state is k·dim floats. Total jobs:
    1 bounded seed collect + (iters-1) bounded update collects.

    k knob (measured, SURVEY §6): assign cost is linear in k, but past
    k≈100 the bottleneck is driver-side Catalyst ANALYSIS of the k·dim
    literal expression tree (k=256: 14.5 s analyze vs 4.7 s execute at
    20k×64-d), not executor compute — the literal-inline design is for
    small-k curation clustering (k ≤ ~32); large-k regimes belong to a
    broadcast centroid table + per-partition vectorized argmin, or the
    IVF coarse quantizer above.

    Contract note (ADVICE r8): when the table holds fewer than ``k``
    rows, ``k`` is CLAMPED to the row count — the caller gets every row
    as its own cluster rather than an error, matching the sequential
    reference (you cannot seat 8 centroids on 5 points). The clamp
    emits a ``UserWarning`` so a silently-small corpus is visible;
    empty input still raises.
    """
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1, got k={k} iters={iters}")
    pts = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    seed_rows = pts.orderBy(id_col).limit(k).collect()  # bounded: k rows
    if not seed_rows:
        raise ValueError("distributed_kmeans: empty input")
    if len(seed_rows) < k:
        import warnings

        warnings.warn(
            f"distributed_kmeans: requested k={k} but the table holds "
            f"only {len(seed_rows)} rows — clamping k to the row count",
            UserWarning,
            stacklevel=2,
        )
    k = min(k, len(seed_rows))
    centroids = [[float(x) for x in r["_v"]] for r in seed_rows[:k]]
    dim = len(centroids[0])

    def assign(cents: list[list[float]]) -> DataFrame:
        return _kmeans_assign_pts(pts, cents, id_col)

    assigned = assign(centroids)
    for _ in range(iters - 1):
        upd = (
            assigned.groupBy("cluster")
            .agg(*[F.avg(F.col("_v")[i]).alias(f"_c{i}") for i in range(dim)])
            .collect()  # bounded: <= k rows of dim doubles
        )
        new = {int(r["cluster"]): [float(r[f"_c{i}"]) for i in range(dim)] for r in upd}
        centroids = [new.get(j, centroids[j]) for j in range(k)]
        assigned = assign(centroids)
    return assigned.select(id_col, "cluster", "dist"), centroids


def kmeans_assign_vectorized(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LARGE-k assign path: one numpy Gram-trick distance matrix per
    Arrow batch (``|x|² + |c|² − 2·X·Cᵀ`` — an n×k matmul, never the
    n×k×dim difference tensor) inside ``mapInPandas``. The literal-
    centroid :func:`kmeans_assign` is the right plan through k≈32, but
    its k·dim literal expression tree makes driver-side Catalyst
    analysis the bottleneck past k≈100 (measured: k=256 at 20k×64-d is
    14.5 s analyze + 4.7 s execute vs ~1 s total here — SURVEY §6); this
    variant's plan is one compact Python stage whatever k is, at the
    cost of Arrow-exporting the vectors once.

    Same contract as :func:`kmeans_assign` — argmin ties break to the
    LOWEST cluster id (numpy argmin), the id column passes through with
    its ORIGINAL type (string/decimal ids work in both kernels —
    ADVICE r9), and null embeddings, NaN/Inf ELEMENTS (Arrow surfaces
    null array elements as NaN in pandas — a NaN row would otherwise
    make every distance NaN and silently emit cluster 0; ADVICE r9)
    and dimension drift all raise — but the distances come from a
    different (pairwise-summed) floating-point evaluation order, so an
    exact-tie or 1e-15-near-tie row can assign differently from the
    sequential-fold kernel: use ONE variant per pipeline (the store
    discipline already pins one), and treat cross-variant agreement as
    approximate (well-separated data agrees exactly — pinned by
    pytest). Still map-only: no shuffle, no broadcast join, bounded
    n×k batch memory."""
    import pandas as pd_mod

    from pyspark.sql import types as T

    if not centroids:
        raise ValueError("kmeans_assign_vectorized: empty centroid list")
    dims = {len(c) for c in centroids}
    if len(dims) != 1:
        raise ValueError(
            f"kmeans_assign_vectorized: centroid dimensions differ: {sorted(dims)}"
        )
    cents = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    dim = cents.shape[1]
    out_schema = T.StructType(
        [
            emb.schema[id_col],
            T.StructField("cluster", T.LongType(), False),
            T.StructField("dist", T.DoubleType(), False),
        ]
    )

    def compute(batches):
        c_sq = (cents * cents).sum(axis=1)  # (k,)
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = list(pdf[vec_col])
            if any(v is None or len(v) != dim for v in vecs):
                raise ValueError(
                    "kmeans_assign_vectorized: null embedding or dimension "
                    f"!= centroid dimension {dim}"
                )
            x = np.asarray(vecs, dtype=np.float64)  # (n, dim)
            if not np.isfinite(x).all():
                raise ValueError(
                    "kmeans_assign_vectorized: non-finite embedding element "
                    "(null/NaN/Inf inside a vector) — every distance would "
                    "be NaN and the row would silently assign cluster 0"
                )
            d2 = (x * x).sum(axis=1)[:, None] + c_sq[None, :] - 2.0 * (x @ cents.T)
            cl = d2.argmin(axis=1)  # ties to lowest index
            dist = np.sqrt(np.maximum(d2[np.arange(len(x)), cl], 0.0))
            yield pd_mod.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": cl.astype("int64"),
                    "dist": dist,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(compute, out_schema)


def incremental_kmeans_assign(
    new_df: DataFrame,
    store_path: str,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "literal",
) -> DataFrame:
    """k-means for incremental corpus refreshes — the clustering mirror
    of :func:`operators.dedup.incremental_exact_dedup`: the FIRST
    increment trains :func:`distributed_kmeans` and persists both the
    assignment (``{store}/assignment``: id, cluster, dist) and the
    centroid list (``{store}/centroids``: cluster, centroid); every
    later increment runs an ASSIGN-ONLY pass (:func:`kmeans_assign`) of
    the genuinely-new rows against the persisted centroids — no update
    step, no history re-scan — and appends them. Returns this
    increment's accepted assignment rows; :func:`read_kmeans_store`
    serves the full live assignment.

    Semantics are FIRST-SEEN-WINS on ids (an id already assigned never
    re-assigns — accepted rows are immutable, the same contract as the
    dedup stores) and FIXED-CENTROIDS after the bootstrap increment:
    delta assignment at frozen centroids is bit-identical to what a
    full recompute at those centroids would emit (pinned by pytest), so
    stream-accumulated state equals the batch run. Re-train cadence is
    the caller's knob — when drift demands it, rebuild the store from
    the accumulated corpus (a new bootstrap), exactly how the DSIR
    scoring stream pins a model version between refreshes.

    Scale shape: per increment one map-only delta scan + one digest-thin
    anti-join against stored (id) rows; the bootstrap is the one-time
    Lloyd cost. Appends accumulate small files — compact with
    ``operators.layout.compact_files``. The append is not atomic with
    the read; run increments serially (the ingest scheduler contract).

    ``kernel`` pins the delta-assign kernel and defaults to
    ``"literal"`` — NOT ``"auto"`` — because the bootstrap's rows come
    from :func:`distributed_kmeans`'s literal kernel and a store must
    accumulate ONE evaluation order (review r10: at k ≥ the auto
    threshold, later increments would silently switch to the vectorized
    kernel and near-tie rows could assign differently from a full
    recompute). Pass ``"vectorized"`` only for a store whose every
    consumer does the same.
    """
    from .dedup import _hadoop_path_exists

    spark = new_df.sparkSession
    # ids must be unique WITHIN the increment too — the store holds one
    # immutable row per id forever, and an increment carrying the same
    # id twice (merged redelivery, upstream join fan-out) would persist
    # an arbitrary-multiplicity assignment; fail loudly instead (review
    # r9 — the mirror contract of the unique-order requirement in
    # packing). One metadata-light agg over the 8-byte id projection.
    dup = (
        new_df.groupBy(id_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"incremental_kmeans_assign: duplicate {id_col} within the "
            f"increment (e.g. {dup[0][id_col]!r}) — ids must be unique; "
            "dedupe upstream before assignment"
        )
    assign_path = f"{store_path}/assignment"
    cent_path = f"{store_path}/centroids"
    if not _hadoop_path_exists(spark, cent_path):
        assigned, cents = distributed_kmeans(
            new_df, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
        assigned = stage(assigned)
        write_kmeans_store(spark, store_path, assigned, cents)
        return assigned
    cent_rows = spark.read.parquet(cent_path).orderBy("cluster").collect()
    centroids = [[float(x) for x in r["centroid"]] for r in cent_rows]
    seen = spark.read.parquet(assign_path).select(id_col)
    fresh = new_df.join(seen, id_col, "left_anti")
    assigned = kmeans_assign(
        fresh, centroids, id_col=id_col, vec_col=vec_col, kernel=kernel
    )
    # freeze before the store mutates (the plan reads the store's id set)
    assigned = stage(assigned)
    assigned.write.mode("append").parquet(assign_path)
    return assigned


def write_kmeans_store(
    spark,
    store_path: str,
    assigned: DataFrame,
    centroids: list[list[float]],
) -> None:
    """Write THE canonical k-means store layout — ``{store}/assignment``
    (id, cluster, dist; append-able) + ``{store}/centroids`` (cluster
    long, centroid array<double>; one coalesced file, k rows). Round 9
    shipped TWO layouts (the registry's single dataset with
    ``is_centroid`` marker rows vs this split one) that could not serve
    each other's consumers — ``streaming/kmeans.py:load_centroids``
    only read the split form (VERDICT r9 item 4). This writer +
    :func:`read_kmeans_store` are now the ONE read/write API: the
    fingerprinted registry store, :func:`incremental_kmeans_assign`'s
    bootstrap, and the assignment stream all serve the same artifact.
    The split layout wins because the assignment half must take
    ``mode("append")`` increments while the k centroid rows stay
    immutable — a single mixed dataset cannot append one half."""
    assigned.write.mode("overwrite").parquet(f"{store_path}/assignment")
    spark.createDataFrame(
        [(j, c) for j, c in enumerate(centroids)],
        "cluster long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{store_path}/centroids")


def read_kmeans_store(
    spark, store_path: str
) -> tuple[DataFrame, list[list[float]]]:
    """The live view of a k-means store (:func:`write_kmeans_store`
    layout — registry store, incremental store, and stream output all
    share it): the accumulated assignment rows plus the pinned centroid
    list (bounded k-row collect)."""
    cent_rows = (
        spark.read.parquet(f"{store_path}/centroids").orderBy("cluster").collect()
    )
    return (
        spark.read.parquet(f"{store_path}/assignment"),
        [[float(x) for x in r["centroid"]] for r in cent_rows],
    )


def kmeans_store_epoch(spark, store_path: str) -> int:
    """The store's centroid-version epoch (0 for a store that has never
    been retrained — the bootstrap writer predates the marker)."""
    from .dedup import _hadoop_path_exists

    path = f"{store_path}/epoch"
    if not _hadoop_path_exists(spark, path):
        return 0
    rows = spark.read.parquet(path).collect()
    return int(rows[0]["epoch"]) if rows else 0


def retrain_kmeans_store(
    spark,
    store_path: str,
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """ACT on a ``retrain_recommended`` signal (VERDICT r10 item 7 —
    the consumer ``streaming/kmeans.py:make_kmeans_drift_ingest`` was
    missing): re-run :func:`distributed_kmeans` over the CURRENT corpus
    and overwrite the store with the new centroids + assignment, bumping
    the ``{store}/epoch`` marker so consumers can tell centroid
    versions apart.

    Contract with the serving stream (the module's pinned-version
    discipline): a RUNNING assignment stream keeps serving the centroid
    version it pinned at start — the centroids are plan literals, so the
    overwrite cannot reach it and its already-written epoch partitions
    stay byte-identical; the NEXT stream start (or
    ``load_centroids`` call) re-pins against the new version. The drift
    monitor's baseline likewise re-reads at its next factory call, so
    post-retrain epochs are scored against the new training
    distribution. Returns ``{"epoch": int, "k": int, "centroids":
    [...]}`` (driver-bounded: k·dim floats)."""
    new_epoch = kmeans_store_epoch(spark, store_path) + 1
    assigned, cents = distributed_kmeans(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # the assignment plan reads only `emb` (never the store), so the
    # overwrite below cannot feed back into its own input
    write_kmeans_store(spark, store_path, assigned, cents)
    spark.createDataFrame([(new_epoch,)], "epoch long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{store_path}/epoch")
    return {"epoch": new_epoch, "k": int(k), "centroids": cents}


def check_and_retrain_kmeans(
    spark,
    store_path: str,
    monitor_path: str,
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The monitor→retrain ORCHESTRATION step (r12, VERDICT r11 item 4
    — the drift monitor emitted ``retrain_recommended`` and the retrain
    action existed, but nothing connected them outside pytest): scan
    every drift-stream epoch row at ``monitor_path``
    (``streaming/kmeans.py:make_kmeans_drift_ingest`` output,
    ``_batch_id``-partitioned) ABOVE the acted high-water mark and, if
    ANY of them recommends a retrain, invoke
    :func:`retrain_kmeans_store` over ``emb`` (the CURRENT corpus).
    Scanning all unacted rows — not just the latest (ADVICE r12) —
    means a drift spike at batch N still fires even when a calmer
    epoch N+1 lands before the scheduler wakes; acting records the MAX
    scanned batch id, so the spike is handled exactly once at any
    scheduler cadence.

    Designed to be run by a scheduler (the CLI twin is
    ``pipelines/maintain_kmeans.py``), so it is IDEMPOTENT two ways:

    - a **no-recommendation** latest row is a no-op — epoch unchanged,
      store bytes untouched (pinned in pytest);
    - an **already-acted** recommendation is a no-op: the acted batch
      id persists at ``{store}/maintenance_acted`` (one row, written
      AFTER the retrain), so re-running the entrypoint against the same
      monitor state never retrains twice — the monitor's next epochs
      score against the NEW baseline and must re-recommend before the
      next retrain fires.

    Serving semantics are inherited from :func:`retrain_kmeans_store`:
    a RUNNING assignment stream keeps its pinned centroid literals; the
    next start re-pins. Cost: two one-row driver reads plus (only when
    acting) the distributed k-means itself. Returns ``{"retrained":
    bool, "reason": str, "epoch": int, "checked_batch_id": int|None}``.
    """
    from .dedup import _hadoop_path_exists

    epoch = kmeans_store_epoch(spark, store_path)
    if not _hadoop_path_exists(spark, monitor_path):
        return {
            "retrained": False,
            "reason": "no monitor output",
            "epoch": epoch,
            "checked_batch_id": None,
        }
    # scan EVERY monitor row past the acted marker, not just the latest
    # (ADVICE r12): a retrain_recommended row at batch N followed by one
    # calmer epoch before the scheduler wakes must still fire — acting
    # on "any unacted row recommends" makes the orchestration correct
    # at ANY scheduler cadence, not only cadences at least as fine as
    # the monitor's. The scan is driver-bounded: one monitor row per
    # drift epoch, filtered to ids above the acted high-water mark.
    acted_path = f"{store_path}/maintenance_acted"
    acted_id = -1
    if _hadoop_path_exists(spark, acted_path):
        acted_rows = spark.read.parquet(acted_path).collect()
        if acted_rows:
            acted_id = int(acted_rows[0]["batch_id"])
    pending = (
        spark.read.parquet(monitor_path)
        .filter(F.col("_batch_id") > F.lit(acted_id))
        .orderBy(F.col("_batch_id").desc())
        .collect()
    )
    if not pending:
        reason = (
            "monitor output empty"
            if acted_id < 0
            else f"already acted on batch {acted_id}"
        )
        return {
            "retrained": False,
            "reason": reason,
            "epoch": epoch,
            "checked_batch_id": None if acted_id < 0 else acted_id,
        }
    batch_id = int(pending[0]["_batch_id"])  # max scanned id: the new marker
    recommending = [r for r in pending if bool(r["retrain_recommended"])]
    if not recommending:
        return {
            "retrained": False,
            "reason": "no unacted monitor row recommends retrain",
            "epoch": epoch,
            "checked_batch_id": batch_id,
        }
    row = recommending[0]  # most recent recommendation drives the log line
    result = retrain_kmeans_store(
        spark, store_path, emb, k=k, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    # acted marker LAST: a crash before it means the next run retrains
    # again (idempotent in effect — same corpus, same deterministic
    # k-means), never that a recommendation is silently dropped
    spark.createDataFrame(
        [(batch_id,)], "batch_id long"
    ).coalesce(1).write.mode("overwrite").parquet(acted_path)
    return {
        "retrained": True,
        "reason": (
            f"monitor batch {int(row['_batch_id'])}: "
            f"jsd={float(row['jsd']):.4f}, "
            f"mean_dist_ratio={row['mean_dist_ratio']}"
        ),
        "epoch": result["epoch"],
        "checked_batch_id": batch_id,
    }

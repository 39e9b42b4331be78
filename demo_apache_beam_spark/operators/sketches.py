"""Mergeable frequency sketches — Misra–Gries heavy hitters.

The frequency-domain sibling of the engine's existing sketch surface
(HLL cardinality partials in ``user_sketch_rollup``, KLL-style quantile
sketches): find the items whose frequency exceeds N/k over a corpus too
large (or a key domain too wide) to count exactly, with one pass and
O(k) state per partition.

Algorithm (Misra & Gries 1982, "Finding repeated elements"; the modern
mergeable treatment is Agarwal et al. 2012, "Mergeable summaries"):
keep at most ``k-1`` counters; an incoming item increments its counter
or claims a free one, and when all are full every counter decrements —
the streaming equivalent of crossing out k distinct items at once. A
single sequential pass underestimates any item by at most N/k (N =
total weight). The DISTRIBUTED composition here runs two sketch phases
— a per-partition pass, then a driver-side merge fold over the partial
summaries — and each phase's total decrement is ≤ N/k, so end to end:

- ``count_lo ≤ true_count ≤ count_lo + 2N/k`` for reported items;
- **no false negatives above the bound**: every item with true
  frequency > 2N/k is guaranteed present (pick k = 2/φ for a target
  support threshold φ).

Merging two summaries (pairwise counter add, then trim back to k-1 by
subtracting the k-th largest count) preserves both properties with the
combined N — that mergeability is exactly what makes the sketch
MapReduce/Spark-shaped: one ``mapInPandas`` pass emits a k-sized
summary per partition (a dict over an Arrow batch stream — numpy-free
by design, the inner loop is a hash-map update), and the driver folds
the ≤ num_partitions summaries. Nothing corpus-sized ever shuffles or
reaches the driver: the reduction payload is (partitions × k) rows
regardless of N, the same discipline as ``pca_fit``'s moment rows.

Use the exact ``groupBy.count`` path when the key domain fits a
shuffle; use this when it doesn't (open vocabularies, URL domains,
user agents at 100 TB) — the canonical "top talkers" regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpoints import stage


def _mg_update(counters: dict, item, w: int, cap: int) -> None:
    """One weighted Misra-Gries update against a bounded counter map."""
    while True:
        if item in counters:
            counters[item] += w
            return
        if len(counters) < cap:
            counters[item] = w
            return
        # all counters occupied: decrement everything by the largest
        # amount the new item allows (batch form of the classic -1 step)
        dec = min(w, min(counters.values()))
        dead = []
        for key in counters:
            counters[key] -= dec
            if counters[key] == 0:
                dead.append(key)
        for key in dead:
            del counters[key]
        w -= dec
        if w <= 0:
            return


def _mg_merge(a: dict, b: dict, cap: int) -> dict:
    """Merge two summaries (Agarwal et al. 2012): add counters, then if
    over capacity subtract the (cap+1)-th largest count from all and
    drop non-positives — both error bounds compose additively."""
    out = dict(a)
    for key, w in b.items():
        out[key] = out.get(key, 0) + w
    if len(out) > cap:
        cut = sorted(out.values(), reverse=True)[cap]
        out = {key: w - cut for key, w in out.items() if w - cut > 0}
    return out


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 64,
    weight_col: str | None = None,
) -> list[tuple[object, int]]:
    """Misra-Gries heavy hitters over ``item_col``: returns the summary
    as ``[(item, count_lo), ...]`` sorted by count descending, at most
    ``k-1`` entries, items stringified by the summary schema. Every
    item with true frequency > 2N/k is present, and ``count_lo ≤
    true_count ≤ count_lo + 2N/k`` (N = total weight; one N/k from the
    partition pass, one from the merge fold — see module docstring).

    One distributed pass (per-partition summaries via ``mapInPandas``,
    ≤ k-1 rows each) + a driver fold of ≤ num_partitions summaries —
    the driver holds O(partitions · k) entries, never the key domain.
    ``weight_col`` generalizes to weighted frequency (e.g. bytes per
    URL domain instead of hits).
    """
    import pandas as pd

    cap = k - 1
    if cap < 1:
        raise ValueError("k must be >= 2")

    def partial(batches):
        counters: dict = {}
        for pdf in batches:
            items = pdf[item_col]
            weights = pdf[weight_col] if weight_col else None
            for i in range(len(pdf)):
                w = int(weights.iloc[i]) if weight_col else 1
                if w > 0:
                    _mg_update(counters, items.iloc[i], w, cap)
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "w": list(counters.values())}
            )

    from pyspark.sql import functions as F

    rows = (
        # the partial-summary schema is `item string` — cast up front so
        # non-string keys (a bigint user_id is the canonical top-talkers
        # key) stringify in the JVM instead of tripping an Arrow type
        # mismatch inside mapInPandas
        df.select(
            F.col(item_col).cast("string").alias(item_col),
            *([weight_col] if weight_col else []),
        )
        .mapInPandas(partial, "item string, w long")
        # canonical fold order: the fold's near-zero tail is
        # order-dependent, and collect() alone returns partitions in
        # completion order — sorting makes the result a pure function
        # of the input partitioning
        .orderBy(F.desc("w"), "item")
        .collect()
    )
    # fold row-by-row: a single counter row is itself a zero-error
    # summary of its weight, and the merge bound holds for ANY merge
    # tree over valid summaries, so flattening the per-partition
    # structure costs nothing beyond the documented fold N/k term
    merged: dict = {}
    for r in rows:
        merged = _mg_merge(merged, {r["item"]: r["w"]}, cap)
    return sorted(merged.items(), key=lambda kv: (-kv[1], str(kv[0])))


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketches — set cardinality, Jaccard, intersection
# ---------------------------------------------------------------------------

def kmv_sketches(
    df: DataFrame,
    key_col: str,
    item_col: str,
    k: int = 32,
    seed: str = "kmv1",
) -> DataFrame:
    """Per-key bottom-``k`` distinct sketch (Bar-Yossef et al. 2002;
    Beyer et al. 2007 "Distinct-value synopses"): the ``k`` smallest
    md5 hashes of the key's distinct items.

    Output: ``(<key_col>, hx string, f double, rk int)`` — ``hx`` the
    32-hex md5, ``f`` its leading-48-bit fraction in [0, 1) (exactly
    representable, so downstream estimator arithmetic is bit-portable),
    ``rk`` the 1-based rank by ``hx``. Lexicographic order on the hex
    string IS numeric order, and md5 makes the sketch deterministic —
    the same engine-portable hash family as the near-dup oracles, so a
    SQL oracle can replay estimates exactly.

    Scale: the distinct pass is one combine-lifted shuffle on
    ``(key, item)``; the rank window shuffles only (key, 16-byte-hash)
    rows and emits ≤ k per key. For a skew-hot key, pre-filter with a
    conservative hash threshold (P[h < t] covers k·safety draws) before
    the window — the sketch only ever needs the smallest hashes.
    """
    h = F.md5(
        F.concat(F.lit(seed + ":"), F.col(item_col).cast("string"))
    )
    d = df.select(F.col(key_col), h.alias("hx")).distinct()
    return rank_bottom_k(d, key_col, k)


def rank_bottom_k(hashed: DataFrame, key_col: str, k: int) -> DataFrame:
    """Keep the ``k`` smallest distinct ``hx`` per key (rank + fraction
    columns added). Also the MERGE of KMV sketches: the bottom-k of a
    union of bottom-k sketches IS the union's bottom-k — any of the
    union's k smallest hashes is among its own source's k smallest —
    so re-ranking epoch/partition sketches reconstructs the exact
    whole-corpus sketch (the streaming store reads through this)."""
    w = Window.partitionBy(key_col).orderBy("hx")
    frac = (
        F.conv(F.substring("hx", 1, 12), 16, 10).cast("long").cast("double")
        / F.lit(float(16 ** 12))
    )
    return (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .withColumn("f", frac)
    )


def kmv_pair_estimates(sketches: DataFrame, key_col: str, k: int) -> DataFrame:
    """Pairwise distinct-set overlap estimates from bottom-k sketches.

    For every unordered key pair (a < b), combine the two sketches into
    the union's bottom-k and report:

    - ``union_est``   = (k−1)/f_(k)  (the classic KMV estimator), or the
      EXACT distinct union when the combined sketch has < k hashes
      (both sets were fully enumerated — small-set branch);
    - ``jaccard_est`` = |union bottom-k present in BOTH sketches| / k
      (the bottom-k Jaccard estimator — the union's bottom-k is a
      uniform sample of the union);
    - ``intersection_est`` = jaccard_est · union_est.

    Each key's sketch first collapses to ONE row carrying the sorted
    (hx, f) struct array (≤ k elements — the aggregation runs over the
    already-bottom-k'd input, never the item domain), so the pair stage
    is a self-join over |keys| single-row sketches and every estimator
    quantity is per-row array algebra on ≤ 2k elements: the union's
    bottom-k is ``slice(array_sort(array_union(a, b)))``, membership in
    both sketches is ``array_intersect`` — no per-pair shuffle, no rank
    window, no re-aggregation. hx is md5-unique within a sketch and f
    is a pure function of hx, so struct equality IS hash equality and
    the array math replays the rank-window formulation bit-for-bit.

    The one-row-per-key sketch table is staged once (lazy ``stage`` —
    a caller's ``staged`` scope, such as a streaming monitor's,
    releases the pinned blocks): it feeds both sides of the
    pair self-join, and without the barrier each side re-executes the
    WHOLE sketch build — the full-corpus distinct + bottom-k window.
    The build side is hint-broadcast (k·|keys| sketch rows — bounded by
    the key universe, never the item domain) because the checkpoint
    hides size statistics from the planner.
    """
    arr = sketches.groupBy(key_col).agg(
        F.sort_array(F.collect_list(F.struct("hx", "f"))).alias("_sk")
    )
    arr = stage(arr, eager=False)
    a = arr.select(F.col(key_col).alias("_ka"), F.col("_sk").alias("_sa"))
    b = arr.select(F.col(key_col).alias("_kb"), F.col("_sk").alias("_sb"))
    pairs = a.join(F.broadcast(b), F.col("_ka") < F.col("_kb"))
    u = F.array_sort(F.array_union("_sa", "_sb"))
    pairs = pairs.select(
        "_ka",
        "_kb",
        u.alias("_u"),
        F.array_intersect("_sa", "_sb").alias("_both"),
    )
    m = F.size("_u")
    mk = F.least(F.lit(k), m)
    f_k = F.element_at("_u", mk)["f"]
    n_both = F.size(F.array_intersect(F.slice("_u", F.lit(1), mk), "_both"))
    small = m < k
    union_est = F.when(small, m.cast("double")).otherwise(
        F.lit(float(k - 1)) / f_k
    )
    denom = F.when(small, m).otherwise(F.lit(k)).cast("double")
    jacc = n_both.cast("double") / denom
    return pairs.select(
        F.col("_ka").alias("key_a"),
        F.col("_kb").alias("key_b"),
        F.round(jacc, 6).alias("jaccard_est"),
        F.round(union_est, 6).alias("union_est"),
        (F.round(jacc * union_est, 6) + F.lit(0.0)).alias("intersection_est"),
    )


def _knuth32(col):
    """Knuth multiplicative hash mod 2^32 in 16-bit halves (every
    intermediate product stays below 2^48, so the arithmetic replays
    exactly on any engine with int64 — the queries.py `_hash32`
    definition, duplicated here to keep operators import-free of the
    registry)."""
    a = col % F.lit(4294967296)
    al = a % F.lit(65536)
    ah = F.shiftright(a, 16)
    return (
        al * F.lit(2654435761)
        + ((ah * F.lit(2654435761)) % F.lit(65536)) * F.lit(65536)
    ) % F.lit(4294967296)


CMS_MULTIPLIERS = [3, 5, 7, 11]


def cms_hash_structs(col, d: int = 4, w: int = 64):
    """The d Count-Min cell coordinates of an integer key as an array of
    (i, h) structs. Buckets come from the HIGH log2(w) bits of the
    multiplicative hash — the low bits of knuth32(x) are an affine
    bijection of ``x mod w`` (low-bit m·x mod 2^k only mixes the low k
    bits of x), which would give every row the SAME collision structure
    and collapse the sketch to one partition of the id space; the high
    bits are where a multiplicative hash actually mixes (Knuth's own
    prescription), and distinct odd multipliers give the d rows
    near-independent bucket maps."""
    if w & (w - 1) or w < 2:
        raise ValueError(f"w must be a power of two >= 2, got {w}")
    if d > len(CMS_MULTIPLIERS):
        raise ValueError(f"d must be <= {len(CMS_MULTIPLIERS)}, got {d}")
    shift = 32 - (w.bit_length() - 1)
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.shiftright(
                    # reduce mod 2^32 BEFORE the row multiplier: a
                    # 64-bit key (xxhash64 of a label — the streaming
                    # curation capstone's source keys) would overflow
                    # the ANSI long multiply. For keys in [0, 2^32)
                    # the reduction is the identity — every existing
                    # sketch/oracle is bit-unchanged. NEGATIVE keys
                    # previously reached _knuth32 through Spark's
                    # sign-preserving % (negative cells); pmod maps
                    # them to different cells, so a persisted CMS
                    # store built with negative keys BEFORE this
                    # change must be rebuilt before probing (probe
                    # and store always share one map within a version)
                    _knuth32(
                        F.pmod(col, F.lit(4294967296))
                        * F.lit(CMS_MULTIPLIERS[i])
                        + F.lit(i)
                    ),
                    shift,
                ).alias("h"),
            )
            for i in range(d)
        ]
    )


def cms_estimates(
    df: DataFrame, key_col: str, d: int = 4, w: int = 64
) -> DataFrame:
    """Count-Min point estimates vs exact counts for every distinct
    value of an integer ``key_col``: (key, n_true, n_cms) with
    n_cms >= n_true always and the overestimate eps·N w.h.p.

    Scale shape: the build is one scan whose map-side combine collapses
    every partition to <= d·w cells before a tiny shuffle; the probe
    broadcast-joins the d·w-row sketch onto the distinct-key side; two
    sketches merge by cell-wise addition (the mergeable-partials
    discipline applied to point frequencies)."""
    ev = df.select(key_col)
    pairs = ev.select(
        F.explode(cms_hash_structs(F.col(key_col), d, w)).alias("x")
    ).select("x.i", "x.h")
    sketch = pairs.groupBy("i", "h").agg(F.count(F.lit(1)).alias("cnt"))
    truth = ev.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_true"))
    probe = truth.select(
        key_col, "n_true", F.explode(cms_hash_structs(F.col(key_col), d, w)).alias("x")
    ).select(key_col, "n_true", "x.i", "x.h")
    return (
        probe.join(F.broadcast(sketch), ["i", "h"])
        .groupBy(key_col, "n_true")
        .agg(F.min("cnt").alias("n_cms"))
        .select(key_col, "n_true", "n_cms")
    )

"""Record linkage / entity resolution — blocked Fellegi–Sunter scoring.

A corpus at ingest time is full of near-duplicate ENTITIES, not just
near-duplicate texts: the same customer/author/site arriving twice with
case drift, punctuation drift, and small numeric drift. Classic record
linkage (Fellegi & Sunter 1969, "A theory for record linkage", JASA 64)
resolves them in two moves this module keeps separate:

- **Blocking**: only records sharing a cheap deterministic key (here any
  tuple of columns) are ever compared — the equi-join that replaces the
  O(N²) all-pairs sweep. Missed blocks are missed matches by design;
  that trade (recall vs candidate count) is the whole point of blocking.
- **Scoring**: each candidate pair gets per-field agreement bits and a
  log-odds-shaped score ``Σ (agree ? w_a : w_d)`` over the configured
  comparators; a threshold turns scores into match decisions. With
  per-field weights derived from m/u probabilities this IS Fellegi–
  Sunter; the weights may be caller-supplied constants (how production
  linkage usually starts) or fitted from the candidate pairs themselves
  by :func:`fit_linkage_weights_em` — the EM half of Fellegi–Sunter
  1969 (§5; the latent-class formulation of Winkler 1988): estimate
  per-field m = P(agree | match) and u = P(agree | non-match) plus the
  match prior from the observed agreement vectors, no labels needed.

Scale shape: the self-join is a plain equi-join on the block key (no
cartesian, plan-pinned in tests); candidate volume is Σ_b n_b², governed
by block-key cardinality exactly like the LSH band joins in
``operators/dedup.py``. Scores are fixed-order chains of double literal
additions — bit-identical across engines and partitionings.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .checkpoints import stage, staged


@dataclass(frozen=True)
class FieldComparator:
    """One field comparison: ``agree(a, b)`` must be a deterministic
    boolean expression over the two sides' column accessors (each maps a
    column name to that side's Column). ``w_agree``/``w_disagree`` are
    the score contributions (log-odds-shaped: positive for agreement on
    a discriminating field, negative for disagreement)."""

    name: str
    agree: Callable[
        [Callable[[str], Column], Callable[[str], Column]], Column
    ]
    w_agree: float
    w_disagree: float


def _scored_pairs(
    a: DataFrame,
    b: DataFrame,
    cond,
    id_a,
    id_b,
    comparators: list[FieldComparator],
    threshold: float,
    ca,
    cb,
) -> DataFrame:
    """Shared scoring algebra of the self-join and two-table variants:
    agreement bits in comparator order, a fixed-order left-associative
    double chain for the score, thresholded decision."""
    agree_cols = [
        F.when(comp.agree(ca, cb), 1).otherwise(0).alias(f"{comp.name}_agree")
        for comp in comparators
    ]
    pairs = a.join(b, cond).select(
        id_a.alias("id_a"), id_b.alias("id_b"), *agree_cols
    )
    score: Column | None = None
    for comp in comparators:
        term = (
            F.when(F.col(f"{comp.name}_agree") == 1, F.lit(float(comp.w_agree)))
            .otherwise(F.lit(float(comp.w_disagree)))
        )
        score = term if score is None else score + term
    return pairs.select(
        "*",
        score.alias("match_score"),
    ).withColumn("is_match", F.col("match_score") >= F.lit(float(threshold)))


def record_linkage_pairs(
    records: DataFrame,
    id_col: str,
    block_cols: list[str],
    comparators: list[FieldComparator],
    threshold: float,
) -> DataFrame:
    """All within-block candidate pairs with per-field agreement bits,
    the summed match score, and the thresholded decision.

    Output: ``(id_a, id_b, <name>_agree int per comparator,
    match_score double, is_match boolean)`` with ``id_a < id_b``. The
    score is a fixed-order left-associative chain of the comparator
    terms (listed order), so the double arithmetic is reproducible by
    any engine evaluating the same chain.

    ``records`` must already carry the normalized/blocking columns —
    normalization is corpus-specific and belongs to the caller; this
    operator owns only the join and the scoring algebra.
    """
    if not block_cols:
        raise ValueError("record_linkage_pairs: block_cols must be non-empty")
    if not comparators:
        raise ValueError("record_linkage_pairs: comparators must be non-empty")
    a = records.alias("a")
    b = records.alias("b")

    def ca(col: str) -> Column:
        return F.col(f"a.{col}")

    def cb(col: str) -> Column:
        return F.col(f"b.{col}")

    cond = ca(id_col) < cb(id_col)
    for c in block_cols:
        cond = cond & (ca(c) == cb(c))
    return _scored_pairs(
        a, b, cond, ca(id_col), cb(id_col), comparators, threshold, ca, cb
    )


def record_linkage_pairs_between(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    block_cols: list[str],
    comparators: list[FieldComparator],
    threshold: float,
    right_id_alias: str | None = None,
) -> DataFrame:
    """Two-table variant: score every (left, right) candidate pair that
    shares the blocking key — the probe shape of INCREMENTAL linkage,
    where ``left`` is a fresh batch and ``right`` an accepted-entity
    registry. No id inequality (the two sides are distinct record
    sets); output ``id_a`` is the left id, ``id_b`` the right id (or
    ``right_id_alias`` read from the right side instead — e.g. the
    registry's ``entity_id``). Same comparators/score/threshold algebra
    as :func:`record_linkage_pairs`; both sides must carry the
    blocking and comparison columns under the same names.
    """
    if not block_cols:
        raise ValueError(
            "record_linkage_pairs_between: block_cols must be non-empty"
        )
    if not comparators:
        raise ValueError(
            "record_linkage_pairs_between: comparators must be non-empty"
        )
    a = left.alias("a")
    b = right.alias("b")

    def ca(col: str) -> Column:
        return F.col(f"a.{col}")

    def cb(col: str) -> Column:
        return F.col(f"b.{col}")

    cond = None
    for c in block_cols:
        term = ca(c) == cb(c)
        cond = term if cond is None else cond & term
    return _scored_pairs(
        a,
        b,
        cond,
        ca(id_col),
        cb(right_id_alias or id_col),
        comparators,
        threshold,
        ca,
        cb,
    )


def fit_linkage_weights_em(
    pairs: DataFrame,
    field_names: list[str],
    n_iter: int = 25,
    init_p: float = 0.1,
    init_m: float = 0.9,
    init_u: float = 0.1,
    tol: float = 1e-8,
    clip: float = 1e-6,
) -> dict:
    """Fit Fellegi–Sunter m/u probabilities and the match prior from
    UNLABELED candidate pairs by EM — the half of Fellegi & Sunter 1969
    that turns caller-guessed constants into data-derived weights.

    ``pairs`` is the output shape of :func:`record_linkage_pairs` (or
    any frame carrying an integer ``{name}_agree`` column per entry of
    ``field_names``); conditional independence of fields given the
    match class is the model (the standard FS assumption).

    The likelihood depends on a pair only through its AGREEMENT PATTERN
    (a k-bit vector), so Spark's whole job is ONE map-side-combinable
    aggregation: groupBy the pattern → count, at most 2^k rows back to
    the driver (the Winkler formulation). The EM loop itself runs
    driver-side over (pattern, count) in numpy — per iteration:

    - E-step: pattern posterior ``w = p·∏ m^γ(1-m)^(1-γ) /
      (p·∏ m^γ(1-m)^(1-γ) + (1-p)·∏ u^γ(1-u)^(1-γ))`` in log space;
    - M-step: ``p = Σ c·w / N``, ``m_i = Σ c·w·γ_i / Σ c·w``,
      ``u_i = Σ c·(1-w)·γ_i / Σ c·(1-w)``.

    At 100 TB the candidate pairs (already blocked, Σ_b n_b²) are
    scanned exactly ONCE regardless of iteration count — the first
    implementation ran one Spark aggregation per iteration (25
    sequential jobs, 11.7 s on the sf0.1 fixture); the histogram form
    is one job + microseconds of numpy (identical updates — the sums
    group by pattern exactly). ``k`` is capped at 20 (2^k histogram
    rows must stay driver-bounded).

    m/u are clipped to ``[clip, 1-clip]`` each step (log-weight
    stability; also keeps the degenerate all-0/all-1 fixed points out).
    Stops early when every parameter moves < ``tol``. Deterministic:
    the histogram counts are exact longs and the driver fold runs in
    one fixed order (patterns sorted), so the fit is bit-stable across
    partitionings.

    Returns ``{"p": float, "n_iter": int, "converged": bool,
    "fields": {name: {"m", "u", "w_agree", "w_disagree"}}}`` with
    ``w_agree = log2(m/u)`` and ``w_disagree = log2((1-m)/(1-u))`` —
    drop-in weights for :class:`FieldComparator`
    (:func:`comparators_with_fitted_weights`).
    """
    if not field_names:
        raise ValueError("fit_linkage_weights_em: field_names must be non-empty")
    if len(field_names) > 20:
        raise ValueError(
            "fit_linkage_weights_em: more than 20 fields — the 2^k "
            "pattern histogram would not be driver-bounded"
        )
    if not (0.0 < init_p < 1.0):
        raise ValueError(f"init_p must be in (0,1), got {init_p}")
    if not (0.0 < init_m < 1.0) or not (0.0 < init_u < 1.0):
        raise ValueError(
            f"init_m/init_u must be in (0,1), got {init_m}/{init_u} — "
            "a boundary initialization makes the first E-step log(0)"
        )
    if not (0.0 < clip < 0.5):
        raise ValueError(f"clip must be in (0, 0.5), got {clip}")
    gcols = [
        F.col(f"{name}_agree").cast("int").alias(f"_g{i}")
        for i, name in enumerate(field_names)
    ]
    hist_rows = (
        pairs.select(*gcols)
        .groupBy(*[f"_g{i}" for i in range(len(field_names))])
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()  # bounded: <= 2^k rows
    )
    k = len(field_names)
    hist = sorted(
        (tuple(int(r[f"_g{i}"]) for i in range(k)), int(r["_c"]))
        for r in hist_rows
    )
    # the model is Bernoulli per field: a graded or miscoded agreement
    # column (2, -1, …) would silently corrupt the E-step (γ multiplies
    # log m / log u) and return plausible-looking but wrong weights
    # (ADVICE r11) — reject loudly instead
    bad = sorted({v for pat, _ in hist for v in pat if v not in (0, 1)})
    if bad:
        raise ValueError(
            f"fit_linkage_weights_em: agreement columns must be binary "
            f"0/1; found values {bad} — a graded comparator needs "
            "thresholding into agree/disagree before fitting"
        )
    return _fit_em_over_histogram(
        hist, field_names, n_iter, init_p, init_m, init_u, tol, clip
    )


def _fit_em_over_histogram(
    hist: list,
    field_names: list[str],
    n_iter: int,
    init_p: float,
    init_m: float,
    init_u: float,
    tol: float,
    clip: float,
) -> dict:
    """Driver-side EM over the (pattern, count) histogram — pure numpy,
    fixed pattern order (sorted), so the fit is bit-stable."""
    import math

    import numpy as np

    n_pairs = sum(c for _, c in hist)
    if n_pairs == 0:
        raise ValueError(
            "fit_linkage_weights_em: no candidate pairs — blocking "
            "produced an empty table; EM has nothing to fit"
        )

    k = len(field_names)
    g = np.array([pat for pat, _ in hist], dtype=float)  # (P, k)
    c = np.array([cnt for _, cnt in hist], dtype=float)  # (P,)
    N = float(n_pairs)
    p = float(init_p)
    m = np.full(k, float(init_m))
    u = np.full(k, float(init_u))

    converged = False
    it = 0
    for it in range(1, n_iter + 1):
        ll_m = math.log(p) + (g * np.log(m) + (1 - g) * np.log(1 - m)).sum(axis=1)
        ll_u = math.log(1.0 - p) + (g * np.log(u) + (1 - g) * np.log(1 - u)).sum(axis=1)
        w = 1.0 / (1.0 + np.exp(ll_u - ll_m))
        sw = float((c * w).sum())
        snw = N - sw
        if sw <= 0.0 or snw <= 0.0:
            # every pair's posterior saturated to one class — dividing
            # through would return silent NaN weights (review r11)
            raise ValueError(
                "fit_linkage_weights_em: posterior collapsed to a "
                "single class — the agreement data carries no "
                "two-class signal (or the initialization is extreme); "
                "EM cannot fit m/u here"
            )
        new_p = min(max(sw / N, clip), 1.0 - clip)
        new_m = np.clip(((c * w)[:, None] * g).sum(axis=0) / sw, clip, 1.0 - clip)
        new_u = np.clip(
            ((c * (1.0 - w))[:, None] * g).sum(axis=0) / snw, clip, 1.0 - clip
        )
        delta = max(
            abs(new_p - p),
            float(np.abs(new_m - m).max()),
            float(np.abs(new_u - u).max()),
        )
        p, m, u = new_p, new_m, new_u
        if delta < tol:
            converged = True
            break

    fields = {}
    for i, name in enumerate(field_names):
        fields[name] = {
            "m": float(m[i]),
            "u": float(u[i]),
            "w_agree": math.log2(m[i] / u[i]),
            "w_disagree": math.log2((1.0 - m[i]) / (1.0 - u[i])),
        }
    return {"p": p, "n_iter": it, "converged": converged, "fields": fields}


def comparators_with_fitted_weights(
    comparators: list[FieldComparator], fitted: dict
) -> list[FieldComparator]:
    """Rebind each comparator's weights to the EM-fitted log2 m/u odds
    (:func:`fit_linkage_weights_em` output) — the agreement predicates
    are untouched; only the score contributions change."""
    out = []
    for comp in comparators:
        fw = fitted["fields"][comp.name]
        out.append(
            FieldComparator(
                comp.name, comp.agree, fw["w_agree"], fw["w_disagree"]
            )
        )
    return out


def fs_decision_threshold(fitted: dict) -> float:
    """The Fellegi–Sunter decision threshold implied by a fitted model:
    total posterior log-odds of a pair are ``log2(p/(1-p)) + Σ w_i``,
    so ``score ≥ -log2(p/(1-p))`` is exactly ``P(match | γ) ≥ 0.5`` —
    the principled replacement for a hand-picked cut once the weights
    are data-derived (the hand-constant path keeps its caller-supplied
    threshold; the two are not comparable numbers)."""
    import math

    p = float(fitted["p"])
    return -math.log2(p / (1.0 - p))


def write_linkage_weights(spark, store_path: str, fitted: dict) -> int:
    """Persist an EM fit as a versioned weight store — the linkage
    twin of the k-means centroid store's epoch discipline: each write
    lands the per-field rows plus a one-row prior/epoch sidecar, with
    the epoch bumped, so a serving stream can PIN the version it read
    at start while later fits land behind it. Returns the new epoch."""
    # first-write detection is an explicit existence probe, and the
    # prior-version read catches ONLY the store-unavailable set
    # (ADVICE r12): a bare `except Exception` silently reset the epoch
    # to 0 on any transient read failure or corrupt prior store,
    # breaking the monotonic-version contract stream pinning relies on
    # — and hid real bugs, which _store_errors() elsewhere refuses to.
    from py4j.protocol import Py4JError
    from pyspark.errors import AnalysisException

    from .dedup import _hadoop_path_exists

    epoch = 0
    if _hadoop_path_exists(spark, f"{store_path}/prior"):
        try:
            epoch = read_linkage_weights(spark, store_path)["epoch"] + 1
        except (OSError, AnalysisException, Py4JError) as e:
            raise RuntimeError(
                f"write_linkage_weights: prior store at {store_path} "
                "exists but is unreadable — refusing to silently reset "
                "the version epoch to 0 (a pinned serving stream would "
                "mistake the overwrite for the version it read)"
            ) from e
    rows = [
        (name, fw["m"], fw["u"], fw["w_agree"], fw["w_disagree"])
        for name, fw in sorted(fitted["fields"].items())
    ]
    spark.createDataFrame(
        rows,
        "field string, m double, u double, w_agree double, w_disagree double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{store_path}/fields")
    spark.createDataFrame(
        [(float(fitted["p"]), int(epoch))], "p double, epoch long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{store_path}/prior")
    return epoch


def read_linkage_weights(spark, store_path: str) -> dict:
    """Load the current weight version: the fit-shaped dict (drop-in
    for :func:`comparators_with_fitted_weights` /
    :func:`fs_decision_threshold`) plus its ``epoch``. The returned
    values are plain Python floats — a consumer that bakes them into a
    plan holds LITERALS, so a concurrent re-fit overwriting the store
    cannot reach an already-running stream (the k-means pinned-epoch
    contract)."""
    fields = {
        r["field"]: {
            "m": r["m"],
            "u": r["u"],
            "w_agree": r["w_agree"],
            "w_disagree": r["w_disagree"],
        }
        for r in spark.read.parquet(f"{store_path}/fields").collect()
    }
    prior = spark.read.parquet(f"{store_path}/prior").collect()[0]
    return {"p": float(prior["p"]), "epoch": int(prior["epoch"]), "fields": fields}


def linkage_decisions_with_em(
    records: DataFrame,
    id_col: str,
    block_cols: list[str],
    comparators: list[FieldComparator],
    n_iter: int = 25,
) -> tuple[DataFrame, dict]:
    """The closed fit→re-score→decide loop (VERDICT r11 item 3 — the
    fit previously RETURNED weights no production path consumed): fit
    m/u/prior by EM on the blocked candidate pairs' agreement patterns,
    rebind the comparators to the fitted log2 odds, re-score the SAME
    candidate pairs, and decide at the model-implied threshold
    (:func:`fs_decision_threshold` — posterior ≥ 0.5). Returns
    ``(decisions, fit)`` where decisions is the
    :func:`record_linkage_pairs` output shape scored with FITTED
    weights. Costs two passes over the blocked pairs (one histogram
    aggregation for the fit, one re-score) — agreement bits are
    weight-independent, so the second pass re-evaluates only cheap
    predicates; still never all-pairs."""
    pairs = record_linkage_pairs(
        records, id_col, block_cols, comparators, threshold=0.0
    )
    fit = fit_linkage_weights_em(
        pairs, [c.name for c in comparators], n_iter=n_iter
    )
    fitted_comps = comparators_with_fitted_weights(comparators, fit)
    decisions = record_linkage_pairs(
        records,
        id_col,
        block_cols,
        fitted_comps,
        threshold=fs_decision_threshold(fit),
    )
    return decisions, fit


def linkage_resolve_core(
    batch: DataFrame,
    hist: DataFrame | None,
    id_col: str,
    block_cols: list[str],
    comparators: list[FieldComparator],
    threshold: float,
) -> DataFrame:
    """Assign an ``entity_id`` to every record of ``batch`` given the
    accepted-entity registry ``hist`` (None on bootstrap) — the ONE
    decision kernel shared by the batch incremental operator and the
    streaming ingest (the exact-dedup-core discipline: winner logic
    cannot drift between the two).

    Semantics (deterministic, sequential-reference-testable):

    1. within-batch match pairs form clusters via connected components
       (min-member-id representative) — transitive within the batch;
    2. a cluster that matches ≥1 registry record ATTACHES to the
       smallest matched ``entity_id`` (existing entities never merge —
       a batch record matching two old entities picks the smaller id;
       entity merge is a curation decision, not an ingest side effect);
    3. a cluster with no registry match MINTS its representative's
       record id as the new entity id.

    Returns one ``(id_col, entity_id)`` row per batch record,
    staged so the caller can append to the registry
    afterwards without the lazy store read re-listing its own writes
    (the exact_dedup_core freeze discipline). ``hist`` must carry the
    blocking/comparison columns under the batch's names plus
    ``entity_id``.
    """
    from .graph import connected_components

    edges = record_linkage_pairs(
        batch, id_col, block_cols, comparators, threshold
    ).filter(F.col("is_match"))
    comps = connected_components(
        edges.select("id_a", "id_b"), vertices=batch.select(id_col)
    )
    if hist is None:
        return stage(
            comps.select(
                F.col("id").alias(id_col),
                F.col("cluster_id").alias("entity_id"),
            )
        )
    probe = record_linkage_pairs_between(
        batch,
        hist,
        id_col=id_col,
        block_cols=block_cols,
        comparators=comparators,
        threshold=threshold,
        right_id_alias="entity_id",
    ).filter(F.col("is_match"))
    cluster_ent = (
        probe.join(comps, probe["id_a"] == comps["id"])
        .groupBy("cluster_id")
        .agg(F.min("id_b").alias("_hist_ent"))
    )
    return stage(
        comps.join(cluster_ent, "cluster_id", "left").select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_hist_ent"), F.col("cluster_id")).alias(
                "entity_id"
            ),
        )
    )


def incremental_record_linkage(
    new_df: DataFrame,
    store_path: str,
    id_col: str,
    block_cols: list[str],
    comparators: list[FieldComparator],
    threshold: float,
) -> DataFrame:
    """Entity resolution for corpus refreshes: resolve ``new_df``
    against the persisted entity registry at ``store_path`` (all prior
    increments' records with their entity ids), then append the newly
    resolved records so later increments see them.

    FIRST-SEEN-WINS like the dedup stores: an accepted record's entity
    assignment is immutable; new arrivals attach to the earliest
    matching entity. The registry scan per increment reads only the
    blocking/comparison columns plus ``entity_id``; the probe is the
    same blocked equi-join as the batch query — Σ_b n_b·m_b candidate
    pairs, never all-pairs. Appends are not atomic with the read; run
    increments serially (the standard ingest-scheduler contract).

    Returns the ``(id_col, entity_id)`` assignments for ``new_df``.
    """
    from .dedup import _hadoop_path_exists

    spark = new_df.sparkSession
    hist = (
        spark.read.parquet(store_path)
        if _hadoop_path_exists(spark, store_path)
        else None
    )
    if hist is not None:
        # first-seen-wins on the RECORD ID too: a resubmission of an
        # already-accepted id (possibly with drifted attributes that no
        # longer match its own entity) must not mint a conflicting
        # second registry row for the same id (review r10 — the
        # incremental_kmeans_assign seen-ids discipline)
        new_df = new_df.join(
            hist.select(F.col(id_col)), id_col, "left_anti"
        )
    assigned = linkage_resolve_core(
        new_df, hist, id_col, block_cols, comparators, threshold
    )
    # freeze the WRITTEN rows too, not just the assignments: the lazy
    # plan embeds the store read and the caller's upstream — appending
    # while it re-executes would re-list the store and, under a
    # non-deterministic upstream, append rows that diverge from the
    # already-returned assignments (review r10)
    rows = stage(new_df.join(assigned, id_col))
    rows.write.mode("append").parquet(store_path)
    return assigned


def erase_from_linkage_store(
    spark,
    store_path: str,
    ids: DataFrame,
    id_col: str,
    tombstone: bool | None = None,
) -> dict:
    """Right-to-erasure for the entity registry: remove the given
    record ids' rows (their blocking/comparison attributes — the
    subject data) via the atomic partition-preserving
    :func:`operators.layout.erase_rows` rewrite.

    After erasure the record's attributes no longer influence matching:
    a future arrival that would only have matched the erased row mints
    a new entity instead (pinned in pytest). Other members of the same
    entity keep their ``entity_id`` — entity ids are opaque tokens
    (possibly the erased record's numeric id), not subject attributes.

    ``tombstone`` follows the shared auto rule of the dedup stores
    (:func:`operators.dedup._resolve_tombstone`): ON for the
    epoch-partitioned streaming registry, whose ingest filters
    tombstoned record ids on every (re)delivery — at-least-once cannot
    distinguish a replayed epoch from a resubmission, so epoch replay
    cannot resurrect an erased record in store or sink. Returns
    erase_rows' ``{rows_before, rows_erased, rows_after}``.
    """
    from .dedup import _resolve_tombstone, tombstone_store_path
    from .layout import erase_rows

    keys = ids.select(id_col)
    with staged(spark):
        if _resolve_tombstone(spark, store_path, tombstone):
            keys = stage(keys)
            keys.write.mode("append").parquet(tombstone_store_path(store_path))
        return erase_rows(spark, store_path, keys, key_col=id_col)

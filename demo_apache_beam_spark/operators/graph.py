"""Iterative graph operators — connected components over duplicate-pair
edges.

Dedup operators (``operators/dedup.py``) emit *pairs*; a pipeline needs
*clusters* (pick one canonical document per group of mutual duplicates,
drop the rest). Pairs → clusters is connected components: each document
gets the minimum doc-id of its component as ``cluster_id``.

Algorithm: min-label propagation with **pointer doubling**. Every
iteration does

1. neighbor step — ``l(v) ← min(l(v), min{l(u) : (u,v) ∈ E})`` over the
   symmetrized edge list, and
2. pointer-jumping step — ``l(v) ← l(l(v))`` (labels are always node
   ids, so the label table can be self-joined as a parent table).

The neighbor step alone needs O(diameter) rounds on a path graph; the
doubling step shortcuts label chains so convergence is O(log n) rounds —
this is what makes the loop viable on billion-edge dup graphs, where
every round is a full shuffle. Each round is two equi-joins + one
aggregate; the label table is staged per round (``checkpoints.stage``,
a ``localCheckpoint`` that an enclosing ``staged`` scope releases) to cut
the exponentially-growing lineage, and the convergence check is a single
exact sum of the labels (a scalar per round to the driver — the loop is
driver-coordinated but never moves data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import stage


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components of the undirected graph given by ``edges``.

    Returns ``(id, cluster_id)`` where ``cluster_id`` is the component's
    minimum vertex id. ``vertices`` (one ``id`` column) optionally adds
    isolated nodes, which come back as their own singleton cluster.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sym = stage(sym.filter(F.col("s") != F.col("d")).distinct())

    from pyspark.sql import Observation

    labels = sym.select(F.col("s").alias("id")).distinct()
    if vertices is not None:
        labels = labels.unionByName(
            vertices.select(F.col(vertices.columns[0]).alias("id"))
        ).distinct()

    def _sum_metric():
        return F.sum(F.col("label").cast("decimal(38,0)")).alias("s")

    obs0 = Observation()
    labels = stage(
        labels.withColumn("label", F.col("id")).observe(obs0, _sum_metric())
    )

    # Convergence probe: labels are node ids and per-vertex monotonically
    # NON-INCREASING (neighbor step takes least(own, ...); the jump step
    # replaces label with label(label) <= label because label(x) <= x holds
    # inductively from the identity initialization). So the label table is
    # at a fixpoint iff sum(label) is unchanged — one exact decimal
    # aggregate instead of the previous join-old-vs-new + count.
    # Decimal(38,0) keeps the sum exact at any vertex count. The sum rides
    # each eager-checkpoint action (the initial one included) as an
    # ``observe`` metric, so the probe costs NO extra job and NO extra
    # pass over the label table — the rows stream through the aggregate
    # while being materialized.
    prev_sum = obs0.get["s"]
    for _ in range(max_iterations):
        # 1. neighbor min: pull each neighbor's current label across edges
        nbr = (
            sym.join(labels, sym.d == labels.id)
            .groupBy("s")
            .agg(F.min("label").alias("_nmin"))
        )
        stepped = (
            labels.join(nbr, labels.id == nbr.s, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("_nmin", F.col("label"))
                ).alias("label"),
            )
        )
        # 2. pointer jumping: follow one's label to ITS label (labels are
        # node ids, so the table self-joins as its own parent relation)
        parent = stepped.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        jumped = (
            stepped.join(parent, stepped.label == F.col("_pid"), "left")
            .select(
                "id",
                F.coalesce("_plabel", "label").alias("label"),
            )
        )
        obs = Observation()
        jumped = stage(jumped.observe(obs, _sum_metric()))
        labels = jumped
        new_sum = obs.get["s"]  # delivered by the checkpoint action itself
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("id", F.col("label").alias("cluster_id"))


def duplicate_clusters(
    pairs: DataFrame,
    corpus_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster assignment from dup-pair output: every document of
    ``corpus_ids`` labeled with its component's min doc-id (itself if it
    has no duplicates)."""
    comp = connected_components(
        pairs, vertices=corpus_ids.select(id_col), src="id_a", dst="id_b"
    )
    return comp.select(F.col("id").alias(id_col), "cluster_id")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src_id",
    dst: str = "dst_id",
    checkpoint_every: int = 1,
    edges_distinct: bool = False,
) -> DataFrame:
    """PageRank over the directed graph given by ``edges``.

    Returns ``(id, pagerank)`` with ranks summing to ~1. Classic power
    iteration as repeated DataFrame joins — the canonical iterative
    algorithm on Spark:

    - out-degrees are computed ONCE and stay joined to the rank table, so
      each round is one equi-join (ranks x edges, shuffled on the source
      key) + one partial-aggregating groupBy on the destination key;
    - dangling-node mass (vertices with no out-edges) is collected as a
      scalar per round and redistributed uniformly — one driver double,
      not a data move. Whether dangling vertices exist at all is decided
      ONCE before the loop (out-degrees never change), so graphs with
      none — every k-out-regular kNN graph — skip the per-round
      collect job entirely;
    - the rank table is staged each round: without it the
      lineage doubles per iteration and stage-retry cost explodes —
      the same discipline as ``connected_components`` above.

    Rank sums accumulate in float; results are deterministic up to
    combine order (~1e-15 per round), which is why the registry exposes
    this rows-only with an independent numpy reference test instead of a
    SQL oracle.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # Parallel edges collapse (classic PageRank treats the edge SET).
    # ``edges_distinct=True`` is the caller's contract that (src, dst)
    # pairs are already unique — e.g. a kNN graph's top-k-per-source rows
    # — which skips a full edge shuffle + aggregate per call; distinct on
    # an already-distinct set is the identity, so output is unchanged.
    if not edges_distinct:
        e = e.distinct()
    e = stage(e)
    from pyspark.sql import Observation

    # Driver scalars ride the materialization actions as ``observe``
    # metrics instead of running their own jobs: |V| comes off the vertex
    # checkpoint; the dangling mass (sum of rank over out-degree-0
    # vertices) comes off every rank checkpoint — replacing the old
    # per-call count / dangling-probe jobs and the per-round filter+agg
    # job (each an extra action and an extra |V| pass). Metrics stream by
    # during the checkpoint for free.
    obs_n = Observation()
    verts = stage(
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
        .observe(obs_n, F.count(F.lit(1)).alias("n"))
    )

    def _dangling_metric():
        return F.sum(
            F.when(F.col("outdeg") == 0, F.col("rank")).otherwise(F.lit(0.0))
        ).alias("d")

    n = obs_n.get["n"]
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    # ranks carry outdeg along so the per-round join is edges x ranks only
    obs = Observation()
    ranks = stage(
        verts.join(outdeg, verts.id == outdeg.s, "left").select(
            "id", F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
            F.lit(1.0 / n).alias("rank"),
        ).observe(obs, _dangling_metric())
    )

    # initial rank is uniformly 1/n > 0, so dangling MASS > 0 on the first
    # checkpoint ⟺ some vertex has no out-edges — no separate probe job
    has_dangling = (obs.get["d"] or 0.0) > 0.0
    for i in range(iterations):
        dangling = (obs.get["d"] or 0.0) if has_dangling else 0.0
        contribs = (
            e.join(ranks, e.s == ranks.id)
            .select("d", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("inflow"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = ranks.join(contribs, ranks.id == contribs.d, "left").select(
            "id",
            "outdeg",
            (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "rank"
            ),
        )
        # checkpoint every `checkpoint_every` rounds. Default 1 —
        # measured r6 at sf0.1 on the kNN graph (CLEAN session per
        # sample, graph pre-materialized, median-of-3): cadence-1 6.24s
        # vs cadence-2 7.08s vs cadence-3 7.50s. The r5 every-other-round
        # change (e27a680) claimed ~25% savings but measured a ~13%
        # REGRESSION once isolated from ambient noise: at 10 rounds x 32
        # partitions the un-truncated odd-round plan re-executes two
        # rounds of join+agg lineage wherever a shuffle file isn't
        # reused, costing more than the barrier it saves. Dangling
        # graphs checkpoint every round regardless — the per-round
        # scalar collect would otherwise recompute the un-truncated
        # plan.
        if (
            has_dangling
            or i % max(1, checkpoint_every) == max(1, checkpoint_every) - 1
            or i == iterations - 1
        ):
            obs = Observation()
            ranks = stage(ranks.observe(obs, _dangling_metric()))
    return ranks.select("id", F.col("rank").alias("pagerank"))


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "weight",
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src_id",
    dst: str = "dst_id",
    checkpoint_every: int = 1,
    edges_distinct: bool = False,
) -> DataFrame:
    """PageRank with **weighted** edges: rank flows out of a vertex in
    proportion to edge weight (``w / Σ w_out``) instead of uniformly —
    on a similarity graph this makes strong near-duplicate links carry
    more centrality than marginal ones, which is what hub/template
    detection actually wants. Weights must be positive (similarity
    graphs use an affine shift like ``1 + cosine`` to guarantee it);
    zero-total-out vertices are dangling exactly as in :func:`pagerank`.

    Plan shape is identical to the unweighted operator: per-round ONE
    equi-join (ranks × edges on the source key, with the out-weight
    denominator pre-joined once) + one partial-aggregating inflow
    groupBy; dangling mass moves as one driver double; per-round
    staging (measured cadence — see :func:`pagerank`).
    Deterministic up to float combine order (~1e-15/round); the
    registry rounds to 6 dp on both engines, same margin as the
    unweighted oracle.
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # Parallel edges' weights add (the weighted analogue of distinct).
    # ``edges_distinct=True`` is the caller's contract that (src, dst) is
    # already unique — the sum-of-one-row groupBy is then the identity and
    # its edge shuffle + aggregate are skipped; output unchanged.
    if not edges_distinct:
        e = e.groupBy("s", "d").agg(F.sum("w").alias("w"))
    e = stage(e)
    from pyspark.sql import Observation

    # |V|, the dangling probe, and the per-round dangling mass all ride
    # checkpoint actions as observe metrics — same zero-extra-jobs
    # discipline as the unweighted operator above
    obs_n = Observation()
    verts = stage(
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
        .observe(obs_n, F.count(F.lit(1)).alias("n"))
    )

    def _dangling_metric():
        return F.sum(
            F.when(F.col("outw") == 0.0, F.col("rank")).otherwise(F.lit(0.0))
        ).alias("d")

    n = obs_n.get["n"]
    outw = e.groupBy("s").agg(F.sum("w").alias("outw"))
    obs = Observation()
    ranks = stage(
        verts.join(outw, verts.id == outw.s, "left").select(
            "id", F.coalesce("outw", F.lit(0.0)).alias("outw"),
            F.lit(1.0 / n).alias("rank"),
        ).observe(obs, _dangling_metric())
    )

    # initial rank is uniformly 1/n > 0: dangling mass > 0 ⟺ dangling exists
    has_dangling = (obs.get["d"] or 0.0) > 0.0
    for i in range(iterations):
        dangling = (obs.get["d"] or 0.0) if has_dangling else 0.0
        contribs = (
            e.join(ranks, e.s == ranks.id)
            .select("d", (F.col("rank") * F.col("w") / F.col("outw")).alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("inflow"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = ranks.join(contribs, ranks.id == contribs.d, "left").select(
            "id",
            "outw",
            (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "rank"
            ),
        )
        if (
            has_dangling
            or i % max(1, checkpoint_every) == max(1, checkpoint_every) - 1
            or i == iterations - 1
        ):
            obs = Observation()
            ranks = stage(ranks.observe(obs, _dangling_metric()))
    return ranks.select("id", F.col("rank").alias("pagerank"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src_id",
    dst: str = "dst_id",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) — community
    detection over the undirected graph given by ``edges``; the coarser,
    density-driven sibling of :func:`connected_components` (which only
    finds reachability): on a kNN similarity graph, communities are the
    template/near-dup clusters worth inspecting together.

    Every vertex starts with its own id as label; each round it adopts
    the most frequent label among its neighbors (ties → smallest label,
    making the fixed round count fully deterministic — the classic
    async/random variant is not reproducible, so distributed engines
    including GraphFrames use exactly this synchronous determinization).

    Each round is one shuffle join (labels × symmetrized edges) + two
    partial aggregates: count per (vertex, label), then per-vertex
    argmax as one ``max(struct(count, -label))`` — no window sort. The
    label table is staged per round (same lineage
    discipline as pagerank); rounds are O(E) shuffles, the standard
    distributed LPA cost.

    Returns (id, label) — vertices sharing a label form a community.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = stage(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    labels = stage(
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for i in range(iterations):
        neigh = und.join(labels, und.a == labels.id).select(
            F.col("b").alias("v"), "label"
        )
        counts = neigh.groupBy("v", "label").agg(F.count(F.lit(1)).alias("n"))
        best = counts.groupBy("v").agg(
            F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("m")
        )
        labels = best.select(
            F.col("v").alias("id"), (-F.col("m.neg")).alias("label")
        )
        # per-round checkpoint: measured faster than every-other-round
        # (see the pagerank cadence measurement; LPA medians 3.74s vs
        # 3.95s at sf0.1, clean sessions)
        labels = stage(labels)
    return labels


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "src_id",
    dst: str = "dst_id",
) -> DataFrame:
    """Multi-source BFS hop distance, bounded to ``rounds`` hops.

    ``seeds`` is a one-column table of start vertices; returns
    ``(id, dist)`` for every vertex reachable within ``rounds`` hops of
    ANY seed (seeds themselves at dist 0) over the UNDIRECTED graph of
    ``edges``. The per-round relaxation is the min-plus step

        dist_r(v) = min(dist_{r-1}(v), 1 + min{dist_{r-1}(u) : u~v})

    — one equi-join (frontier × edges) + one min-aggregate per round,
    with the distance table staged per round (the same
    lineage discipline as the other iterative operators). A fixed round
    count makes the result purely integer and deterministic, which is
    what lets the registry back it with an unrolled SQL oracle. Rounds
    are O(E) shuffles; for unbounded reachability use
    :func:`connected_components` (pointer doubling) instead — BFS is the
    right tool when the HOP COUNT is the answer (expansion profiling,
    contamination blast-radius, seed-set coverage).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = stage(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    dist = stage(
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for i in range(rounds):
        nbr = und.join(dist, und.a == dist.id).select(
            F.col("b").alias("id"), (F.col("dist") + F.lit(1)).alias("dist")
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        # per-round checkpoint (see the pagerank cadence measurement)
        dist = stage(dist)
    return dist

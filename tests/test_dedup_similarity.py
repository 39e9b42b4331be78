"""Behavioral tests for the rows-only operators (no DuckDB oracle):
MinHash+LSH, SimHash, LSH kNN — asserted against planted duplicates and
the exact brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_MEDIUM, SF_SMALL
from demo_apache_beam_spark.queries import REGISTRY, _neardup_corpus
from demo_apache_beam_spark.sources.tables import load_table


def _planted_pairs(spark):
    """Every planted near-dup is (doc_id, doc_id + 1000000) for id % 11 == 0."""
    docs = load_table(spark, SF_SMALL, "documents")
    ids = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 11 == 0).collect()]
    return {(i, i + 1000000) for i in ids}


def test_minhash_finds_planted_near_dups(spark):
    got = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_minhash"].fn(spark, SF_SMALL).collect()
    }
    planted = _planted_pairs(spark)
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"minhash recall {recall}: {planted - got}"
    # verification step bounds precision: every reported pair really is similar
    jacc = REGISTRY["dedup_minhash"].fn(spark, SF_SMALL)
    assert jacc.filter(F.col("jaccard") < 0.5).count() == 0


def test_minhash_portable_finds_planted_near_dups(spark):
    """The md5-chain (oracle-checkable) hash family must keep the planted
    recall despite running half the hashes (k=16, bands=4 vs 32/8) —
    value parity with DuckDB is pinned separately by test_oracle_parity."""
    got = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_minhash_portable"].fn(spark, SF_SMALL).collect()
    }
    planted = _planted_pairs(spark)
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"portable minhash recall {recall}: {planted - got}"
    jacc = REGISTRY["dedup_minhash_portable"].fn(spark, SF_SMALL)
    assert jacc.filter(F.col("jaccard") < 0.5).count() == 0


# an exact twin pair, then one to four words of the base swapped out
# (graded similarity, so band collisions depend on the signature
# values), and one document that shares no shingle with the rest
_SIG_BASE = "the quick brown fox jumps over the lazy dog by the river bank"


def _swap_words(positions):
    words = _SIG_BASE.split()
    for p in positions:
        words[p] = f"xx{p}"
    return " ".join(words)


_SIG_DOCS = [
    (1, _SIG_BASE),
    (2, _SIG_BASE),
    (3, _swap_words([3])),
    (4, _swap_words([1, 7])),
    (5, _swap_words([2, 6, 10])),
    (6, _swap_words([0, 4, 8, 11])),
    (7, "sailing ships cross vast oceans guided by stars and seasoned captains"),
]


@pytest.mark.parametrize("portable", [False, True], ids=["xxhash64", "md5"])
@pytest.mark.parametrize("num_hashes,bands", [(16, 4), (32, 8), (16, 16)])
def test_minhash_pairs_signatures_match_aggregate(spark, portable, num_hashes, bands):
    """The per-row array_min signatures staged by minhash_dedup_pairs must
    be the documented seeded minima of minhash_signatures: with
    verification off, its pairs are exactly the LSH candidates banded
    from the aggregate signatures, for both hash families."""
    from demo_apache_beam_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame(_SIG_DOCS, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            df,
            num_hashes=num_hashes,
            bands=bands,
            verify_threshold=0.0,
            portable=portable,
        ).collect()
    }
    sigs = minhash_signatures(df, num_hashes=num_hashes, portable=portable)
    expect = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            sigs, num_hashes=num_hashes, bands=bands, portable=portable
        ).collect()
    }
    assert got == expect
    # the exact twins collide in every band; the unrelated document
    # shares no shingle, so it pairs with nothing
    assert (1, 2) in expect
    assert not any(7 in p for p in expect)


def test_near_dup_clusters_group_planted_pairs(spark):
    """Composed capstone: planted near-dup pairs that the portable pipeline
    catches must land in one cluster, and labels are component minima."""
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_near_clusters"].fn(spark, SF_SMALL).collect()
    }
    planted = _planted_pairs(spark)
    grouped = {(a, b) for (a, b) in planted if labels[a] == labels[b]}
    assert len(grouped) / len(planted) >= 0.9
    assert all(c <= d for d, c in labels.items())


def test_simhash_finds_planted_near_dups(spark):
    got = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_simhash"].fn(spark, SF_SMALL).collect()
    }
    planted = _planted_pairs(spark)
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"simhash recall {recall}"


def test_simhash_portable_finds_planted_near_dups(spark):
    """The md5-bit (oracle-checkable) hash family on the FIXED probe path
    must keep the planted recall — probe-key parity with DuckDB is pinned
    by test_oracle_parity."""
    got = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_simhash_portable"].fn(spark, SF_SMALL).collect()
    }
    planted = _planted_pairs(spark)
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"portable simhash recall {recall}"


def test_simhash_probe_strategy_recall(spark):
    """The corpus-scale probe path (Manku two-block 16-bit keys over 3
    rotations) must keep ≥0.9 recall on the planted pairs — the registry
    query auto-picks the exact pairwise path at this corpus size, so the
    probe machinery is pinned here."""
    from demo_apache_beam_spark.operators.dedup import simhash_near_pairs

    out = simhash_near_pairs(
        _neardup_corpus(spark, SF_SMALL), max_hamming=12, strategy="probe"
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = _planted_pairs(spark)
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"probe-path recall {recall}"


def test_simhash_pairwise_equals_probe_superset(spark):
    """Pairwise is exact: it must find every pair the probe path finds,
    at identical hamming values."""
    from demo_apache_beam_spark.operators.dedup import simhash_near_pairs

    corpus = _neardup_corpus(spark, SF_SMALL)
    probe = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(corpus, max_hamming=12, strategy="probe").collect()
    }
    pairwise = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(corpus, max_hamming=12, strategy="pairwise").collect()
    }
    assert set(probe) <= set(pairwise)
    for k, h in probe.items():
        assert pairwise[k] == h


def test_simhash_identical_docs_distance_zero(spark):
    from demo_apache_beam_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_sql_signature_matches_numpy_signatures(spark):
    """The pure-SQL hyperplane signature (signature_col) and the numpy
    matmul path (_table_sigs) must bucket identically — they are the same
    function at two execution tiers."""
    from pyspark.sql import functions as F

    from demo_apache_beam_spark.operators.similarity import (
        _as_double,
        _table_sigs,
        hyperplanes,
        signature_col,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").limit(50)
    planes = hyperplanes(dim=64, num_planes=4, seed=123)
    v = emb.select("vec_id", _as_double(F.col("embedding")).alias("_v"))
    sql_sigs = {
        r["vec_id"]: r["sig"]
        for r in v.select("vec_id", signature_col(F.col("_v"), planes).alias("sig")).collect()
    }
    np_sigs = {
        r["vec_id"]: r["_sig"]
        for r in _table_sigs(v, "vec_id", "_v", [planes]).collect()
    }
    assert sql_sigs == np_sigs


def test_cosine_pairs_oracle_parity(spark):
    """Exact embedding near-dup must match the naive pairwise oracle
    bit-for-bit (block-matmul candidates + canonical re-verify)."""
    from conftest import assert_parity

    assert_parity(spark, "dedup_embedding_cosine")


def test_cosine_pairs_forced_multi_block_split(spark):
    """A tiny max_block_rows forces the bucket cap to raise B well above
    the requested blocks (500 vectors / 32 rows -> B=16 from blocks=2);
    the split must not change the answer."""
    import pytest

    from demo_apache_beam_spark.operators.similarity import cosine_pairs

    emb = load_table(spark, SF_SMALL, "embeddings")
    base = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs(emb, threshold=0.3).collect()
    }
    split = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs(
            emb, threshold=0.3, blocks=2, max_block_rows=32
        ).collect()
    }
    assert set(base) == set(split)
    for k in base:
        assert split[k] == pytest.approx(base[k], abs=0)


def test_cosine_pairs_string_ids_and_type_validation(spark):
    """String id columns are supported (output schema follows the input);
    unsupported id types fail fast with a clear message instead of an
    opaque executor-side numpy conversion error."""
    import pytest

    from demo_apache_beam_spark.operators.similarity import cosine_pairs

    emb = load_table(spark, SF_SMALL, "embeddings").limit(100)
    as_str = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    base = {
        (f"doc-{r['id_a']}", f"doc-{r['id_b']}")
        for r in cosine_pairs(emb, threshold=0.3).collect()
        if r["id_a"] < 100 and r["id_b"] < 100
    }
    got_rows = cosine_pairs(as_str, threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    # pair ordering is lexicographic for strings, so compare unordered
    assert {frozenset(p) for p in got} == {frozenset(p) for p in base}
    for r in got_rows:
        assert r["id_a"] < r["id_b"]

    bad = emb.select(F.col("vec_id").cast("double").alias("vec_id"), "embedding")
    with pytest.raises(TypeError, match="integral or string"):
        cosine_pairs(bad, threshold=0.3)


def test_ivf_knn_recall_vs_brute_force(spark):
    exact = REGISTRY["embedding_knn"].fn(spark, SF_SMALL).collect()
    approx = REGISTRY["embedding_knn_ivf"].fn(spark, SF_SMALL).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe/nlist = 4/16 scans ~25% of the corpus; near neighbors
    # concentrate in the probed cells so recall is far above 25%
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # approximate results never invent pairs: cosines match exact values
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(exact_cos[key] - r["cosine"]) < 1e-12


def test_lsh_knn_recall_vs_brute_force(spark):
    exact = REGISTRY["embedding_knn"].fn(spark, SF_SMALL).collect()
    approx = REGISTRY["embedding_knn_lsh"].fn(spark, SF_SMALL).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # LSH trades recall for a ~2^bits cheaper search; with 10 planes +
    # multiprobe on 500 vectors we expect decent but not perfect recall.
    assert recall >= 0.5, f"LSH recall {recall} too low"
    # every approx cosine must match the exact computation for that pair
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        k = (r["query_id"], r["neighbor_id"])
        if k in exact_cos:
            assert abs(exact_cos[k] - r["cosine"]) < 1e-12


def test_semantic_dedup_reference_equivalence(spark):
    """semantic_dedup must reproduce an independent sequential reference:
    same cell assignment pipeline, then a per-cell greedy ascending-id
    sweep implemented from scratch in numpy on the driver."""
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import ivf_build, semantic_dedup
    from demo_apache_beam_spark.sources.tables import load_table

    tau = 0.4
    emb = load_table(spark, SF_SMALL, "embeddings")
    index = ivf_build(emb, nlist=8, corpus_size_hint=500)
    got = {
        r["vec_id"]: (r["cell"], r["kept"], r["max_prior_sim"])
        for r in semantic_dedup(emb, nlist=8, tau=tau, index=index).collect()
    }
    assert len(got) == emb.count()

    # independent reference: same assignments, scratch greedy
    assigned = {r["neighbor_id"]: r["_cell"] for r in index[0].collect()}
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    cells: dict[int, list[int]] = {}
    for vid, cell in assigned.items():
        cells.setdefault(cell, []).append(vid)
    for cell, vids in cells.items():
        kept_vecs: list[np.ndarray] = []
        for vid in sorted(vids):
            v = vecs[vid]
            v = v / (np.linalg.norm(v) or 1.0)
            best = max((float(v @ k) for k in kept_vecs), default=-1.0)
            want_kept = best < tau
            g_cell, g_kept, g_best = got[vid]
            assert g_cell == cell
            assert g_kept == want_kept, (vid, best, g_best)
            assert abs(g_best - best) < 1e-5, (vid, best, g_best)
            if want_kept:
                kept_vecs.append(v)


def test_semantic_dedup_drops_planted_duplicates(spark):
    """Planted exact/near duplicates of corpus vectors must be dropped
    (kept=False) while the originals survive; registry τ=0.4 on the
    synthetic embeddings leaves a non-trivial kept/dropped split."""
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    rows = [(i, base[i].tolist()) for i in range(40)]
    # ids 1000+i duplicate vector i with tiny noise -> cosine ~1
    rows += [
        (1000 + i, (base[i] + 0.001 * rng.randn(16)).tolist()) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["kept"] for r in
           semantic_dedup(df, nlist=4, tau=0.95, corpus_size_hint=50).collect()}
    for i in range(10):
        assert out[i], "original must be kept (lower id wins the greedy sweep)"
        assert not out[1000 + i], "planted near-duplicate must be dropped"


def test_duplicate_span_removal_semantics(spark):
    """Planted cases: a shared mid-document span is removed from BOTH
    carriers while each doc's unique prefix/suffix survives; a doc
    shorter than the span passes through whole; an exact-duplicate pair
    collapses to empty text on both sides."""
    from demo_apache_beam_spark.operators.dedup import duplicate_span_removal

    shared = " ".join(f"s{i}" for i in range(8))  # 8-token shared run
    doc1 = f"a1 a2 a3 {shared} z1 z2 z3"
    doc2 = f"b1 b2 {shared} y1 y2 y3 y4"
    dup = " ".join(f"d{i}" for i in range(10))
    rows = [
        (1, doc1),
        (2, doc2),
        (3, dup),
        (4, dup),
        (5, "tiny doc below span width"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in duplicate_span_removal(df, span_tokens=6, max_df=1).collect()
    }
    # every 6-token window inside the 8-token shared run is duplicated;
    # coverage removes exactly the 8 shared tokens from both docs
    assert out[1] == (14, 8, "a1 a2 a3 z1 z2 z3")
    assert out[2] == (14, 8, "b1 b2 y1 y2 y3 y4")
    # exact duplicates: every window duplicated, all tokens removed
    assert out[3] == (10, 10, "")
    assert out[4] == (10, 10, "")
    # below the span width: no window exists, doc passes through
    assert out[5] == (5, 0, "tiny doc below span width")


def test_semantic_dedup_hash_cells_matches_sequential_reference(spark):
    """The oracle-backed variant: hyperplane cells + greedy sweep must
    equal a from-scratch sequential reference (own signature math, own
    sweep), and planted near-duplicates must drop."""
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import (
        hyperplanes,
        semantic_dedup_hash_cells,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(60, 16)
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [
        (2000 + i, (base[i] + 0.001 * rng.randn(16)).tolist()) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tau = 0.95
    got = {
        r["vec_id"]: (r["cell"], r["kept"], r["max_prior_sim"])
        for r in semantic_dedup_hash_cells(
            df, num_planes=3, tau=tau, dim=16
        ).collect()
    }
    assert len(got) == len(rows)

    planes = np.asarray(hyperplanes(16, 3), dtype=np.float64)
    vecs = {vid: np.asarray(v, dtype=np.float64) for vid, v in rows}
    by_cell: dict[int, list[int]] = {}
    for vid, v in vecs.items():
        cell = sum(1 << b for b in range(3) if float(planes[b] @ v) >= 0.0)
        by_cell.setdefault(cell, []).append(vid)
    for cell, vids in by_cell.items():
        kept_u: list[np.ndarray] = []
        for vid in sorted(vids):
            v = vecs[vid]
            u = v / np.linalg.norm(v)
            best = max((float(u @ k) for k in kept_u), default=-1.0)
            g_cell, g_kept, g_best = got[vid]
            assert g_cell == cell, vid
            assert g_kept == (best < tau), (vid, best)
            assert abs(g_best - best) < 1e-9, (vid, best, g_best)
            if best < tau:
                kept_u.append(u)
    # a planted near-duplicate landing in its original's cell must drop
    dropped = [vid for vid, (c, kept, b) in got.items() if vid >= 2000 and not kept]
    assert dropped, "at least some planted dups share a cell and drop"


def test_blocked_topk_matches_hof_fold_and_chunks(spark):
    """brute_force_topk_blocked must return the identical (query, neighbor,
    cosine, rank) set as the zip_with/aggregate fold — including with a
    tiny score_budget that forces many sub-chunks per Arrow batch."""
    from demo_apache_beam_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blocked,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    for budget in (32_000_000, 5_000):  # one chunk vs ~100-row chunks
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in brute_force_topk_blocked(
                emb, q, k=3, score_budget=budget
            ).collect()
        }
        assert got.keys() == want.keys()
        for key, (nid, cos) in want.items():
            gnid, gcos = got[key]
            assert gnid == nid, (budget, key)
            assert gcos == cos, (budget, key)  # bit-identical, not approx


def test_blocked_topk_query_chunking_is_bit_identical(spark):
    """Forcing the query side through >=3 bounded blocks (the 100-TB
    queries==corpus shape: collect+broadcast one block at a time, eager
    per-block materialization, broadcast freed between blocks) must be
    bit-identical to the single-block pass."""
    from demo_apache_beam_spark.operators.similarity import (
        brute_force_topk_blocked,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")  # 500 vectors
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    single = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in brute_force_topk_blocked(emb, q, k=3).collect()
    }
    assert len({qid for qid, _ in single}) == 500
    chunked = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in brute_force_topk_blocked(
            emb, q, k=3, query_block_rows=150  # 500 rows -> 4 blocks
        ).collect()
    }
    assert chunked == single  # exact doubles, not approx


def test_blocked_topk_rejects_zero_norm_like_fold(spark):
    """Zero-norm vectors are outside the cosine contract. The fold path
    fails loudly (ANSI DIVIDE_BY_ZERO); the blocked kernel must ALSO fail
    loudly — a silent isfinite() filter would let the two implementations
    disagree on degenerate inputs (ADVICE r4)."""
    import pytest

    from demo_apache_beam_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_blocked,
    )

    rows = [
        (0, [0.0, 0.0, 0.0]),  # zero-norm
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    good_q = q.filter(F.col("query_id") != 0)

    with pytest.raises(Exception):  # ANSI DIVIDE_BY_ZERO from the fold
        brute_force_topk(df, q, k=2).collect()
    # blocked kernel: zero-norm in the QUERY set raises on the driver
    with pytest.raises(ValueError, match="zero-norm"):
        brute_force_topk_blocked(df, q, k=2).collect()
    # zero-norm in the CORPUS raises in the executor kernel
    with pytest.raises(Exception, match="zero-norm"):
        brute_force_topk_blocked(df, good_q, k=2).collect()


def test_pq_topk_recall_vs_brute_force(spark):
    """PQ asymmetric-distance top-k must recover most of the exact
    top-10 (quantization is lossy by design; the contract is recall,
    same as LSH/IVF). Also pins determinism: two runs, identical codes
    and ranking."""
    from demo_apache_beam_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in brute_force_topk(emb, q, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def run():
        got = {}
        for r in pq_topk(emb, q, k=10, m=8, ksub=16).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return got

    got = run()
    hits = sum(len(got[qid] & exact[qid]) for qid in exact)
    total = sum(len(exact[qid]) for qid in exact)
    recall = hits / total
    assert recall >= 0.5, f"recall@10 {recall:.3f} below floor"
    assert run() == got  # deterministic: seeded sample, seeded k-means


def test_pq_codes_shape_and_determinism(spark):
    """Codes are m small ints in [0, ksub); encoding is deterministic."""
    from demo_apache_beam_spark.operators.similarity import pq_build
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    codes_df, codebooks = pq_build(emb, m=8, ksub=16, corpus_size_hint=500)
    assert codebooks.shape == (8, 16, 8)  # 64-dim / m=8
    rows = codes_df.collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert len(r["_codes"]) == 8
        assert all(0 <= c < 16 for c in r["_codes"])


class TestSegmentDedup:
    def _corpus(self, spark):
        # doc 1 and 2 share their first 32-token segment (boilerplate
        # header); doc 3 is an exact duplicate of doc 1; doc 4 is unique.
        header = " ".join(f"h{i}" for i in range(32))
        body1 = " ".join(f"a{i}" for i in range(32))
        body2 = " ".join(f"b{i}" for i in range(32))
        body4 = " ".join(f"c{i}" for i in range(10))  # short tail segment
        return spark.createDataFrame(
            [
                (1, f"{header} {body1}"),
                (2, f"{header} {body2}"),
                (3, f"{header} {body1}"),
                (4, body4),
            ],
            "doc_id long, text string",
        )

    def test_shared_segments_dropped_from_all_carriers(self, spark):
        from demo_apache_beam_spark.operators.dedup import segment_dedup

        out = {
            r["doc_id"]: r
            for r in segment_dedup(self._corpus(spark), chunk=32).collect()
        }
        assert len(out) == 4
        # the header is carried by docs 1,2,3 -> dropped everywhere
        assert all("h0" not in out[d]["text_dedup"] for d in (1, 2, 3))
        # doc 1 and its exact copy doc 3 also share body1 -> both empty
        assert out[1]["n_kept"] == 0 and out[1]["text_dedup"] == ""
        assert out[3]["n_kept"] == 0 and out[3]["text_dedup"] == ""
        # doc 2 keeps only its unique body, in original content
        assert out[2]["n_segments"] == 2 and out[2]["n_kept"] == 1
        assert out[2]["text_dedup"] == " ".join(f"b{i}" for i in range(32))
        # doc 4 is untouched (single short segment, df=1)
        assert out[4]["n_kept"] == 1 and out[4]["text_dedup"].startswith("c0 ")

    def test_segment_order_preserved(self, spark):
        from demo_apache_beam_spark.operators.dedup import segment_dedup

        seg = lambda tag: " ".join(f"{tag}{i}" for i in range(32))
        df = spark.createDataFrame(
            [(1, " ".join(seg(t) for t in ("x", "y", "z")))],
            "doc_id long, text string",
        )
        row = segment_dedup(df, chunk=32).collect()[0]
        assert row["n_segments"] == 3 and row["n_kept"] == 3
        assert row["text_dedup"] == " ".join(seg(t) for t in ("x", "y", "z"))

    def test_max_df_threshold(self, spark):
        from demo_apache_beam_spark.operators.dedup import segment_dedup

        out = {
            r["doc_id"]: r
            for r in segment_dedup(self._corpus(spark), chunk=32, max_df=3).collect()
        }
        # df=3 header now survives everywhere
        assert all(out[d]["text_dedup"].startswith("h0 ") for d in (1, 2, 3))


def test_ivf_index_save_load_round_trip(spark, tmp_path):
    """Persisted index must answer queries identically to the in-memory
    one (same assignments, same quantizer -> same probed cells -> same
    exact scores)."""
    from demo_apache_beam_spark.operators.similarity import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_topk,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(20).withColumnRenamed("vec_id", "query_id")
    index = ivf_build(emb, nlist=8, corpus_size_hint=500)
    mem = ivf_topk(emb, queries, k=5, nlist=8, index=index).collect()

    ivf_save(index, str(tmp_path / "ivf"))
    loaded = ivf_load(spark, str(tmp_path / "ivf"))
    disk = ivf_topk(emb, queries, k=5, nlist=8, index=loaded).collect()

    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 12), r["rank"])
        for r in rows
    )
    assert key(mem) == key(disk)
    # quantizer survives byte-exact
    import numpy as np

    assert np.array_equal(index[1], loaded[1])


def test_lsh_index_save_load_round_trip(spark, tmp_path):
    """The persisted LSH signature table must answer identically to the
    inline build — and identically to a fully inline lsh_topk, since the
    planes regenerate bit-exactly from the stored seed."""
    from demo_apache_beam_spark.operators.similarity import (
        lsh_build,
        lsh_load,
        lsh_save,
        lsh_topk,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(15).withColumnRenamed("vec_id", "query_id")
    inline = lsh_topk(
        emb, queries, k=5, dim=64, num_tables=8, corpus_size_hint=500
    ).collect()

    index = lsh_build(emb, num_tables=8, dim=64, corpus_size_hint=500)
    lsh_save(index, str(tmp_path / "lsh"))
    loaded = lsh_load(spark, str(tmp_path / "lsh"))
    assert loaded[1] == index[1]  # params round-trip
    disk = lsh_topk(emb, queries, k=5, index=loaded).collect()

    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], round(r["cosine"], 12), r["rank"])
        for r in rows
    )
    assert key(inline) == key(disk)


class TestPCA:
    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from demo_apache_beam_spark.operators.similarity import pca_fit, pca_project
        from demo_apache_beam_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        mean, comps, evar = pca_fit(emb, n_components=4)

        rows = emb.select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
        ref_mean = x.mean(axis=0)
        cov = (x - ref_mean).T @ (x - ref_mean) / len(x)
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:4]
        ref_comps = evecs[:, order].T
        for i in range(4):
            j = int(np.argmax(np.abs(ref_comps[i])))
            if ref_comps[i, j] < 0:
                ref_comps[i] = -ref_comps[i]

        assert np.allclose(mean, ref_mean, atol=1e-9)
        assert np.allclose(np.sort(evar)[::-1], np.sort(evals[order])[::-1], atol=1e-9)
        assert np.allclose(comps, ref_comps, atol=1e-7)

        got = {r["vec_id"]: np.asarray(r["pca"]) for r in pca_project(emb, mean, comps).collect()}
        want = (x - ref_mean) @ ref_comps.T
        for i, vid in enumerate(ids):
            assert np.allclose(got[vid], want[i], atol=1e-7)

    def test_partitioning_invariant(self, spark):
        import numpy as np

        from demo_apache_beam_spark.operators.similarity import pca_fit
        from demo_apache_beam_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        m1, c1, _ = pca_fit(emb.repartition(1), n_components=3)
        m8, c8, _ = pca_fit(emb.repartition(8), n_components=3)
        assert np.allclose(m1, m8, atol=1e-9)
        assert np.allclose(c1, c8, atol=1e-7)

    def test_variance_concentrates(self, spark):
        from demo_apache_beam_spark.operators.similarity import pca_fit
        from demo_apache_beam_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        _, _, evar = pca_fit(emb, n_components=8)
        assert all(a >= b - 1e-12 for a, b in zip(evar, evar[1:]))  # descending
        assert evar[0] > 0

    def test_large_mean_no_cancellation(self, spark):
        """|mean| ≫ σ: the naive E[xxᵀ]−μμᵀ form loses every significant
        digit of the covariance (1e16-magnitude moments, O(1) variance);
        pilot-shifted accumulation must still match the centered numpy
        reference (ADVICE r5)."""
        import numpy as np

        from demo_apache_beam_spark.operators.similarity import pca_fit

        n, d, off = 64, 4, 1.0e8
        base = np.asarray(
            [[np.sin(i * 0.7 + j) for j in range(d)] for i in range(n)]
        )
        x = base + off
        rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        mean, comps, evar = pca_fit(df, n_components=2)

        ref_mean = x.mean(axis=0)
        cov = (x - ref_mean).T @ (x - ref_mean) / n
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1][:2]
        ref = evecs[:, order].T
        for i in range(2):
            j = int(np.argmax(np.abs(ref[i])))
            if ref[i, j] < 0:
                ref[i] = -ref[i]
        assert np.allclose(mean, ref_mean, rtol=1e-12)
        assert np.allclose(comps, ref, atol=1e-6)
        assert np.allclose(np.asarray(evar), evals[order], rtol=1e-6)


class TestIncrementalDedup:
    def test_first_seen_wins_across_increments(self, spark, tmp_path):
        from demo_apache_beam_spark.operators.dedup import incremental_exact_dedup

        store = str(tmp_path / "digests")
        day1 = spark.createDataFrame(
            [(10, "alpha"), (11, "beta"), (12, "alpha")],
            "doc_id long, text string",
        )
        day2 = spark.createDataFrame(
            # 5 re-crawls "alpha" with a SMALLER id: must still lose
            [(5, "alpha"), (20, "gamma"), (21, "beta"), (22, "gamma")],
            "doc_id long, text string",
        )
        kept1 = sorted(r["doc_id"] for r in incremental_exact_dedup(day1, store).collect())
        kept2 = sorted(r["doc_id"] for r in incremental_exact_dedup(day2, store).collect())
        assert kept1 == [10, 11]  # min-id winners within day 1
        assert kept2 == [20]      # alpha/beta already accepted; gamma min-id

    def test_matches_sequential_reference_on_documents(self, spark, tmp_path):
        """Three increments over the real table == a sequential first-seen
        scan over the same batches."""
        from demo_apache_beam_spark.operators.dedup import incremental_exact_dedup
        from demo_apache_beam_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        batches = [
            docs.filter(F.col("doc_id") % 3 == i).collect() for i in range(3)
        ]
        seen: set = set()
        expect: list = []
        for rows in batches:
            by_digest: dict = {}
            for r in sorted(rows, key=lambda r: r["doc_id"]):
                by_digest.setdefault(r["text"], r["doc_id"])
            for text, did in by_digest.items():
                if text not in seen:
                    seen.add(text)
                    expect.append(did)

        store = str(tmp_path / "digests")
        got: list = []
        for rows in batches:
            inc = spark.createDataFrame(rows, "doc_id long, text string")
            got += [r["doc_id"] for r in incremental_exact_dedup(inc, store).collect()]
        assert sorted(got) == sorted(expect)

    def test_minhash_band_store_matches_sequential_reference(self, spark, tmp_path):
        """Incremental NEAR-dup (band store): three increments, planted
        near-dups both within an increment and STRADDLING increments,
        must match a sequential reference applying the same cluster
        semantics (drop cluster on history hit, min-id winner otherwise)
        over the same band rows."""
        from demo_apache_beam_spark.operators.dedup import (
            band_rows,
            incremental_minhash_dedup,
            minhash_signatures,
        )

        base_a = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town and children play in the green park near the old stone bridge every single afternoon"
        base_b = "data pipelines shuffle terabytes of text across executors while schedulers balance partitions and optimizers prune columns from scans to keep the cluster busy at all times"
        base_c = "a completely different narrative about sailing ships crossing vast oceans guided by stars and seasoned captains who read the wind better than any modern instrument ever could"
        base_d = "mountains rise sharply above the valley floor where a narrow river cuts through ancient rock carrying meltwater from glaciers that have stood for ten thousand years"

        def near(text: str) -> str:  # ~97% shingle overlap
            return text.rsplit(" ", 1)[0] + " tonight"

        incs = [
            [(1, base_a), (2, base_b), (3, near(base_a))],     # in-batch pair
            [(4, near(base_a)), (5, base_c)],                  # straddles inc 1
            [(6, near(base_b)), (7, base_d), (8, near(base_d))],
        ]

        # --- sequential reference over the SAME band rows -------------
        all_rows = [(i, t) for inc in incs for (i, t) in inc]
        df_all = spark.createDataFrame(all_rows, "doc_id long, text string")
        bands_by_doc: dict[int, set] = {i: set() for i, _ in all_rows}
        for r in band_rows(minhash_signatures(df_all)).collect():
            bands_by_doc[r["doc_id"]].add((r["band_idx"], r["band_hash"]))

        hist: set = set()
        expect: list[int] = []
        for inc in incs:
            ids = [i for i, _ in inc]
            # union-find over shared-band collisions
            parent = {i: i for i in ids}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for i in ids:
                for j in ids:
                    if i < j and bands_by_doc[i] & bands_by_doc[j]:
                        parent[find(j)] = find(i)
            clusters: dict[int, list[int]] = {}
            for i in ids:
                clusters.setdefault(find(i), []).append(i)
            for members in clusters.values():
                if any(bands_by_doc[m] & hist for m in members):
                    continue  # represented by an earlier increment
                win = min(members)
                expect.append(win)
                hist |= bands_by_doc[win]

        # --- the operator ---------------------------------------------
        store = str(tmp_path / "bands")
        got: list[int] = []
        for inc in incs:
            df = spark.createDataFrame(inc, "doc_id long, text string")
            got += [
                r["doc_id"]
                for r in incremental_minhash_dedup(df, store).collect()
            ]
        assert sorted(got) == sorted(expect)
        # the planted semantics themselves: 3 drops to 1; 4 drops to
        # history; 6 drops to history; 8 drops to 7
        assert sorted(got) == [1, 2, 5, 7]

        # full re-crawl of increment 1 under NEW ids: everything near-dups
        # accepted history, nothing survives
        recrawl = spark.createDataFrame(
            [(100 + i, t) for i, t in incs[0]], "doc_id long, text string"
        )
        assert incremental_minhash_dedup(recrawl, store).count() == 0


def test_user_series_topk_matches_corrcoef(spark):
    """Top-correlated peers must agree with numpy corrcoef computed on
    the same gap-filled hourly series."""
    import numpy as np

    from demo_apache_beam_spark.queries import REGISTRY
    from demo_apache_beam_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["user_series_topk"].fn(spark, sf).collect()

    ev = load_table(spark, sf, "events").select("user_id", "ts", "value").collect()
    from collections import defaultdict

    per_hour = defaultdict(float)
    for r in ev:
        h = int(r["ts"].timestamp() // 3600) % 168  # hour-of-week bucket
        per_hour[(r["user_id"], h)] += r["value"]
    users = sorted({u for (u, _) in per_hour})
    mat = np.zeros((len(users), 168))
    for (u, h), v in per_hour.items():
        mat[users.index(u), h] = v
    centered = mat - mat.mean(axis=1, keepdims=True)
    keep = (centered ** 2).sum(axis=1) > 0
    users = [u for u, k in zip(users, keep) if k]
    centered = centered[keep]
    corr = np.corrcoef(centered)
    np.fill_diagonal(corr, -np.inf)

    by_user = defaultdict(list)
    for r in got:
        by_user[r["user_id"]].append(r)
    assert set(by_user) == set(users)
    for ui, u in enumerate(users):
        rows = sorted(by_user[u], key=lambda r: r["rank"])
        want = np.sort(corr[ui])[::-1][: len(rows)]
        for r, w in zip(rows, want):
            # the query rounds correlations to 6 dp for oracle parity
            assert abs(r["correlation"] - w) < 5.1e-7, (u, r["rank"])


def test_dot_col_unrolled_bit_equals_fold(spark):
    """The expr-string unrolled dot must be BIT-identical to the
    interpreted aggregate fold: SQL + is left-associative, so the
    addition sequence matches the fold's exactly (the fold's leading
    0.0+ cannot change a sum)."""
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import dot_col, dot_col_unrolled

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(v) for v in rng.normal(size=23)],
         [float(v) for v in rng.normal(size=23)])
        for i in range(150)
    ]
    # adversarial -0.0 case: EVERY product is -0.0 (-1.0 * +0.0), so a
    # chain without the fold's leading 0.0+ would sum to -0.0 while the
    # fold yields +0.0 — the sign-bit assert below catches the drift
    rows.append((150, [-1.0] * 23, [0.0] * 23))
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = df.select(
        "id",
        dot_col(F.col("a"), F.col("b")).alias("fold"),
        dot_col_unrolled("a", "b", 23).alias("unrolled"),
    ).collect()
    assert len(got) == 151
    import math

    for r in got:
        # TRUE bit equality: == treats -0.0 == 0.0, copysign does not
        assert r["fold"] == r["unrolled"], r["id"]
        assert math.copysign(1.0, r["fold"]) == math.copysign(
            1.0, r["unrolled"]
        ), r["id"]


def test_user_series_topk_lsh_overlap(spark):
    """The LSH-ranked top-5 peer lists must overlap the exact ones ≥0.9
    (150-user corpus, 750 (user, peer) edges): Pearson = cosine on the
    centered profiles, so the ANN graph's recall curve carries over
    unchanged, and refinement keeps emitted correlations exact."""
    from demo_apache_beam_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    exact = {
        (r["user_id"], r["peer_id"])
        for r in REGISTRY["user_series_topk"].fn(spark, sf).collect()
    }
    lsh_rows = REGISTRY["user_series_topk_lsh"].fn(spark, sf).collect()
    lsh = {(r["user_id"], r["peer_id"]) for r in lsh_rows}
    overlap = len(exact & lsh) / len(exact)
    assert overlap >= 0.9, overlap
    # shape: every ranked user keeps exactly 5 peers, no self-pairs
    from collections import Counter

    assert all(r["user_id"] != r["peer_id"] for r in lsh_rows)
    deg = Counter(u for u, _ in lsh)
    assert set(deg.values()) == {5}


def test_topk_incremental_equals_full_recompute(spark):
    """Three corpus deltas maintained incrementally must end bit-identical
    to one scan over the full corpus."""
    from demo_apache_beam_spark.operators.similarity import (
        brute_force_topk,
        topk_incremental_update,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(25).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    deltas = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]

    state = None
    for d in deltas:
        # queries here ARE corpus rows, so self-exclusion is the correct
        # semantics on both sides (the serving default is False)
        state = topk_incremental_update(
            state, d, queries, k=7, exclude_self=True
        ).localCheckpoint()

    full = brute_force_topk(emb, queries, k=7)
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"]) for r in rows
    )
    assert key(state.collect()) == key(full.collect())


def test_topk_incremental_serving_id_collision_keeps_neighbor(spark):
    """Serving default (exclude_self=False): an external query whose id
    numerically collides with a corpus vec_id must still receive that
    vector as a neighbor — the ADVICE r5 hazard."""
    from demo_apache_beam_spark.operators.similarity import (
        topk_incremental_update,
    )

    corpus = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    # external query id 7 collides with corpus vec_id 7; its vector is
    # exactly corpus vector 7, which MUST come back as rank 1
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    rows = {
        r["rank"]: r["neighbor_id"]
        for r in topk_incremental_update(None, corpus, queries, k=2).collect()
    }
    assert rows == {1: 7, 2: 8}


def test_ann_knn_graph_k_exceeds_corpus(spark):
    """k larger than the candidate pool: every vertex keeps all genuine
    neighbors it has (≤ N-1), with contiguous ranks — no crash, no
    phantom edges."""
    from demo_apache_beam_spark.operators.similarity import ann_knn_graph

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann_knn_graph(df, k=10, method="lsh", dim=4, corpus_size_hint=3)
    by_src: dict = {}
    for r in out.collect():
        by_src.setdefault(r["src_id"], []).append(r["rank"])
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 2  # at most N-1 neighbors


def test_incremental_minhash_all_short_docs(spark, tmp_path):
    """An increment of unsignable (below shingle width) docs: everything
    survives as singletons, the store stays absent/empty-compatible, and
    a following normal increment still bootstraps correctly."""
    from demo_apache_beam_spark.operators.dedup import incremental_minhash_dedup

    store = str(tmp_path / "b")
    shorts = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny")], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in incremental_minhash_dedup(shorts, store).collect())
    assert kept == [1, 2]
    long_text = ("the quick brown fox jumps over the lazy dog while rain "
                 "falls on the quiet town near the old stone bridge")
    nxt = spark.createDataFrame([(3, long_text)], "doc_id long, text string")
    assert [r["doc_id"] for r in incremental_minhash_dedup(nxt, store).collect()] == [3]


def test_containment_planted_subsets(spark):
    """Every planted near-dup's original is a strict token subset of its
    copy (the copy appends five new tokens), so (orig -> copy) must
    surface with containment exactly 1.0."""
    got = {
        (r["id_sub"], r["id_super"]): r["containment"]
        for r in REGISTRY["dedup_containment"].fn(spark, SF_SMALL).collect()
    }
    for a, b in _planted_pairs(spark):
        assert got.get((a, b)) == 1.0, f"planted subset ({a},{b}) missing"


def test_containment_prefix_path_matches_reference(spark):
    """The large-vocab prefix path (probe-side prefixes vs full posting
    lists) against a brute-force Python reference on a corpus with
    planted subset/superset structure — and it must agree with the
    bitset path row-for-row."""
    from demo_apache_beam_spark.operators.dedup import containment_pairs

    vocab = [f"tok{i:02d}" for i in range(40)]
    docs = []
    for i in range(20):
        base = [vocab[(i * 7 + j) % 40] for j in range(10 + i % 5)]
        docs.append((i, " ".join(base)))
        if i % 4 == 0:  # plant a superset: base + 1 extra token
            docs.append((100 + i, " ".join(base + [vocab[(i + 17) % 40]])))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sets = {i: set(t.split()) for i, t in docs}
    expect = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a])
        for a in sets
        for b in sets
        if a != b and len(sets[a] & sets[b]) >= 0.9 * len(sets[a])
    }
    for strategy in ("prefix", "bitset"):
        got = {
            (r["id_sub"], r["id_super"]): r["containment"]
            for r in containment_pairs(df, threshold=0.9, strategy=strategy).collect()
        }
        assert got == expect, f"{strategy} mismatch"
    # the planted supersets guarantee a non-degenerate assertion
    assert any(v == 1.0 for v in expect.values())


# ---------------------------------------------------------------------------
# Shared fingerprinted near-dup stores (VERDICT r7 item 1)
# ---------------------------------------------------------------------------

def _store_paths(name):
    from demo_apache_beam_spark.queries import _store_path

    data = _store_path(name, SF_SMALL)
    return data, data + "_meta"


def test_neardup_pairs_store_equals_inline(spark):
    """The persisted portable-MinHash pair store must be bit-identical
    to an inline pipeline run — md5 hash family, no seeds, integer
    arithmetic until the final Jaccard division, so determinism is
    exact and dedup_minhash_portable's DuckDB oracle verifies the
    STORE content. Cold build, then a warm re-read, both pinned."""
    import shutil

    from demo_apache_beam_spark.queries import (
        _neardup_pairs_inline,
        _neardup_pairs_store,
    )

    data, _meta = _store_paths("neardup_pairs")
    shutil.rmtree(data, ignore_errors=True)
    inline = sorted(map(tuple, _neardup_pairs_inline(spark, SF_SMALL).collect()))
    assert inline  # fixture plants near-dups; an empty compare is vacuous
    cold = sorted(map(tuple, _neardup_pairs_store(spark, SF_SMALL).collect()))
    assert cold == inline
    warm = sorted(map(tuple, _neardup_pairs_store(spark, SF_SMALL).collect()))
    assert warm == inline


def test_neardup_clusters_store_equals_inline(spark):
    """The persisted cluster closure must equal duplicate_clusters over
    the same pairs — and a cold bootstrap of the clusters store must
    leave the PAIR store on disk too (the single-shingle-pass design:
    the cluster build consumes the pair store, not a fresh pipeline)."""
    import os
    import shutil

    from demo_apache_beam_spark.operators.graph import duplicate_clusters
    from demo_apache_beam_spark.queries import (
        _neardup_clusters_store,
        _neardup_corpus,
        _neardup_pairs_inline,
    )

    pairs_data, _ = _store_paths("neardup_pairs")
    clusters_data, _ = _store_paths("neardup_clusters")
    shutil.rmtree(pairs_data, ignore_errors=True)
    shutil.rmtree(clusters_data, ignore_errors=True)
    corpus = _neardup_corpus(spark, SF_SMALL)
    expect = sorted(
        map(
            tuple,
            duplicate_clusters(
                _neardup_pairs_inline(spark, SF_SMALL).select("id_a", "id_b"),
                corpus.select("doc_id"),
            ).collect(),
        )
    )
    got = sorted(map(tuple, _neardup_clusters_store(spark, SF_SMALL).collect()))
    assert got == expect
    assert os.path.isdir(pairs_data)  # pair store bootstrapped as a side effect
    # at least one non-singleton cluster or the closure compare is vacuous
    assert any(r[0] != r[1] for r in got)
    warm = sorted(map(tuple, _neardup_clusters_store(spark, SF_SMALL).collect()))
    assert warm == expect


def test_neardup_pairs_store_falls_back_and_reports(
    spark, tmp_path, monkeypatch, caplog
):
    """An unwritable store root must not fail the query: the pair store
    returns the inline rows and logs one WARNING naming the store and
    the exception class. The root lies under a regular file, so
    creating it fails whatever the user's permissions."""
    import logging

    from demo_apache_beam_spark.queries import (
        _neardup_pairs_inline,
        _neardup_pairs_store,
    )

    blocker = tmp_path / "a_file"
    blocker.write_text("")
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(blocker / "stores"))
    inline = sorted(map(tuple, _neardup_pairs_inline(spark, SF_SMALL).collect()))
    assert inline
    logger = "demo_apache_beam_spark.queries"
    with caplog.at_level(logging.DEBUG, logger=logger):
        got = sorted(map(tuple, _neardup_pairs_store(spark, SF_SMALL).collect()))
    assert got == inline
    warned = [
        r for r in caplog.records if r.name == logger and r.levelno == logging.WARNING
    ]
    assert len(warned) == 1
    assert "neardup_pairs" in warned[0].getMessage()
    assert "OSError" in warned[0].getMessage()


def test_neardup_pairs_store_rebuilds_on_stale_fingerprint(spark):
    """A pair store whose meta fingerprint mismatches the source listing
    + params must rebuild, not serve stale pairs (fresh-session view:
    memo cleared)."""
    from demo_apache_beam_spark.queries import _STORE_MEMO, _neardup_pairs_store

    _neardup_pairs_store(spark, SF_SMALL).count()  # bootstrapped
    _data, meta = _store_paths("neardup_pairs")
    spark.createDataFrame([("stale",)], "fingerprint string").coalesce(
        1
    ).write.mode("overwrite").parquet(meta)
    _STORE_MEMO.clear()
    assert _neardup_pairs_store(spark, SF_SMALL).count() > 0
    fp = spark.read.parquet(meta).collect()[0]["fingerprint"]
    assert fp != "stale"


def test_neardup_clusters_store_self_heals_after_data_loss(spark):
    """Out-of-band deletion of the clusters store while the session memo
    is warm must rebuild through the memo's _SUCCESS fall-through (the
    r7 store-poisoning class), and the rebuilt rows must match."""
    import os
    import shutil

    from demo_apache_beam_spark.queries import _neardup_clusters_store

    before = sorted(map(tuple, _neardup_clusters_store(spark, SF_SMALL).collect()))
    data, _ = _store_paths("neardup_clusters")
    shutil.rmtree(data)  # NO memo clear — live session must recover
    after = sorted(map(tuple, _neardup_clusters_store(spark, SF_SMALL).collect()))
    assert after == before
    assert os.path.isdir(data)


def test_series_profiles_store_equals_inline(spark):
    """The persisted centered-profile table must match a fresh inline
    build: same user set exactly, per-bucket values to 1e-12 (profile
    cells are IEEE partial sums whose shuffle merge order Spark does
    not pin, so bitwise equality is not a contract here — both
    consumers round to 6 dp). Cold build then warm re-read."""
    import shutil

    import numpy as np

    from demo_apache_beam_spark.queries import (
        _series_profiles_store,
        _user_series_profiles,
    )

    data, _meta = _store_paths("series_profiles")
    shutil.rmtree(data, ignore_errors=True)
    inline = {
        r["user_id"]: np.asarray(r["series"])
        for r in _user_series_profiles(spark, SF_SMALL).collect()
    }
    assert inline  # fixture has active users
    for label in ("cold", "warm"):
        stored = {
            r["user_id"]: np.asarray(r["series"])
            for r in _series_profiles_store(spark, SF_SMALL).collect()
        }
        assert stored.keys() == inline.keys(), label
        for uid, vec in inline.items():
            assert np.allclose(stored[uid], vec, atol=1e-12, rtol=0), (label, uid)


# ---------------------------------------------------------------------------
# Distributed Lloyd k-means (cluster-based curation kernel)
# ---------------------------------------------------------------------------


def _numpy_lloyd_reference(x, ids, k, iters):
    """Sequential reference mirroring distributed_kmeans' contract:
    seeds = k smallest ids, assign via Euclidean argmin (ties to lowest
    cluster), iters assignment passes with mean updates between them,
    empty clusters keep their previous centroid."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    cents = x[order[:k]].astype(np.float64).copy()
    assign = None
    for it in range(iters):
        d = np.sqrt(((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2))
        assign = d.argmin(axis=1)  # numpy argmin ties to lowest index
        dist = d[np.arange(len(x)), assign]
        if it < iters - 1:
            for j in range(k):
                m = assign == j
                if m.any():
                    cents[j] = x[m].mean(axis=0)
    return assign, dist, cents


def test_distributed_kmeans_matches_numpy_reference(spark):
    import numpy as np

    from demo_apache_beam_spark.operators.similarity import distributed_kmeans
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_MEDIUM, "embeddings")
    out, cents = distributed_kmeans(emb, k=8, iters=2)
    got = {int(r["vec_id"]): (int(r["cluster"]), float(r["dist"])) for r in out.collect()}

    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    x = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    assign, dist, ref_cents = _numpy_lloyd_reference(x, ids, k=8, iters=2)

    assert len(got) == len(ids)
    n_diff = 0
    for i, vid in enumerate(ids):
        c, dd = got[int(vid)]
        if c != assign[i]:
            n_diff += 1
        else:
            assert abs(dd - dist[i]) < 1e-9
    # FP argmin near-ties between engines are theoretically possible but
    # must not happen on this corpus — any drift means a contract bug.
    assert n_diff == 0
    assert np.allclose(np.array(cents), ref_cents, atol=1e-9)


def test_distributed_kmeans_empty_cluster_keeps_seed(spark):
    """Duplicate seed vectors force an empty cluster: ids 0 and 1 share a
    vector, so every tie breaks to cluster 0 and cluster 1 captures no
    rows. The update must keep cluster 1's seed centroid (not NaN / drop),
    and the final assignment must still be tie-stable."""
    import pytest

    rows = [
        (0, [0.0, 0.0]),
        (1, [0.0, 0.0]),  # duplicate of seed 0 -> cluster 1 goes empty
        (2, [10.0, 0.0]),
        (3, [10.1, 0.0]),
        (4, [0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from demo_apache_beam_spark.operators.similarity import distributed_kmeans

    out, cents = distributed_kmeans(df, k=3, iters=2)
    got = {int(r["vec_id"]): int(r["cluster"]) for r in out.collect()}
    # cluster 1 kept its (duplicate) seed centroid verbatim
    assert cents[1] == [0.0, 0.0]
    # cluster 0's centroid moved to the mean of rows {0, 1, 4} = (0.0667, 0),
    # so rows 0/1 are now NEAREST the kept seed at the origin — the final
    # assignment flips them to cluster 1 while row 4 stays with cluster 0.
    assert got[0] == 1 and got[1] == 1 and got[4] == 0
    assert got[2] == 2 and got[3] == 2
    assert cents[0] == [pytest.approx((0.0 + 0.0 + 0.2) / 3), 0.0]


def test_distributed_kmeans_determinism_and_validation(spark):
    import pytest as _pytest

    from demo_apache_beam_spark.operators.similarity import distributed_kmeans
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_MEDIUM, "embeddings").limit(100)
    a1, c1 = distributed_kmeans(emb, k=4, iters=3)
    a2, c2 = distributed_kmeans(emb, k=4, iters=3)
    assert c1 == c2
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    with _pytest.raises(ValueError):
        distributed_kmeans(emb, k=0)
    with _pytest.raises(ValueError):
        distributed_kmeans(emb, iters=0)
    with _pytest.raises(ValueError):
        distributed_kmeans(emb.filter("vec_id < 0"))


def test_distributed_kmeans_clamp_warns(spark):
    """Requesting more clusters than rows clamps k to the row count —
    with a UserWarning so a silently-small corpus is visible (ADVICE
    r8); the clamped run still satisfies the sequential contract."""
    import warnings

    from demo_apache_beam_spark.operators.similarity import distributed_kmeans

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 0.0]), (2, [9.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out, cents = distributed_kmeans(df, k=8, iters=2)
    assert any(
        issubclass(w.category, UserWarning) and "clamping k" in str(w.message)
        for w in caught
    )
    assert len(cents) == 3
    assert out.count() == 3


# ---------------------------------------------------------------------------
# Shared fingerprinted k-means store (VERDICT r8 item 1) + incremental
# assign-only deltas (VERDICT r8 item 3)
# ---------------------------------------------------------------------------

def test_kmeans_store_equals_inline(spark):
    """The persisted assignment + centroids must be bit-identical to an
    inline distributed_kmeans run — Lloyd here is fully deterministic
    (ordered seeds, literal-centroid assign, lowest-cluster tie-break)
    and doubles round-trip parquet exactly. Cold build, warm re-read."""
    import shutil

    from demo_apache_beam_spark.operators.similarity import distributed_kmeans
    from demo_apache_beam_spark.queries import _kmeans_store
    from demo_apache_beam_spark.sources.tables import load_table

    data, _meta = _store_paths("kmeans_assign")
    shutil.rmtree(data, ignore_errors=True)  # both halves live under one root
    emb = load_table(spark, SF_SMALL, "embeddings")
    inline_df, inline_cents = distributed_kmeans(emb, k=8, iters=2)
    inline = sorted(map(tuple, inline_df.collect()))
    assert inline
    for label in ("cold", "warm"):
        adf, cents = _kmeans_store(spark, SF_SMALL)
        assert sorted(map(tuple, adf.collect())) == inline, label
        assert cents == inline_cents, label


def test_kmeans_store_rebuilds_on_stale_fingerprint(spark):
    """A store whose meta fingerprint mismatches the source listing +
    params must rebuild, not serve stale assignments (fresh-session
    view: memo cleared)."""
    from demo_apache_beam_spark.queries import _STORE_MEMO, _kmeans_store

    _kmeans_store(spark, SF_SMALL)[0].count()  # bootstrapped
    _data, meta = _store_paths("kmeans_assign")
    spark.createDataFrame([("stale",)], "fingerprint string").coalesce(
        1
    ).write.mode("overwrite").parquet(meta)
    _STORE_MEMO.clear()
    assert _kmeans_store(spark, SF_SMALL)[0].count() > 0
    fp = spark.read.parquet(meta).collect()[0]["fingerprint"]
    assert fp != "stale"


def test_kmeans_store_self_heals_after_data_loss(spark):
    """Out-of-band deletion of the assignment store while the session
    memo is warm must rebuild through the memo's _SUCCESS fall-through
    (the r7 store-poisoning class), and the rebuilt rows must match."""
    import os
    import shutil

    from demo_apache_beam_spark.queries import _kmeans_store

    before_df, before_cents = _kmeans_store(spark, SF_SMALL)
    before = sorted(map(tuple, before_df.collect()))
    data, _ = _store_paths("kmeans_assign")
    shutil.rmtree(data)  # NO memo clear — live session must recover
    after_df, after_cents = _kmeans_store(spark, SF_SMALL)
    assert sorted(map(tuple, after_df.collect())) == before
    assert after_cents == before_cents
    assert os.path.isdir(data)


def test_kmeans_assign_fixed_centroids_matches_full(spark):
    """Assign-only over a delta at fixed centroids must be bit-identical
    to the full-corpus assignment at those centroids restricted to the
    delta ids — the contract that makes incremental refreshes safe."""
    from demo_apache_beam_spark.operators.similarity import (
        distributed_kmeans,
        kmeans_assign,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    _, cents = distributed_kmeans(emb, k=8, iters=2)
    full = {
        int(r["vec_id"]): (int(r["cluster"]), float(r["dist"]))
        for r in kmeans_assign(emb, cents).collect()
    }
    delta = emb.filter("vec_id % 10 >= 8")
    got = {
        int(r["vec_id"]): (int(r["cluster"]), float(r["dist"]))
        for r in kmeans_assign(delta, cents).collect()
    }
    assert got
    assert got == {vid: full[vid] for vid in got}


def test_incremental_kmeans_assign_bit_parity(spark, tmp_path):
    """The multi-increment flow: bootstrap trains Lloyd and persists
    assignment + centroids; two later increments assign ONLY their new
    rows at the frozen centroids. The accumulated store must equal a
    full recompute of every row at those same centroids BIT-FOR-BIT,
    re-sent ids must never re-assign (first-seen-wins), and the pinned
    centroids must be exactly the bootstrap's."""
    from demo_apache_beam_spark.operators.similarity import (
        incremental_kmeans_assign,
        kmeans_assign,
        read_kmeans_store,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    store = str(tmp_path / "kmeans_store")
    emb = load_table(spark, SF_SMALL, "embeddings")
    inc_a = emb.filter("vec_id % 3 = 0")
    inc_b = emb.filter("vec_id % 3 = 1")
    inc_c = emb.filter("vec_id % 3 = 2")

    boot = incremental_kmeans_assign(inc_a, store, k=6, iters=2)
    assert boot.count() == inc_a.count()
    _, cents = read_kmeans_store(spark, store)
    assert len(cents) == 6

    got_b = incremental_kmeans_assign(inc_b, store, k=6, iters=2)
    assert got_b.count() == inc_b.count()
    # redelivery: ids already accepted never re-assign or duplicate
    replay = incremental_kmeans_assign(inc_b, store, k=6, iters=2)
    assert replay.count() == 0
    got_c = incremental_kmeans_assign(inc_c, store, k=6, iters=2)
    assert got_c.count() == inc_c.count()

    live, cents_after = read_kmeans_store(spark, store)
    assert cents_after == cents  # centroids frozen across increments
    expect = sorted(map(tuple, kmeans_assign(emb, cents).collect()))
    assert sorted(map(tuple, live.collect())) == expect
    assert live.count() == emb.count()


def test_incremental_kmeans_assign_rejects_duplicate_ids(spark, tmp_path):
    """An increment carrying the same id twice must raise, not persist
    an arbitrary-multiplicity assignment (the store holds one immutable
    row per id forever — review r9)."""
    import pytest as _pytest

    from demo_apache_beam_spark.operators.similarity import (
        incremental_kmeans_assign,
    )

    store = str(tmp_path / "dup_store")
    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [2.0, 0.0]), (1, [9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="duplicate vec_id"):
        incremental_kmeans_assign(df, store, k=2, iters=1)


def test_kmeans_assign_guards_dim_mismatch_and_nulls(spark):
    """A re-embedded corpus assigned against stale centroids (dimension
    drift) or a null embedding must FAIL, never silently emit null
    clusters into a persisted store (review r9). Uniform good input
    still assigns; non-uniform centroid dims raise up front."""
    import pytest as _pytest

    from demo_apache_beam_spark.operators.similarity import kmeans_assign

    good = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [2.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert kmeans_assign(good, [[0.0, 0.0], [2.0, 0.0]]).count() == 2
    with _pytest.raises(ValueError, match="centroid dimensions differ"):
        kmeans_assign(good, [[0.0, 0.0], [1.0]])
    wrong_dim = spark.createDataFrame(
        [(0, [0.0, 1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="null assignment"):
        kmeans_assign(wrong_dim, [[0.0, 0.0]]).collect()
    with_null = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="null assignment"):
        kmeans_assign(with_null, [[0.0, 0.0]]).collect()


def test_streaming_kmeans_assign_equals_batch_and_replays(spark, tmp_path):
    """Assignments streamed epoch-by-epoch against a pinned centroid
    store must equal the batch kmeans_assign of everything streamed
    BIT-FOR-BIT (assignment is a pure per-row function of embedding and
    the frozen centroids), and a redelivered epoch must rewrite its own
    partition to identical bytes — the replay no-op contract every
    engine store carries."""
    import os

    from demo_apache_beam_spark.operators.similarity import (
        incremental_kmeans_assign,
        kmeans_assign,
        read_kmeans_store,
    )
    from demo_apache_beam_spark.streaming.kmeans import (
        make_kmeans_assign_ingest,
        start_kmeans_assign_stream,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    # train once and persist — the store the stream pins
    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        )
    )
    store = str(tmp_path / "train_store")
    incremental_kmeans_assign(emb.filter("vec_id < 100"), store, k=5, iters=2)
    _, cents = read_kmeans_store(spark, store)

    rows = [(int(r["vec_id"]), list(r["embedding"])) for r in
            emb.filter("vec_id >= 100 and vec_id < 160").collect()]
    epochs = [rows[:20], rows[20:40], rows[40:]]
    in_dir = str(tmp_path / "in")
    out_path = str(tmp_path / "assigned")
    os.makedirs(in_dir)
    q = start_kmeans_assign_stream(
        spark, in_dir, f"{store}/centroids", out_path, str(tmp_path / "chk")
    )
    try:
        for b, chunk in enumerate(epochs):
            stage = str(tmp_path / f"stage_{b}")
            spark.createDataFrame(
                chunk, "vec_id long, embedding array<double>"
            ).coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            os.rename(f"{stage}/{part}", f"{in_dir}/b{b}.parquet")
            q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (int(r["vec_id"]), int(r["cluster"]), float(r["dist"]))
        for r in spark.read.parquet(out_path).collect()
    )
    every = spark.createDataFrame(
        [r for c in epochs for r in c], "vec_id long, embedding array<double>"
    )
    want = sorted(
        (int(r["vec_id"]), int(r["cluster"]), float(r["dist"]))
        for r in kmeans_assign(every, cents).collect()
    )
    assert got == want and got

    # replay epoch 1 via the exposed callable: byte-identical store after
    before = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    ingest = make_kmeans_assign_ingest(spark, f"{store}/centroids", out_path)
    ingest(
        spark.createDataFrame(
            epochs[1], "vec_id long, embedding array<double>"
        ),
        1,
    )
    spark.catalog.refreshByPath(out_path)
    after = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    assert after == before


def test_kmeans_assign_vectorized_matches_literal_kernel(spark):
    """On well-separated data (no fp near-ties) the Gram-trick numpy
    assign must agree with the literal-centroid kernel exactly on
    clusters and to 1e-9 on distances; guards mirror kmeans_assign."""
    import pytest as _pytest

    from demo_apache_beam_spark.operators.similarity import (
        distributed_kmeans,
        kmeans_assign,
        kmeans_assign_vectorized,
    )
    from demo_apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, SF_MEDIUM, "embeddings")
    _, cents = distributed_kmeans(emb, k=8, iters=2)
    lit = {
        int(r["vec_id"]): (int(r["cluster"]), float(r["dist"]))
        for r in kmeans_assign(emb, cents).collect()
    }
    vec = {
        int(r["vec_id"]): (int(r["cluster"]), float(r["dist"]))
        for r in kmeans_assign_vectorized(emb, cents).collect()
    }
    assert vec.keys() == lit.keys() and vec
    for vid, (c, d) in lit.items():
        vc, vd = vec[vid]
        assert vc == c, vid
        assert abs(vd - d) < 1e-9, vid

    with _pytest.raises(ValueError, match="centroid dimensions differ"):
        kmeans_assign_vectorized(emb, [[0.0, 1.0], [2.0]])
    wrong_dim = spark.createDataFrame(
        [(0, [0.0, 1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="dimension"):
        kmeans_assign_vectorized(wrong_dim, [[0.0, 0.0]]).collect()


def test_kmeans_assign_kernel_dispatch(spark):
    """kmeans_assign's kernel dispatch (VERDICT r9 item 3): "auto" must
    stay on the literal codegen kernel below VECTORIZED_ASSIGN_MIN_K
    (every existing k=8 pipeline is untouched) and route to the numpy
    Gram-trick mapInPandas at or above it; explicit kernel names force
    either side; both sides agree on well-separated data."""
    import pytest as _pytest

    from demo_apache_beam_spark.operators.similarity import (
        VECTORIZED_ASSIGN_MIN_K,
        kmeans_assign,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [100.0, 0.0]), (2, [0.0, 100.0])],
        "vec_id long, embedding array<double>",
    )

    def plan(out):
        return out._jdf.queryExecution().executedPlan().toString()

    small = [[0.0, 0.0], [100.0, 0.0]]
    big = [
        [float(1000 * j), float(j)] for j in range(VECTORIZED_ASSIGN_MIN_K)
    ]
    assert "MapInPandas" not in plan(kmeans_assign(df, small))  # auto -> literal
    assert "MapInPandas" in plan(kmeans_assign(df, big))  # auto -> vectorized
    assert "MapInPandas" in plan(kmeans_assign(df, small, kernel="vectorized"))
    assert "MapInPandas" not in plan(kmeans_assign(df, big, kernel="literal"))
    with _pytest.raises(ValueError, match="unknown kernel"):
        kmeans_assign(df, small, kernel="numpy")

    got_lit = sorted(
        (int(r["vec_id"]), int(r["cluster"]))
        for r in kmeans_assign(df, big, kernel="literal").collect()
    )
    got_vec = sorted(
        (int(r["vec_id"]), int(r["cluster"]))
        for r in kmeans_assign(df, big, kernel="vectorized").collect()
    )
    assert got_lit == got_vec and got_lit


def test_kmeans_assign_vectorized_id_passthrough_and_nan_guard(spark):
    """ADVICE r9: the vectorized kernel must carry the id column through
    with its ORIGINAL type (string ids crashed / silently truncated
    under the hardcoded long schema), and a NaN ELEMENT inside an
    embedding (Arrow's rendering of a null array element) must raise
    instead of silently assigning cluster 0."""
    import pytest as _pytest

    from demo_apache_beam_spark.operators.similarity import (
        kmeans_assign_vectorized,
    )

    cents = [[0.0, 0.0], [100.0, 0.0]]
    s = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [99.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    out = kmeans_assign_vectorized(s, cents)
    assert dict(out.dtypes)["vec_id"] == "string"
    got = {r["vec_id"]: int(r["cluster"]) for r in out.collect()}
    assert got == {"doc-a": 0, "doc-b": 1}

    with_nan = spark.createDataFrame(
        [(0, [float("nan"), 1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="non-finite"):
        kmeans_assign_vectorized(with_nan, cents).collect()
    # a null ELEMENT arrives as NaN through Arrow — same guard
    with_null_elem = spark.createDataFrame(
        [(0, [None, 1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="non-finite"):
        kmeans_assign_vectorized(with_null_elem, cents).collect()


def test_kmeans_store_self_heals_after_partial_loss(spark):
    """The split layout's freshness check must require EVERY half's
    _SUCCESS: deleting just the centroids subdir (the generalized r9
    sidecar-deletion class) must rebuild the whole store through the
    success_probes fall-through, never serve the surviving half or
    fall back inline forever."""
    import os
    import shutil

    from demo_apache_beam_spark.queries import _kmeans_store

    before_df, before_cents = _kmeans_store(spark, SF_SMALL)
    before = sorted(map(tuple, before_df.collect()))
    data, _ = _store_paths("kmeans_assign")
    shutil.rmtree(f"{data}/centroids")  # NO memo clear — live session
    after_df, after_cents = _kmeans_store(spark, SF_SMALL)
    assert after_cents == before_cents
    assert sorted(map(tuple, after_df.collect())) == before
    assert os.path.isdir(f"{data}/centroids")


def test_streaming_kmeans_consumes_registry_store(spark, tmp_path):
    """VERDICT r9 item 4 (unified layout), the consumer proof: the
    assignment stream must serve centroids from a store written by the
    REGISTRY's _kmeans_store — one artifact for registry queries, delta
    assign, and streaming — and its assignments must equal the batch
    kmeans_assign at those centroids bit-for-bit."""
    import os

    from demo_apache_beam_spark.operators.similarity import kmeans_assign
    from demo_apache_beam_spark.queries import _kmeans_store
    from demo_apache_beam_spark.sources.tables import load_table
    from demo_apache_beam_spark.streaming.kmeans import (
        start_kmeans_assign_stream,
    )

    _, cents = _kmeans_store(spark, SF_SMALL)
    data, _meta = _store_paths("kmeans_assign")

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    rows = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter("vec_id < 40").collect()
    ]
    in_dir = str(tmp_path / "in")
    out_path = str(tmp_path / "assigned")
    os.makedirs(in_dir)
    q = start_kmeans_assign_stream(
        spark, in_dir, f"{data}/centroids", out_path, str(tmp_path / "chk")
    )
    try:
        stage = str(tmp_path / "stage")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", f"{in_dir}/b0.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (int(r["vec_id"]), int(r["cluster"]), float(r["dist"]))
        for r in spark.read.parquet(out_path).collect()
    )
    every = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = sorted(
        (int(r["vec_id"]), int(r["cluster"]), float(r["dist"]))
        for r in kmeans_assign(every, cents).collect()
    )
    assert got == want and got


def test_incremental_hamming_dedup_matches_sequential_reference(spark, tmp_path):
    """Incremental perceptual near-dup (Hamming probe store, VERDICT r9
    item 2): three increments of REAL PNG-derived dHash fingerprints,
    planted perceptual duplicates both within an increment and
    STRADDLING increments, must match a sequential reference applying
    the same semantics (drop cluster on history hit, min-id winner
    otherwise) over plain Hamming distance. The reference can ignore
    probe-key recall because the fixture pins both sides of it: planted
    duplicates sit at Hamming <= 6 (deterministic pigeonhole recall at
    8 blocks) and unrelated images at > 10 (the in-join verification
    kills any accidental bucket collision)."""
    import numpy as np

    from demo_apache_beam_spark.operators import codecs
    from demo_apache_beam_spark.operators.dedup import incremental_hamming_dedup
    from demo_apache_beam_spark.operators.media import image_dhash

    def raster(seed, h=40, w=32):
        rng = np.random.RandomState(seed)
        return rng.randint(0, 200, size=(h, w)).astype(np.uint8)

    def up2(img):
        return np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)

    base = {i: raster(1000 + i) for i in range(4)}
    incs = [
        [(1, base[0]), (2, base[1]), (3, base[0] + np.uint8(5))],  # in-batch pair
        [(4, up2(base[0])), (5, base[2])],                         # 4 straddles inc 1
        [(6, base[1] + np.uint8(8)), (7, base[3]), (8, base[3] + np.uint8(5))],
    ]

    # fingerprints through the REAL PNG encode+decode pipeline
    sig_of = {}
    for inc in incs:
        data = [(i, codecs.png_encode(img), "image") for i, img in inc]
        df = spark.createDataFrame(
            data, "media_id long, payload binary, kind string"
        )
        for r in image_dhash(df).collect():
            sig_of[int(r["media_id"])] = int(r["dhash"])
    assert len(sig_of) == 8

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # fixture sanity: the recall/verify separation the reference relies on
    assert ham(sig_of[1], sig_of[3]) == 0
    assert ham(sig_of[1], sig_of[4]) <= 6
    assert ham(sig_of[7], sig_of[8]) == 0
    for a in (1, 2, 5, 7):
        for b in (1, 2, 5, 7):
            if a < b:
                assert ham(sig_of[a], sig_of[b]) > 10, (a, b)

    # --- sequential reference ------------------------------------------
    hist: list[int] = []
    expect: list[int] = []
    for inc in incs:
        ids = [i for i, _ in inc]
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i in ids:
            for j in ids:
                if i < j and ham(sig_of[i], sig_of[j]) <= 10:
                    parent[find(j)] = find(i)
        clusters: dict[int, list[int]] = {}
        for i in ids:
            clusters.setdefault(find(i), []).append(i)
        for members in clusters.values():
            if any(ham(sig_of[m], h) <= 10 for m in members for h in hist):
                continue  # represented by an earlier increment
            win = min(members)
            expect.append(win)
            hist.append(sig_of[win])

    # --- the operator ----------------------------------------------------
    store = str(tmp_path / "probe_store")
    got: list[int] = []
    for inc in incs:
        sigs = spark.createDataFrame(
            [(i, sig_of[i]) for i, _ in inc], "media_id long, dhash long"
        )
        got += [
            int(r["media_id"])
            for r in incremental_hamming_dedup(sigs, store).collect()
        ]
    # 3 drops to 1 in-batch; 4 drops to history (straddler); 6 drops to
    # history; 8 drops to 7 in-batch
    assert sorted(got) == sorted(expect) == [1, 2, 5, 7]

    # full re-crawl of increment 1 under NEW ids: everything near-dups
    # accepted history, nothing survives
    recrawl = spark.createDataFrame(
        [(100 + i, sig_of[i]) for i, _ in incs[0]], "media_id long, dhash long"
    )
    assert incremental_hamming_dedup(recrawl, store).count() == 0


def test_image_dhash_store_equals_inline(spark):
    """The persisted dHash signature table must be bit-identical to an
    inline encode+decode+fingerprint run (the pipeline is deterministic:
    area pooling + gradient signs over decoded pixels). Cold build, warm
    re-read, and the r7 self-heal contract after out-of-band deletion."""
    import os
    import shutil

    from demo_apache_beam_spark.queries import (
        _image_dhash_sigs_inline,
        _image_dhash_store,
    )

    data, _meta = _store_paths("image_dhash")
    shutil.rmtree(data, ignore_errors=True)
    inline = sorted(
        (int(r["media_id"]), int(r["dhash"]))
        for r in _image_dhash_sigs_inline(spark, SF_SMALL).collect()
    )
    assert inline
    for label in ("cold", "warm"):
        got = sorted(
            (int(r["media_id"]), int(r["dhash"]))
            for r in _image_dhash_store(spark, SF_SMALL).collect()
        )
        assert got == inline, label
    shutil.rmtree(data)  # NO memo clear — live session must recover
    got = sorted(
        (int(r["media_id"]), int(r["dhash"]))
        for r in _image_dhash_store(spark, SF_SMALL).collect()
    )
    assert got == inline
    assert os.path.isdir(data)


def test_audio_fp_store_equals_inline(spark):
    """The persisted audio-fingerprint table must be bit-identical to an
    inline encode+decode+FFT run (the pipeline is deterministic: fixed
    start-anchored frames, rfft power spectra, band-energy gradient
    signs). Cold build, warm re-read, and the r7 self-heal contract
    after out-of-band deletion — the audio mirror of the image dHash
    store (VERDICT r10 item 3)."""
    import os
    import shutil

    from demo_apache_beam_spark.queries import (
        _audio_fp_sigs_inline,
        _audio_fp_store,
    )

    data, _meta = _store_paths("audio_fp")
    shutil.rmtree(data, ignore_errors=True)
    inline = sorted(
        (int(r["media_id"]), int(r["afp"]))
        for r in _audio_fp_sigs_inline(spark, SF_SMALL).collect()
    )
    assert inline
    for label in ("cold", "warm"):
        got = sorted(
            (int(r["media_id"]), int(r["afp"]))
            for r in _audio_fp_store(spark, SF_SMALL).collect()
        )
        assert got == inline, label
    shutil.rmtree(data)  # NO memo clear — live session must recover
    got = sorted(
        (int(r["media_id"]), int(r["afp"]))
        for r in _audio_fp_store(spark, SF_SMALL).collect()
    )
    assert got == inline
    assert os.path.isdir(data)


def test_erase_from_dedup_stores_readmits_content(spark, tmp_path):
    """Right-to-erasure must reach the accepted-history stores: after
    erasing an accepted document's signature shadow, a re-crawl of that
    content is ADMISSIBLE again, while everything else stays blocked —
    across all three store kinds (exact digests, MinHash bands, Hamming
    probe rows). The MinHash erase is composite-keyed
    (band_idx, band_hash); the Hamming store uses the signature alone
    (accepted items are pairwise > max_hamming apart)."""
    import numpy as np

    from demo_apache_beam_spark.operators import codecs
    from demo_apache_beam_spark.operators.dedup import (
        erase_from_exact_store,
        erase_from_hamming_store,
        erase_from_minhash_store,
        incremental_exact_dedup,
        incremental_hamming_dedup,
        incremental_minhash_dedup,
    )
    from demo_apache_beam_spark.operators.media import image_dhash

    t_a = ("the quick brown fox jumps over the lazy dog while rain falls "
           "on the quiet town and children play in the green park near "
           "the old stone bridge every single afternoon")
    t_b = ("data pipelines shuffle terabytes of text across executors "
           "while schedulers balance partitions and optimizers prune "
           "columns from scans to keep the cluster busy at all times")
    near = lambda t: t.rsplit(" ", 1)[0] + " tonight"  # noqa: E731

    # --- exact digest store -------------------------------------------
    ex_store = str(tmp_path / "exact")
    day1 = spark.createDataFrame([(1, t_a), (2, t_b)], "doc_id long, text string")
    assert incremental_exact_dedup(day1, ex_store).count() == 2
    recrawl = spark.createDataFrame([(10, t_a)], "doc_id long, text string")
    assert incremental_exact_dedup(recrawl, ex_store).count() == 0  # blocked
    res = erase_from_exact_store(
        spark, ex_store, spark.createDataFrame([(t_a,)], "text string")
    )
    assert res["rows_erased"] == 1
    readmit = spark.createDataFrame([(11, t_a)], "doc_id long, text string")
    assert incremental_exact_dedup(readmit, ex_store).count() == 1  # admissible
    still = spark.createDataFrame([(12, t_b)], "doc_id long, text string")
    assert incremental_exact_dedup(still, ex_store).count() == 0  # B blocked

    # --- MinHash band store (composite key) ---------------------------
    mh_store = str(tmp_path / "minhash")
    assert incremental_minhash_dedup(day1, mh_store).count() == 2
    probe = spark.createDataFrame([(20, near(t_a))], "doc_id long, text string")
    assert incremental_minhash_dedup(probe, mh_store).count() == 0  # blocked
    res = erase_from_minhash_store(
        spark, mh_store,
        spark.createDataFrame([(1, t_a)], "doc_id long, text string"),
    )
    assert res["rows_erased"] > 0 and res["rows_after"] > 0  # B's rows survive
    probe2 = spark.createDataFrame([(21, near(t_a))], "doc_id long, text string")
    assert incremental_minhash_dedup(probe2, mh_store).count() == 1  # admissible
    probe3 = spark.createDataFrame([(22, near(t_b))], "doc_id long, text string")
    assert incremental_minhash_dedup(probe3, mh_store).count() == 0  # B blocked

    # --- Hamming probe store ------------------------------------------
    def raster(seed):
        rng = np.random.RandomState(7000 + seed)
        return rng.randint(0, 200, size=(40, 32)).astype(np.uint8)

    def sigs_of(rows):
        data = [(i, codecs.png_encode(img), "image") for i, img in rows]
        return image_dhash(
            spark.createDataFrame(
                data, "media_id long, payload binary, kind string"
            )
        )

    hm_store = str(tmp_path / "hamming")
    accepted = sigs_of([(1, raster(1)), (2, raster(2))])
    assert incremental_hamming_dedup(accepted, hm_store).count() == 2
    dup1 = sigs_of([(30, raster(1) + np.uint8(5))])  # perceptual dup of 1
    assert incremental_hamming_dedup(dup1, hm_store).count() == 0  # blocked
    res = erase_from_hamming_store(
        spark, hm_store, sigs_of([(1, raster(1))])
    )
    assert res["rows_erased"] > 0 and res["rows_after"] > 0
    dup1b = sigs_of([(31, raster(1) + np.uint8(5))])
    assert incremental_hamming_dedup(dup1b, hm_store).count() == 1  # admissible
    dup2 = sigs_of([(32, raster(2) + np.uint8(5))])
    assert incremental_hamming_dedup(dup2, hm_store).count() == 0  # 2 blocked


def test_erase_from_minhash_store_preserves_epoch_partitions(spark, tmp_path):
    """Erasing from the STREAMING band store (epoch-partitioned) must
    keep the _batch_id directory layout — the replay-idempotence
    contract depends on it — and rewrite only partitions the request
    touches."""
    import os

    from demo_apache_beam_spark.operators.dedup import (
        erase_from_minhash_store,
    )
    from demo_apache_beam_spark.streaming.dedup import make_near_dedup_ingest

    out_dir, store = str(tmp_path / "out"), str(tmp_path / "store")
    ingest = make_near_dedup_ingest(spark, out_dir, store)
    t1 = ("the quick brown fox jumps over the lazy dog while rain falls "
          "on the quiet town and children play near the old stone bridge")
    t2 = ("data pipelines shuffle terabytes of text across executors "
          "while schedulers balance partitions and optimizers prune scans")
    ingest(spark.createDataFrame([(1, t1)], "doc_id long, text string"), 0)
    ingest(spark.createDataFrame([(2, t2)], "doc_id long, text string"), 1)
    parts_before = {
        d for d in os.listdir(store) if d.startswith("_batch_id=")
    }
    assert parts_before == {"_batch_id=0", "_batch_id=1"}

    res = erase_from_minhash_store(
        spark, store,
        spark.createDataFrame([(1, t1)], "doc_id long, text string"),
    )
    assert res["rows_erased"] > 0
    parts_after = {
        d for d in os.listdir(store) if d.startswith("_batch_id=")
    }
    assert parts_after == parts_before  # layout preserved
    # epoch-1 rows untouched (its partition matched zero request keys)
    import pyspark.sql.functions as F

    rows1 = spark.read.parquet(store).filter(F.col("_batch_id") == 1).count()
    assert rows1 > 0
    rows0 = spark.read.parquet(store).filter(F.col("_batch_id") == 0).count()
    assert rows0 == 0  # doc 1's bands fully gone

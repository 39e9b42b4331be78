"""Deduplication operators — exact, n-gram Jaccard, MinHash+LSH, SimHash.

The training-data-pipeline workhorses, designed Spark-first for ~100 TB
corpora:

- **exact**: hash-groupBy on a content key; one shuffle on the 16-byte
  digest (never on the raw text), min-id winner, semi-join back.
- **n-gram Jaccard**: prefix-filtered all-pairs — lossless candidate
  pruning via rarest-first token prefixes + length filter, never the
  quadratic cross product and never unbounded blocks.
- **MinHash+LSH**: shingle → k minhashes (one explode + k min-aggregates,
  all map-side combinable) → band → bucket equi-join. The classic
  near-dup pipeline (Broder '97; the MapReduce formulation is public
  knowledge), expressed as three DataFrame stages.
- **SimHash**: 64 sign-sums as aggregate expressions (no 64× row blowup),
  Hamming-distance candidates via 16-bit band bucketing + ``bit_count``.

Everything is built-in expressions (xxhash64, explode, groupBy) — no
Python UDFs — so the only costs are the shuffles the algorithms require.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .checkpoints import stage, staged
from .text import tokens_col

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def content_key(cols: tuple[str, ...] | list[str]) -> Column:
    """16-byte digest of the concatenated key columns (separator-framed so
    ("ab","c") ≠ ("a","bc"); NULLs keep a sentinel so ("a",NULL,"b") ≠
    ("a","b") and NULL ≠ ''). Shuffling the digest instead of document
    text cuts exact-dedup shuffle volume by ~1000× on prose."""
    return F.md5(
        F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00")) for c in cols]
        )
    )


def dedup_exact(df: DataFrame, key_cols=("text",), id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum-id row of every exact-duplicate group.

    Plan: project (digest, id) → partial min → shuffle on digest → final
    min → broadcast/shuffle semi-join back on the unique id. The wide
    document payload crosses the wire only for surviving rows.
    """
    keep = (
        df.select(content_key(key_cols).alias("_ck"), F.col(id_col))
        .groupBy("_ck")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (prefix-filtered all-pairs)
# ---------------------------------------------------------------------------

def token_set_col(text_col: str = "text") -> Column:
    return F.array_distinct(tokens_col(text_col))


def jaccard_pairs(
    df: DataFrame,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    strategy: str = "auto",
    bitset_max_vocab: int = 4096,
    salt_buckets: int = 32,
) -> DataFrame:
    """All pairs with token-set Jaccard ≥ threshold — **exact** (the
    result is precisely what a naive N² scan would emit; contrast
    ``minhash_dedup_pairs`` for the probabilistic scale path).

    Two physical strategies, chosen by vocabulary size when
    ``strategy="auto"`` (one tiny distinct-count job — the set-similarity
    analogue of AQE's stats probe):

    - ``"prefix"`` (large vocab — real corpora): prefix filtering
      (Chaudhuri et al. '06 SSJoin; Bayardo et al. '07 All-Pairs).
      Tokens are ordered rarest-first; a pair with J ≥ t must share a
      token within each side's first ``|A| - ⌈t·|A|⌉ + 1`` ordered
      tokens, so candidates come from an equi-join on prefix tokens
      (bounded by rare-token posting lists), a length filter
      (J ≥ t ⟹ min ≥ t·max) prunes inside the join, and survivors are
      verified exactly. Lossless, near-linear on zipfian vocabularies.
    - ``"bitset"`` (vocab ≤ ``bitset_max_vocab``): token sets become
      fixed-width bitmasks (``array<long>``); intersection/union are
      ``bit_count`` over ANDed words — a few dozen ALU ops per pair in
      whole-stage codegen, no array or string ops. Candidate pairs are
      enumerated by a *salted* self-join (side A hashed to one of
      ``salt_buckets``, side B replicated to all), so parallelism is
      group_cols × salt_buckets instead of one task per group value.
      Small vocabularies defeat prefix filtering (every posting list is
      ~N long), and make the matching-pair count itself Θ(N²) — the
      bitset path makes each unavoidable pair evaluation ~free.

    The round-1 design joined within lossy ``(lang, n_chars DIV 64)``
    blocks — unbounded Σ|block|² at corpus scale *and* silently dropped
    cross-block pairs. ``group_cols`` (e.g. ``["lang"]``) adds hard
    equality constraints. Output: (id_a, id_b, jaccard), id_a < id_b.
    """
    group_cols = list(group_cols or [])
    from ..sources.tables import spread

    # Stage the tokenized corpus once: spread to full parallelism (small
    # inputs arrive as 1-2 file splits — regex tokenization is CPU-bound),
    # then materialize so the vocab probe, signature build, and
    # verification all read the staged rows instead of re-running the
    # regex per consumer. At warehouse scale this is the usual "write the
    # shingled corpus to a temp table" step.
    sets = stage(
        spread(df)
        .select(
            F.col(id_col), *[F.col(c) for c in group_cols], token_set_col(text_col).alias("_ts")
        )
    )
    toks = sets.select(F.col(id_col), F.explode("_ts").alias("_t"))
    if strategy in ("auto", "bitset"):
        # Vocabulary probe: by precondition the bitset path only applies
        # to small vocabularies, so collecting it is a dimension-table
        # pull (like collecting a broadcast side), bounded by the limit.
        vocab = [
            r["_t"]
            for r in toks.select("_t").distinct().sort("_t").limit(bitset_max_vocab + 1).collect()
        ]
        if len(vocab) <= bitset_max_vocab:
            return _jaccard_pairs_bitset(
                sets, toks, vocab, group_cols, id_col, threshold, salt_buckets
            )
        if strategy == "bitset":
            raise ValueError(
                f"bitset strategy requires vocab <= {bitset_max_vocab}, got more"
            )
    return _jaccard_pairs_prefix(sets, toks, group_cols, id_col, threshold)


def _jaccard_pairs_bitset(
    sets: DataFrame,
    toks: DataFrame,
    vocab: list[str],
    group_cols: list[str],
    id_col: str,
    threshold: float,
    salt_buckets: int,
) -> DataFrame:
    n_words = (len(vocab) + 63) // 64
    spark = sets.sparkSession
    vocab_df = spark.createDataFrame(
        [(t, i) for i, t in enumerate(vocab)], "_t string, _tid int"
    )
    word_aggs = [
        F.bit_or(
            F.when(
                (F.col("_tid") >= w * 64) & (F.col("_tid") < (w + 1) * 64),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_tid % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"_m{w}")
        for w in range(n_words)
    ]
    # localCheckpoint materializes the tiny (id, size, mask, groups) rows
    # once so the salted self-join below doesn't re-run tokenization for
    # each side — the same role as building a join index.
    masks = stage(
        toks.join(F.broadcast(vocab_df), "_t")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_sz"), *word_aggs)
        .join(sets.select(id_col, *group_cols), id_col)
    )
    a = masks.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)))
    b = masks.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<long>"))
    )
    cond = (
        (F.col("a._salt") == F.col("b._salt"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("a._sz") >= F.col("b._sz") * F.lit(threshold))
        & (F.col("b._sz") >= F.col("a._sz") * F.lit(threshold))
    )
    for c in group_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # plain column expressions (not zip_with/aggregate lambdas, which are
    # interpreted) so the per-pair popcount stays in whole-stage codegen
    inter = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"a._m{w}").bitwiseAND(F.col(f"b._m{w}")))
        inter = term if inter is None else inter + term
    return (
        a.alias("a")
        .join(b.alias("b"), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            inter.alias("_i"),
            (F.col("a._sz") + F.col("b._sz")).alias("_ab"),
        )
        .select(
            "id_a",
            "id_b",
            (F.col("_i") / (F.col("_ab") - F.col("_i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def _jaccard_pairs_prefix(
    sets: DataFrame,
    toks: DataFrame,
    group_cols: list[str],
    id_col: str,
    threshold: float,
) -> DataFrame:
    freq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # rarest-first canonical ordering; carried as struct so one sort_array
    # orders by (df, token)
    ordered = (
        toks.join(freq, "_t")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("_df", "_t"))).alias("_ord"))
        .select(
            F.col(id_col),
            F.transform("_ord", lambda s: s["_t"]).alias("_ord_toks"),
        )
    )
    prefix_len = (
        F.size("_ord_toks") - F.ceil(F.size("_ord_toks") * F.lit(threshold)) + 1
    ).cast("int")
    prefixes = (
        ordered.join(sets.select(id_col, *group_cols), id_col)
        .select(
            F.col(id_col),
            *group_cols,
            F.size("_ord_toks").alias("_sz"),
            F.explode(F.slice("_ord_toks", F.lit(1), prefix_len)).alias("_t"),
        )
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cond = (
        (F.col("a._t") == F.col("b._t"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("a._sz") >= F.col("b._sz") * F.lit(threshold))
        & (F.col("b._sz") >= F.col("a._sz") * F.lit(threshold))
    )
    for c in group_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cands = (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa._ts"), F.col("sb._ts")))
    union = F.size(F.array_union(F.col("sa._ts"), F.col("sb._ts")))
    return (
        cands.join(sets.select(F.col(id_col), "_ts").alias("sa"), cands.id_a == F.col(f"sa.{id_col}"))
        .join(sets.select(F.col(id_col), "_ts").alias("sb"), cands.id_b == F.col(f"sb.{id_col}"))
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def containment_pairs(
    df: DataFrame,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    strategy: str = "auto",
    bitset_max_vocab: int = 4096,
    salt_buckets: int = 32,
) -> DataFrame:
    """All *ordered* pairs with token-set containment |A∩B|/|A| ≥
    threshold — **exact** near-subset detection (Broder '97's asymmetric
    resemblance sibling). Where Jaccard misses a short document quoted
    whole inside a long one (the union dilutes the score), containment
    flags it: quote-inclusion, boilerplate-wrapping, and article-in-digest
    duplicates in a training corpus.

    Output: (id_sub, id_super, containment) for every ordered pair
    id_sub ≠ id_super with C(sub→super) ≥ t — directional by definition;
    both directions are evaluated independently.

    Physical strategies, mirroring :func:`jaccard_pairs`:

    - ``"prefix"`` (large vocab): the containment adaptation of SSJoin
      prefix filtering. Only the PROBE side (A) gets a prefix — a pair
      with C(A→B) ≥ t shares a token within A's first
      ``|A| − ⌈t·|A|⌉ + 1`` rarest-first tokens, so candidates come from
      joining A-prefixes against B's full posting lists, with the
      lossless size filter |B| ≥ t·|A| (the intersection can't exceed
      |B|). Unlike Jaccard there is no B-side prefix — containment puts
      no upper bound on |B| — so the probe cost is bounded by A's rare
      tokens' posting lists, which is exactly what rarest-first ordering
      minimizes on zipfian vocabularies.
    - ``"bitset"`` (vocab ≤ ``bitset_max_vocab``): the same fixed-width
      bitmask + salted self-join kernel as Jaccard's, scoring
      popcount(A&B)/|A| per direction in whole-stage codegen. On tiny
      vocabularies near-subset pairs are Θ(N²)-dense, so making each
      unavoidable evaluation a few ALU ops is the right physical shape.

    At 100 TB the shuffles carry (id, size, prefix-token) rows and
    posting-list joins — never documents, never an unfiltered cross
    product.
    """
    group_cols = list(group_cols or [])
    from ..sources.tables import spread

    sets = stage(
        spread(df)
        .select(
            F.col(id_col),
            *[F.col(c) for c in group_cols],
            token_set_col(text_col).alias("_ts"),
        )
    )
    toks = sets.select(F.col(id_col), F.explode("_ts").alias("_t"))
    if strategy in ("auto", "bitset"):
        vocab = [
            r["_t"]
            for r in toks.select("_t").distinct().sort("_t").limit(bitset_max_vocab + 1).collect()
        ]
        if len(vocab) <= bitset_max_vocab:
            return _containment_pairs_bitset(
                sets, toks, vocab, group_cols, id_col, threshold, salt_buckets
            )
        if strategy == "bitset":
            raise ValueError(
                f"bitset strategy requires vocab <= {bitset_max_vocab}, got more"
            )
    return _containment_pairs_prefix(sets, toks, group_cols, id_col, threshold)


def _containment_pairs_bitset(
    sets: DataFrame,
    toks: DataFrame,
    vocab: list[str],
    group_cols: list[str],
    id_col: str,
    threshold: float,
    salt_buckets: int,
) -> DataFrame:
    n_words = (len(vocab) + 63) // 64
    spark = sets.sparkSession
    vocab_df = spark.createDataFrame(
        [(t, i) for i, t in enumerate(vocab)], "_t string, _tid int"
    )
    word_aggs = [
        F.bit_or(
            F.when(
                (F.col("_tid") >= w * 64) & (F.col("_tid") < (w + 1) * 64),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_tid % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"_m{w}")
        for w in range(n_words)
    ]
    masks = stage(
        toks.join(F.broadcast(vocab_df), "_t")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_sz"), *word_aggs)
        .join(sets.select(id_col, *group_cols), id_col)
    )
    # a = the subset-candidate (probe) side, salted once; b = the superset
    # side, replicated across salt buckets — the asymmetric roles map onto
    # the salted join's asymmetric sides for free. Ordered pairs: a ≠ b
    # (not a < b), so (x→y) and (y→x) are both evaluated.
    a = masks.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)))
    b = masks.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<long>"))
    )
    cond = (
        (F.col("a._salt") == F.col("b._salt"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        # |A∩B| ≤ |B|, so C ≥ t needs |B| ≥ t·|A| — lossless prune
        & (F.col("b._sz") >= F.col("a._sz") * F.lit(threshold))
    )
    for c in group_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"a._m{w}").bitwiseAND(F.col(f"b._m{w}")))
        inter = term if inter is None else inter + term
    return (
        a.alias("a")
        .join(b.alias("b"), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_sub"),
            F.col(f"b.{id_col}").alias("id_super"),
            (inter / F.col("a._sz")).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(threshold))
    )


def _containment_pairs_prefix(
    sets: DataFrame,
    toks: DataFrame,
    group_cols: list[str],
    id_col: str,
    threshold: float,
) -> DataFrame:
    freq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        toks.join(freq, "_t")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("_df", "_t"))).alias("_ord"))
        .select(
            F.col(id_col),
            F.transform("_ord", lambda s: s["_t"]).alias("_ord_toks"),
        )
    )
    prefix_len = (
        F.size("_ord_toks") - F.ceil(F.size("_ord_toks") * F.lit(threshold)) + 1
    ).cast("int")
    # probe side only: A's rarest-first prefix tokens
    prefixes = (
        ordered.join(sets.select(id_col, *group_cols), id_col)
        .select(
            F.col(id_col),
            *group_cols,
            F.size("_ord_toks").alias("_sz"),
            F.explode(F.slice("_ord_toks", F.lit(1), prefix_len)).alias("_t"),
        )
    )
    # index side: B's FULL posting lists (containment bounds nothing on B,
    # so a B-prefix would be lossy) + B's set size for the size filter
    postings = toks.join(
        sets.select(
            F.col(id_col), *group_cols, F.size("_ts").alias("_sz")
        ),
        id_col,
    )
    a, b = prefixes.alias("a"), postings.alias("b")
    cond = (
        (F.col("a._t") == F.col("b._t"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        & (F.col("b._sz") >= F.col("a._sz") * F.lit(threshold))
    )
    for c in group_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cands = (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("id_sub"), F.col(f"b.{id_col}").alias("id_super"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa._ts"), F.col("sb._ts")))
    return (
        cands.join(sets.select(F.col(id_col), "_ts").alias("sa"), cands.id_sub == F.col(f"sa.{id_col}"))
        .join(sets.select(F.col(id_col), "_ts").alias("sb"), cands.id_super == F.col(f"sb.{id_col}"))
        .select(
            "id_sub",
            "id_super",
            (inter / F.size("sa._ts")).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def _toks_sql(text_col: str) -> str:
    return f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"


def shingles_col(text_col: str = "text", n: int = 3) -> Column:
    """Distinct token n-gram shingles (word shingling; Broder-style).
    Texts shorter than n tokens get an empty array (``sequence(1, 0)``
    would be a *descending* sequence in Spark, so guard explicitly)."""
    toks = _toks_sql(text_col)
    return F.array_distinct(
        F.expr(
            f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(1, size({toks}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END"
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """k seeded-xxhash64 minima per document = the MinHash signature.

    One explode of distinct shingles, then k ``min`` aggregates — Catalyst
    plans partial mins before the shuffle on the id, so network volume is
    k longs per document regardless of document size.

    ``portable=True`` swaps the hash family from seeded xxhash64 to md5
    chains (``min(md5('i:' || md5(shingle)))`` — 32-hex strings under
    binary collation), which every ANSI engine with ``md5`` reproduces
    bit-for-bit; it is what makes the DuckDB oracle for the *entire*
    MinHash → LSH → verify pipeline possible. Same plan shape; md5 costs
    ~2-3× xxhash64 per call, so the default stays xxhash64.
    """
    hashed = hashed_shingles(df, id_col, text_col, shingle_n, portable)
    return _signatures_from_hashes(hashed, id_col, num_hashes, portable)


def hashed_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, shingle-hash) rows: one xxhash64 per distinct shingle.

    All downstream MinHash work (signatures, verification) runs on these
    8-byte hashes — shingle equality ⇔ hash equality up to a 2^-64
    collision, which is far below any near-dup threshold's noise floor.
    ``portable=True`` digests with md5 (32-hex string) instead so an
    external SQL engine can replay the exact values.
    """
    from ..sources.tables import spread

    digest = F.md5("_sh") if portable else F.xxhash64("_sh")
    return (
        spread(df)
        .select(F.col(id_col), F.explode(shingles_col(text_col, shingle_n)).alias("_sh"))
        .select(F.col(id_col), digest.alias("_h"))
    )


def _seeded_hash(i: int, h: Column, portable: bool) -> Column:
    """The i-th MinHash function of a shingle hash: ``md5('i:' || h)``
    for the portable family, ``xxhash64(i, h)`` otherwise."""
    if portable:
        return F.md5(F.concat(F.lit(f"{i}:"), h))
    return F.xxhash64(F.lit(i), h)


def _signatures_from_hashes(
    hashed: DataFrame, id_col: str, num_hashes: int, portable: bool = False
) -> DataFrame:
    # one variable-length string hash per shingle (already done), then k
    # cheap fixed-width rehashes of the long — k× cheaper than hashing
    # the shingle string k times, same independence in practice
    mins = [
        F.min(_seeded_hash(i, F.col("_h"), portable)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*mins)


def band_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """(id, band_idx, band_hash) rows: the signature split into ``bands``
    bands of r = k/bands minhashes, each collapsed to one 64-bit band
    hash. The LSH probe unit — shared by the batch candidate join and
    the incremental band store. ``portable=True`` collapses each band
    with ``md5(concat_ws('|', …))`` instead of xxhash64 (the minhashes
    are then 32-hex strings, never null)."""
    rows_per_band = num_hashes // bands

    def _band_hash(b: int) -> Column:
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable:
            return F.md5(F.concat_ws("|", *cols))
        return F.xxhash64(*cols)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                _band_hash(b).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(id_col, "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Band the signature (r = k/bands rows per band), bucket on the band
    hash, emit within-bucket pairs. The only join is an equi-join on
    (band_idx, band_hash) — LSH's point is exactly that this is
    shuffle-friendly at petabyte scale."""
    banded = band_rows(signatures, id_col, num_hashes, bands, portable)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    verify_threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact shingle
    Jaccard verification of candidates only. Output: (id_a, id_b, jaccard).

    ``portable=True`` runs the identical pipeline over the md5 hash family
    (see :func:`minhash_signatures`) so an external ANSI-SQL engine can
    replay every stage — candidates included — bit-for-bit."""
    # ONE row per document stages everything every downstream reference
    # needs: the deduped shingle-hash set (the verification arrays) and
    # the k minhashes, computed per-row from that set with array
    # transforms (min is duplicate-insensitive, so array_min over the
    # set is bit-identical to the old min-aggregate over the raw rows).
    # The old shape checkpointed the corpus-sized (id, hash) ROWS and
    # re-ran the k-min aggregate on BOTH band self-join sides; this one
    # checkpoints doc-count rows, computes each doc's signature exactly
    # once, and drops the signature groupBy exchange outright (the
    # collect_set shuffle already carries the same hashes).
    hashed = hashed_shingles(df, id_col, text_col, shingle_n, portable)
    sh_rows = hashed.groupBy(id_col).agg(
        F.sort_array(F.collect_set("_h")).alias("_sh")
    )

    def _seeded(i: int):
        return lambda h: _seeded_hash(i, h, portable)

    # PySpark binds a lambda's second parameter to the element index, so
    # the seed is closed over by _seeded, never passed as a default arg.
    mins = [
        F.array_min(F.transform("_sh", _seeded(i))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    sig_rows = stage(sh_rows.select(F.col(id_col), "_sh", *mins))
    sigs = sig_rows.drop("_sh")
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, portable)
    sh = sig_rows.select(id_col, "_sh")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    return (
        cands.join(sh.alias("a"), cands.id_a == F.col(f"a.{id_col}"))
        .join(sh.alias("b"), cands.id_b == F.col(f"b.{id_col}"))
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(verify_threshold))
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per document (Charikar '02): each token votes ±1 on
    every bit of its 64-bit hash; the fingerprint takes the sign.

    Shape: explode to (id, token) rows, then 64 conditional-sum aggregates
    — constant 64 longs of state per document, no row blowup, fully
    map-side combinable.

    ``portable=True`` derives the 64 token-hash bits from md5 instead of
    xxhash64 — the signed-64 reinterpretation of the digest's first 16 hex
    chars, assembled from two 32-bit conv() halves so no string→long cast
    can overflow. Every downstream step (votes, fingerprint packing, Manku
    probes, Hamming) is pure bit algebra on that long, so an external
    ANSI engine with md5 replays the whole pipeline bit-for-bit.
    """
    from ..sources.tables import spread

    toks = spread(df).select(F.col(id_col), F.explode(tokens_col(text_col)).alias("_t"))
    if portable:
        hx = F.md5("_t")
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        toks = toks.withColumn("_h", F.shiftleft(hi, 32).bitwiseOR(lo))
    else:
        toks = toks.withColumn("_h", F.xxhash64("_t"))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(_h >> {i}) & 1 = 1"), F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for i in range(64):
        term = F.when(F.col(f"b{i}") > 0, F.expr(f"CAST(1 AS BIGINT) << {i}")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 12,
    num_blocks: int = 8,
    rotations: tuple[int, ...] = (0, 3, 6),
    strategy: str = "auto",
    pairwise_max_docs: int = 20000,
    salt_buckets: int = 32,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — Manku-style block
    permutations (Manku/Jain/Sarma, WWW'07 "Detecting Near-Duplicates for
    Web Crawling": probe on wide keys assembled from permuted block
    combinations, never on narrow bands).

    For each cyclic bit-rotation in ``rotations``, the rotated 64-bit
    fingerprint splits into ``num_blocks`` 8-bit blocks and each probe
    key concatenates one *pair* of blocks — C(8,2) = 28 probes of 16 bits
    per rotation. Pigeonhole (any single rotation): ≤ 6 differing bits
    dirty ≤ 6 blocks, leaving two clean blocks whose pair key must agree
    — Hamming ≤ num_blocks − 2 is caught deterministically;
    7..max_hamming is caught when some rotation groups the differing
    bits into ≤ 6 blocks (rotations shift block boundaries, giving
    near-independent trials). The round-1 design used 8-bit band values
    — only 256 buckets per band, so within-bucket self-joins went
    quadratic at corpus scale; 16-bit keys give a 2^16 value space per
    probe and bucket sizes ~N/65536. Output: (id_a, id_b, hamming).

    Strategies: ``"probe"`` is the corpus-scale path above. On small
    corpora (≤ ``pairwise_max_docs``) a loose Hamming threshold makes a
    large fraction of pairs match, so every matching pair re-surfaces
    from up to rotations·C(8,2) probe buckets and the dedup shuffle
    dwarfs the real work; ``"pairwise"`` instead runs an exact salted
    self-join over the compact (id, simhash) rows — the per-pair cost is
    two ALU ops in codegen, there is no multiplicity, and recall is
    exact (every pair with Hamming ≤ max_hamming, not just probed ones).
    ``"auto"`` counts the corpus (one metadata-light job over 8-byte
    rows) and picks.

    The probe/pairwise machinery itself is signature-agnostic
    (:func:`hamming_near_pairs`) — the image dHash near-dup reuses it
    over decoded-pixel fingerprints.
    """
    sigs = stage(simhash_signatures(df, id_col, text_col, portable))
    return hamming_near_pairs(
        sigs,
        id_col=id_col,
        sig_col="simhash",
        max_hamming=max_hamming,
        num_blocks=num_blocks,
        rotations=rotations,
        strategy=strategy,
        pairwise_max_docs=pairwise_max_docs,
        salt_buckets=salt_buckets,
    )


def hamming_probe_rows(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    num_blocks: int = 8,
    rotations: tuple[int, ...] = (0, 3, 6),
) -> DataFrame:
    """The Manku probe keys for a 64-bit signature table: for each cyclic
    rotation, the fingerprint splits into ``num_blocks`` blocks and every
    block PAIR concatenates into one 2·block-bit key — rotations·C(n,2)
    ``(id, sig, band_idx, band_val)`` rows per item. Shared by
    :func:`hamming_near_pairs` (self-join) and the incremental/streaming
    image dedup (probe-join against the accepted-history store)."""
    block_bits = 64 // num_blocks
    mask = (1 << block_bits) - 1
    # The probe keys are built from a CONSTANT (band_idx, rotation, two
    # block shifts) table exploded per row, with band_val computed by ONE
    # small expression over the exploded constants — instead of exploding
    # an array of rotations*C(n,2) fully-inlined per-band expressions.
    # Same bit algebra row for row (left-rotate by r, extract blocks i and
    # j, concatenate), but the expression tree is ~50x smaller: one parser
    # round-trip instead of hundreds of per-struct py4j/parse calls, and a
    # plan catalyst can analyze in milliseconds (this operator's DataFrame
    # BUILD time alone measured 3.2-3.5 s per call at 84 probes before).
    entries = []
    idx = 0
    for r in rotations:
        for i in range(num_blocks):
            for j in range(i + 1, num_blocks):
                entries.append(
                    f"struct({idx} as band_idx, {int(r)} as r, "
                    f"{block_bits * i} as shi, {block_bits * j} as shj)"
                )
                idx += 1
    rot_case = "CASE band.r " + " ".join(
        f"WHEN {int(r)} THEN "
        + (
            f"(shiftleft({sig_col}, {int(r)}) | shiftrightunsigned({sig_col}, {64 - int(r)}))"
            if r
            else sig_col
        )
        for r in dict.fromkeys(int(r) for r in rotations)
    ) + " END"
    band_val = (
        f"(shiftrightunsigned({rot_case}, band.shi) & {mask}) * {mask + 1} "
        f"+ (shiftrightunsigned({rot_case}, band.shj) & {mask})"
    )
    return (
        sigs.select(
            F.col(id_col),
            F.col(sig_col),
            F.expr("explode(array(" + ",".join(entries) + "))").alias("band"),
        )
        .select(
            id_col,
            sig_col,
            F.col("band.band_idx").alias("band_idx"),
            F.expr(band_val).cast("long").alias("band_val"),
        )
    )


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 12,
    num_blocks: int = 8,
    rotations: tuple[int, ...] = (0, 3, 6),
    strategy: str = "auto",
    pairwise_max_docs: int = 20000,
    salt_buckets: int = 32,
) -> DataFrame:
    """Near pairs by Hamming distance over ANY precomputed 64-bit
    signature column — the probe machinery of :func:`simhash_near_pairs`
    factored out so other fingerprint modalities (image dHash over
    decoded pixels, any future audio fingerprint) get the same
    sub-quadratic Manku-style block-permutation probing without
    reimplementing it. ``sigs`` must hold one ``(id, sig)`` row per
    item; see :func:`simhash_near_pairs` for the probe/pairwise
    strategy semantics and the recall contract. Output:
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``."""
    from ..sources.tables import spread

    if strategy == "auto":
        strategy = "pairwise" if sigs.count() <= pairwise_max_docs else "probe"
    # Widen the signature rows before pair generation: persisted signature
    # stores read back as one or two small parquet splits, and the planner
    # broadcast-joins the banded/salted side — leaving the ENTIRE pairwise
    # comparison volume (bucket fan-out x bit_count per collision, the real
    # cost of this operator) on the 1-2 scan tasks. One round-robin
    # exchange of the 16-byte (id, sig) rows buys full-cluster parallelism
    # for the join; no-op when the scan is already wide (large corpora).
    sigs = spread(sigs)
    ham = F.bit_count(F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}")))
    if strategy == "pairwise":
        a = sigs.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)))
        b = sigs.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<long>"))
        )
        return (
            a.alias("a")
            .join(
                b.alias("b"),
                (F.col("a._salt") == F.col("b._salt"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                & (ham <= F.lit(max_hamming)),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"),
            )
        )
    banded = hamming_probe_rows(sigs, id_col, sig_col, num_blocks, rotations)
    a, b = banded.alias("a"), banded.alias("b")
    # Hamming check lives IN the join condition: probe-bucket collisions
    # that aren't real near-dups die during the join instead of flowing
    # into the dedup shuffle (candidate multiplicity across 84 probes
    # makes post-join distinct the dominant cost otherwise).
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (ham <= F.lit(max_hamming)),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Segment-level (paragraph) dedup — CCNet-style
# ---------------------------------------------------------------------------

def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 32,
    max_df: int = 1,
) -> DataFrame:
    """Corpus-wide segment-level deduplication (CCNet, Wenzek et al.
    2020, arXiv:1911.00359 §3.1 "deduplicating paragraphs across the
    whole corpus"): split every document into fixed ``chunk``-token
    segments, count in how many *distinct* documents each segment's
    content occurs, and drop every occurrence of a segment seen in more
    than ``max_df`` documents — boilerplate removal where headers,
    footers, and mirrored paragraphs vanish from *all* their carriers.

    Returns one row per input document:
    ``(id_col, n_segments, n_kept, text_dedup)`` where ``text_dedup``
    re-joins the surviving segments in original order ('' when every
    segment was shared — the fate of an exact-duplicate document).

    Plan shape (3 shuffles, all on narrow rows):
    1. segment + digest: ``sequence``/``slice`` chunking (zero Python)
       projected to ``(doc_id, pos, md5(segment))`` — segment text is
       NOT carried into the frequency aggregation.
    2. document-frequency: partial-aggregated count of distinct carrier
       docs per 16-byte digest (two-level groupBy, map-side combinable).
    3. verdict join back on the digest, then per-doc reassembly with
       ``sort_array`` over (pos, segment) structs — deterministic order
       with no per-group sort spill (segments per doc are bounded by
       document length / chunk). Per-doc segment totals are a
       closed-form expression on the pre-explode side — they never
       re-run the explode+digest plan.

    At 100 TB the frequency table is |distinct segments| rows of 16
    bytes; the skew ceiling is the hottest digest's carrier count, which
    the count-distinct partial aggregation absorbs map-side.
    """
    from .text import chunk_count, chunk_slices

    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    slices = F.transform(
        chunk_slices(F.col("_toks"), chunk), lambda s: F.array_join(s, " ")
    )
    segs = toks.select(
        F.col(id_col), F.posexplode(slices).alias("_pos", "_seg")
    ).withColumn("_h", F.md5("_seg"))

    seg_df = (
        segs.select("_h", id_col)
        .groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("_h")
    )

    kept = segs.join(seg_df, "_h", "left_semi")
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_seg"))),
                lambda s: s["_seg"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    # per-doc totals come from the pre-explode side as a closed-form
    # count — no third pass through the explode+digest+shuffle plan
    totals = toks.select(
        F.col(id_col), chunk_count(F.col("_toks"), chunk).alias("n_segments")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.col("n_segments").cast("int").alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def duplicate_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 20,
    max_df: int = 1,
) -> DataFrame:
    """Span-level exact deduplication (Lee et al. 2021, arXiv:2107.06499
    "Deduplicating Training Data Makes Language Models Better", the
    ExactSubstr variant re-expressed relationally): any run of
    ``span_tokens`` consecutive tokens whose content occurs in more than
    ``max_df`` documents is duplicated TEXT, and every token covered by
    such a run is removed from every carrier — the surgical middle
    ground between fixed-chunk segment dedup (:func:`segment_dedup`,
    which can only drop aligned chunks) and whole-document MinHash: a
    boilerplate paragraph buried mid-document vanishes without touching
    the surrounding prose and without chunk-boundary alignment luck.

    Relational formulation (the suffix-array machinery of the paper is
    a single-machine construction; the same spans fall out of sliding
    window digests):

    1. sliding span digests — ``md5`` of each ``span_tokens``-token
       window, one (doc, start_pos, digest) row per window. Computed as
       a ``collect_list`` WINDOW over the exploded (doc, pos, token)
       rows — the frame machinery is JVM-side and measured ~2.6× faster
       at sf0.1 than the equivalent interpreted HOF
       (``transform(sequence …)``) over the token array, and it shares
       the (doc, pos) sort the coverage step needs anyway;
    2. document frequency per digest (partial-aggregated
       ``count_distinct`` — the ``segment_dedup`` shuffle on 16-byte
       digests, never text);
    3. duplicated-span starts join back per (doc, pos);
    4. coverage — a token at position p is covered iff some duplicated
       span starts in ``[p - span_tokens + 1, p]``: ONE window max over
       ``ROWS span_tokens-1 PRECEDING`` per document — no range join,
       no per-doc cross product;
    5. rebuild — uncovered tokens re-join in order
       (``sort_array(collect_list(struct(pos, tok)))``).

    Everything is integer/string algebra — exactly reproducible in SQL,
    so unlike the probabilistic dedup family this one is fully
    oracle-checkable. Returns (``id_col``, n_tokens, n_removed,
    text_dedup); documents shorter than ``span_tokens`` pass through
    whole (no window exists). Shuffle profile: one digest-count
    aggregate + everything else partitioned by doc id.

    Deliberate recompute: the exploded (doc, pos, token) rows feed both
    the span branch and the coverage branch, and are NOT materialized —
    at 100 TB the exploded token table is corpus-sized (materializing
    it would double storage pressure for the sake of skipping a second
    scan-and-split, which is the cheap, IO-bound part of the plan).
    Contrast the narrow cases where this engine does checkpoint shared
    inputs (16-byte band rows, k-row sketch summaries).
    """
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    w = span_tokens
    tok_pos = toks.select(
        F.col(id_col), F.posexplode("_toks").alias("_p0", "_tok")
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("_p"), "_tok")

    span_w = Window.partitionBy(id_col).orderBy("_p").rowsBetween(0, w - 1)
    doc_w = Window.partitionBy(id_col)
    spans = (
        tok_pos.withColumn("_n", F.count("*").over(doc_w))
        .withColumn("_win", F.collect_list("_tok").over(span_w))
        .filter(F.col("_p") <= F.col("_n") - w + 1)
        .select(
            F.col(id_col),
            F.col("_p").alias("_s"),
            F.md5(F.concat_ws(" ", "_win")).alias("_h"),
        )
    )

    dup_digests = (
        spans.select("_h", id_col)
        .groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_h")
    )
    dup_starts = (
        spans.join(dup_digests, "_h", "left_semi")
        .select(F.col(id_col), F.col("_s"))
        .distinct()
    )

    marked = tok_pos.join(
        dup_starts.withColumnRenamed("_s", "_p").withColumn("_is_start", F.lit(1)),
        [id_col, "_p"],
        "left",
    ).select(
        id_col, "_p", "_tok", F.coalesce("_is_start", F.lit(0)).alias("_is_start")
    )
    cover_w = (
        Window.partitionBy(id_col)
        .orderBy("_p")
        .rowsBetween(-(w - 1), 0)
    )
    kept = (
        marked.withColumn("_covered", F.max("_is_start").over(cover_w))
        .filter(F.col("_covered") == 0)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_p", "_tok"))),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("text_dedup"),
        )
    )
    totals = toks.select(
        F.col(id_col), F.size("_toks").cast("long").alias("n_tokens")
    )
    return totals.join(kept, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0))).cast("long").alias(
            "n_removed"
        ),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted digest store
# ---------------------------------------------------------------------------

def incremental_exact_dedup(
    new_df: DataFrame,
    store_path: str,
    key_cols: tuple[str, ...] | list[str] = ("text",),
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup for incremental corpus refreshes: keep the rows of
    ``new_df`` whose content digest has never been seen — neither in the
    persisted digest store at ``store_path`` (all prior increments) nor
    earlier in this increment (min-id winner within the batch) — then
    append the surviving digests to the store.

    Semantics are FIRST-SEEN-WINS across increments (a re-crawled
    document never displaces the copy already accepted), which is the
    production contract: accepted training data is immutable; dedup
    protects the corpus going forward.

    Scale shape: the store holds md5 digests only (32-char hex strings —
    ~32 GB of raw parquet at 10⁹ accepted documents, dictionary/
    prefix-compressed well below that on disk; store `unhex(_ck)` if
    the 2× matters), scanned once per increment for a digest anti-join
    (never the text). The within-batch winner is the
    same partial-min groupBy as :func:`dedup_exact`; survivors semi-join
    back by id so document payloads move only for accepted rows. Store
    appends accumulate small files — compact with
    ``operators.layout.compact_files`` on the digest column. The append
    is not atomic with the read; run increments serially (the scheduler
    contract every ingest pipeline already has).
    """
    spark = new_df.sparkSession
    # Explicit existence probe (the same Hadoop FS API layout.compact_files
    # uses) decides the first-increment case; ONLY a genuinely missing
    # store may proceed without history. Any reader failure on an existing
    # path (permissions, corrupt footers, transient FS errors) surfaces —
    # silently skipping the anti-join would re-admit previously accepted
    # duplicates. Matching exception TEXT here would couple bootstrap to
    # Spark's error wording (ADVICE r5).
    hist = (
        spark.read.parquet(store_path)
        if _hadoop_path_exists(spark, store_path)
        else None
    )
    firsts = exact_dedup_core(new_df, hist, key_cols, id_col)
    firsts.select("_ck").write.mode("append").parquet(store_path)
    return new_df.join(firsts.select(id_col), id_col, "left_semi")


def exact_dedup_core(
    new_df: DataFrame,
    hist_keys: DataFrame | None,
    key_cols: tuple[str, ...] | list[str] = ("text",),
    id_col: str = "doc_id",
) -> DataFrame:
    """The decision kernel shared by :func:`incremental_exact_dedup` and
    the streaming ingest (``streaming.dedup.make_exact_dedup_ingest``) —
    factored for the same reason as :func:`minhash_near_dedup_core`: the
    winner/anti-join logic must not drift between batch and stream
    (review r10). Given the increment and the accepted-history digests
    (``_ck`` column; ``None`` for a bootstrap), return the surviving
    ``(_ck, id)`` winners, staged so the caller
    can mutate the store afterwards without re-running the plan —
    first-seen-wins within the increment (min id per digest) and
    across increments (history anti-join)."""

    keyed = new_df.select(content_key(key_cols).alias("_ck"), F.col(id_col))
    firsts = keyed.groupBy("_ck").agg(F.min(id_col).alias(id_col))
    if hist_keys is not None:
        firsts = firsts.join(hist_keys.select("_ck"), "_ck", "left_anti")
    # freeze winners before the store mutates; a looping caller (epoch
    # driver, foreachBatch) frees the blocks with its staged scope
    return stage(firsts)


def _hadoop_path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on its filesystem (local, HDFS, object
    store — whatever the Hadoop conf resolves the scheme to)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def incremental_minhash_dedup(
    new_df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """**Near-dup** dedup for incremental corpus refreshes — the MinHash
    sibling of :func:`incremental_exact_dedup` (production refreshes need
    both: a re-crawl rarely arrives byte-identical). The persisted store
    at ``store_path`` holds the (band_idx, band_hash) rows of every
    previously ACCEPTED document; an increment is processed as:

    1. band the increment's MinHash signatures (:func:`band_rows`);
    2. **history probe** — one equi-join of the increment's band rows
       against the store: any collision marks the document a near-dup of
       already-accepted content;
    3. **within-increment clustering** — documents sharing ≥1 band form
       the LSH collision graph; its connected components are the
       near-dup clusters (the same cluster semantics as
       ``duplicate_clusters``). A cluster touching history is dropped
       whole (its content is already represented — first-seen-wins
       across increments); otherwise its minimum id survives
       (first-seen-wins within the increment). Documents too short to
       shingle have no bands, collide with nothing, and survive as
       their own singleton.
    4. survivors' band rows are appended to the store. Only accepted
       documents contribute bands — the store is the accepted corpus's
       signature, exactly like the exact-dedup digest store holds
       accepted digests.

    LSH banding decides near-duplication (probabilistic by design: the
    (num_hashes, bands) operating point sets the Jaccard threshold
    curve, the same trade every production MinHash pipeline makes —
    verifying against history exactly would require storing shingle
    sets, ~1000× the band rows). Determinism: given fixed parameters the
    outcome is a pure function of the increment sequence — the pytest
    replays a sequential reference over the same band rows and requires
    identical accepted sets, including a near-dup straddling increments.

    Scale shape: the store is O(accepted docs × bands) 12-byte rows,
    scanned once per increment for the semi-join probe; the in-batch
    component loop runs on collision EDGES (band-bucket pairs, the same
    join ``lsh_candidate_pairs`` does), never on text. The append is
    not atomic with the read; increments run serially (the scheduler
    contract every ingest pipeline already has). Compact the store with
    ``operators.layout.compact_files`` as it accumulates per-increment
    files.
    """
    spark = new_df.sparkSession
    hist = (
        spark.read.parquet(store_path)
        if _hadoop_path_exists(spark, store_path)
        else None
    )
    survivors, banded = minhash_near_dedup_core(
        new_df, hist, id_col, text_col, num_hashes, bands, shingle_n
    )
    banded.join(survivors, id_col, "left_semi").select(
        "band_idx", "band_hash"
    ).write.mode("append").parquet(store_path)
    return new_df.join(survivors, id_col, "left_semi")


def minhash_near_dedup_core(
    new_df: DataFrame,
    hist_bands: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    banded: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The store-layout-agnostic decision kernel behind
    :func:`incremental_minhash_dedup` (and its streaming wrapper, whose
    store is batch-id partitioned for replay idempotence): given the
    increment and the accepted-history band rows (or ``None`` for a
    bootstrap), return ``(survivor_ids, increment_band_rows)`` — both
    staged so callers can mutate the store afterwards without
    re-running the plan.

    ``banded`` optionally supplies ``new_df``'s band rows when the
    caller already computed them (the tombstone-filtering ingest —
    without this the dominant shingle+MinHash pass ran TWICE per epoch
    whenever a tombstone store exists, review r10); it must be exactly
    ``band_rows(minhash_signatures(new_df, ...))`` under the same
    parameters, ideally derived from a checkpointed plan so no
    signature recompute hides inside it."""
    from .graph import connected_components

    if banded is None:
        sigs = minhash_signatures(new_df, id_col, text_col, num_hashes, shingle_n)
        banded = band_rows(sigs, id_col, num_hashes, bands)
    banded = stage(banded)

    if hist_bands is not None:
        hist_hits = (
            banded.join(
                hist_bands.select("band_idx", "band_hash"),
                ["band_idx", "band_hash"],
                "left_semi",
            )
            .select(id_col)
            .distinct()
            .withColumn("_hist", F.lit(True))
        )
    else:
        hist_hits = None

    # STAR edges, not clique edges: banding alone decides membership here
    # (no pairwise verification step), and for connected components a
    # bucket's clique and its star to the bucket-min id produce IDENTICAL
    # components — so emit one edge per band row (O(rows)) instead of the
    # B² within-bucket pairs a self-join materializes. On a bucket holding
    # B near-identical documents (exactly the corpus near-dup dedup
    # exists for) the clique is quadratic; the star is linear.
    roots = banded.groupBy("band_idx", "band_hash").agg(
        F.min(id_col).alias("_root")
    )
    pairs = (
        banded.join(roots, ["band_idx", "band_hash"])
        .filter(F.col(id_col) != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )
    comp = connected_components(
        pairs, vertices=new_df.select(id_col), src="id_a", dst="id_b"
    )
    if hist_hits is not None:
        comp = comp.join(hist_hits, comp.id == hist_hits[id_col], "left").select(
            comp.id, "cluster_id", F.coalesce("_hist", F.lit(False)).alias("_hist")
        )
    else:
        comp = comp.select("id", "cluster_id", F.lit(False).alias("_hist"))
    survivors = (
        comp.groupBy("cluster_id")
        .agg(
            F.min("id").alias(id_col),
            F.max(F.col("_hist").cast("int")).alias("_any_hist"),
        )
        .filter(F.col("_any_hist") == 0)
        .select(id_col)
    )
    survivors = stage(survivors)  # freeze before the store mutates
    return survivors, banded


def incremental_hamming_dedup(
    new_sigs: DataFrame,
    store_path: str,
    id_col: str = "media_id",
    sig_col: str = "dhash",
    max_hamming: int = 10,
    num_blocks: int = 8,
    rotations: tuple[int, ...] = (0, 3, 6),
) -> DataFrame:
    """**Perceptual near-dup** dedup for incremental media refreshes —
    the Hamming-fingerprint sibling of :func:`incremental_minhash_dedup`
    (a re-encoded, brightened, or resized copy of an accepted image is
    never byte-identical, so the exact-digest store can't catch it; its
    dHash lands within a small Hamming distance). ``new_sigs`` holds one
    ``(id, sig)`` 64-bit fingerprint row per item (computing the
    fingerprint is the caller's job — :func:`operators.media.image_dhash`
    for images, :func:`operators.media.audio_fingerprint` for audio —
    which is what keeps this store modality-agnostic). The persisted
    store at ``store_path`` holds the ``(sig, band_idx, band_val)``
    Manku probe rows of every previously ACCEPTED item; an increment is
    processed exactly like the MinHash flow — history probe, within-
    increment clustering, min-id winner, drop clusters touching history
    whole, append survivors' probe rows — with the one structural
    difference the Hamming geometry forces: a probe-key collision is
    NOT membership evidence (see :func:`incremental_hamming_dedup_core`),
    so both joins verify ``bit_count(xor) <= max_hamming``.

    Scale shape: the store is O(accepted items × rotations·C(blocks,2))
    rows of ~24 bytes, scanned once per increment for the verified probe
    join — payload bytes never touch the store. Appends accumulate
    small files (compact with ``operators.layout.compact_files``); the
    append is not atomic with the read, so increments run serially (the
    ingest scheduler contract). Returns the accepted rows of
    ``new_sigs``."""
    spark = new_sigs.sparkSession
    hist = (
        spark.read.parquet(store_path)
        if _hadoop_path_exists(spark, store_path)
        else None
    )
    survivors, banded = incremental_hamming_dedup_core(
        new_sigs, hist, id_col, sig_col, max_hamming, num_blocks, rotations
    )
    banded.join(survivors, id_col, "left_semi").select(
        sig_col, "band_idx", "band_val"
    ).write.mode("append").parquet(store_path)
    return new_sigs.join(survivors, id_col, "left_semi")


def incremental_hamming_dedup_core(
    sigs: DataFrame,
    hist_bands: DataFrame | None,
    id_col: str = "media_id",
    sig_col: str = "dhash",
    max_hamming: int = 10,
    num_blocks: int = 8,
    rotations: tuple[int, ...] = (0, 3, 6),
    strategy: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """The Hamming-fingerprint mirror of :func:`minhash_near_dedup_core`
    — the decision kernel for incremental/streaming perceptual media
    dedup: given this increment's ``(id, sig)`` fingerprints and the
    accepted-history probe rows (``(sig, band_idx, band_val)``, or
    ``None`` for a bootstrap), return ``(survivor_ids,
    increment_probe_rows)``, both safe to read after the caller mutates
    the store (the decision plans run over a localCheckpoint of the
    narrow ``(id, sig)`` rows taken HERE — one pass through whatever
    computed the fingerprints, however expensive the decode behind them
    was; the earlier draft re-ran the signature plan through
    ``hamming_near_pairs``'s auto-count and both self-join sides,
    ADVICE r9).

    One structural difference from the MinHash core: a shared band key
    is NOT membership evidence here (probe buckets collide without a
    real near-dup), so both the within-batch pairs and the history
    probe VERIFY ``bit_count(xor) <= max_hamming`` — which is why the
    history store carries the signature on every probe row. Within-
    batch clusters collapse to their min-id winner via connected
    components over the VERIFIED pairs; clusters containing any
    history match are dropped whole (the accepted copy already
    represents them). Sub-quadratic throughout: probe-key equi-joins
    only, no all-pairs. ``strategy`` passes through to
    :func:`hamming_near_pairs` for the within-increment pairs
    (micro-batch-sized increments usually take its pairwise path; the
    auto count runs over the checkpointed 8-byte rows, not the decode
    plan)."""
    from .graph import connected_components

    sigs = stage(sigs.select(id_col, sig_col))
    banded = hamming_probe_rows(sigs, id_col, sig_col, num_blocks, rotations)
    if hist_bands is not None:
        hist_hits = (
            banded.alias("a")
            .join(
                hist_bands.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (
                    F.bit_count(
                        F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
                    )
                    <= F.lit(max_hamming)
                ),
            )
            .select(F.col(f"a.{id_col}"))
            .distinct()
            .withColumn("_hist", F.lit(True))
        )
    else:
        hist_hits = None

    pairs = hamming_near_pairs(
        sigs,
        id_col=id_col,
        sig_col=sig_col,
        max_hamming=max_hamming,
        num_blocks=num_blocks,
        rotations=rotations,
        strategy=strategy,
    ).select("id_a", "id_b")
    comp = connected_components(
        pairs, vertices=sigs.select(id_col), src="id_a", dst="id_b"
    )
    if hist_hits is not None:
        comp = comp.join(hist_hits, comp.id == hist_hits[id_col], "left").select(
            comp.id, "cluster_id", F.coalesce("_hist", F.lit(False)).alias("_hist")
        )
    else:
        comp = comp.select("id", "cluster_id", F.lit(False).alias("_hist"))
    survivors = (
        comp.groupBy("cluster_id")
        .agg(
            F.min("id").alias(id_col),
            F.max(F.col("_hist").cast("int")).alias("_any_hist"),
        )
        .filter(F.col("_any_hist") == 0)
        .select(id_col)
    )
    survivors = stage(survivors)  # freeze before store writes
    return survivors, banded


# ---------------------------------------------------------------------------
# Right-to-erasure for the accepted-history dedup stores — the gatekeeping
# half of a compliance delete. `operators.layout.erase_rows` removes a
# subject's rows from the corpus TABLES; these wrappers remove the same
# content's signature shadow from the dedup stores, so the content stops
# vetoing future ingests (an erased document must be re-admissible — a
# store that still holds its digests would silently drop any future
# legitimate submission of similar content forever).
# ---------------------------------------------------------------------------

def erase_from_exact_store(
    spark,
    store_path: str,
    docs: DataFrame,
    key_cols: tuple[str, ...] | list[str] = ("text",),
    tombstone: bool | None = None,
) -> dict:
    """Remove the given documents' content digests from an
    :func:`incremental_exact_dedup` store (atomic partition-preserving
    rewrite via :func:`operators.layout.erase_rows`). Exactness: the
    store holds one row per ACCEPTED digest (first-seen-wins), so a
    digest identifies exactly one accepted item. ``tombstone`` follows
    the shared auto rule (:func:`_resolve_tombstone`): ON for the
    epoch-partitioned streaming store
    (``streaming.dedup.start_exact_dedup_stream``), whose ingest
    filters tombstoned digests on every delivery so epoch replay
    cannot resurrect them. Returns erase_rows' ``{rows_before,
    rows_erased, rows_after}``."""
    from .layout import erase_rows

    keys = docs.select(content_key(key_cols).alias("_ck"))
    # scope the freeze: a long-lived DSR session erasing in a loop must
    # not accumulate pinned checkpoint blocks (review r10 — the same
    # scope erase_rows applies to its own request set)
    with staged(spark):
        if _resolve_tombstone(spark, store_path, tombstone):
            keys = stage(keys)
            keys.write.mode("append").parquet(tombstone_store_path(store_path))
        return erase_rows(spark, store_path, keys, key_col="_ck")


def _is_epoch_partitioned(spark, store_path: str) -> bool:
    """True iff the store is the streaming layout (``_batch_id=``
    partition directories)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    return any(
        e.isDirectory() and e.getPath().getName().startswith("_batch_id=")
        for e in fs.listStatus(p)
    )


def _resolve_tombstone(spark, store_path: str, tombstone) -> bool:
    """``tombstone=None`` auto-resolves to True for epoch-partitioned
    (streaming) stores. Rationale (review r10): a streaming store's
    writer rewrites a replayed epoch's partition from the redelivered
    SOURCE batch, so a plain row delete is silently resurrected by the
    exact crash-recovery path the idempotent layout exists for — the
    erase must leave a durable tombstone the ingest consults on every
    (re)delivery. Batch stores have no replayer, so plain deletion is
    complete there and erased content stays RE-ADMISSIBLE; tombstoned
    content is conservatively BLOCKED from future ingestion (an
    at-least-once stream cannot distinguish a redelivery of the erased
    item from a fresh resubmission of the same content)."""
    if tombstone is None:
        return _is_epoch_partitioned(spark, store_path)
    return bool(tombstone)


def tombstone_store_path(store_path: str) -> str:
    """The durable erasure-tombstone dataset paired with a streaming
    dedup store (consulted by the ingests on every delivery)."""
    return store_path + "__tombstones"


def erase_from_minhash_store(
    spark,
    store_path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    tombstone: bool | None = None,
) -> dict:
    """Remove the given ACCEPTED documents' band rows from an
    :func:`incremental_minhash_dedup` store. The erase key is the
    composite ``(band_idx, band_hash)`` — never ``band_hash`` alone,
    which could collateral-delete another accepted document's row
    sharing the hash under a different band index. Exactness rests on
    the store invariant that no two ACCEPTED documents share a band
    (any document colliding with history is dropped, any within-
    increment collision keeps one winner), so the computed pairs match
    only the target's rows.

    Contract: pass the content of documents that were ACCEPTED (the
    normal DSR flow — the subject's admitted corpus rows). Erasing a
    never-accepted near-duplicate's content would instead strip the
    colliding bands from its accepted REPRESENTATIVE, partially
    weakening that representative's gatekeeping; the returned
    ``rows_erased`` count is the audit hook. Signature parameters must
    match the store's. Partition layout (e.g. the streaming store's
    ``_batch_id`` dirs) is preserved; untouched partitions are not
    rewritten.

    ``tombstone`` (default: auto — ON for epoch-partitioned streaming
    stores, OFF for batch stores; see :func:`_resolve_tombstone` for
    why the split): when on, the erased keys are also appended to the
    ``__tombstones`` dataset the streaming ingests consult, so a
    redelivered epoch cannot resurrect the erased rows — and a future
    submission of the same content is conservatively blocked."""
    from .layout import erase_rows

    keys = band_rows(
        minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    ).select("band_idx", "band_hash")
    with staged(spark):  # scoped freeze (review r10)
        if _resolve_tombstone(spark, store_path, tombstone):
            keys = stage(keys)  # one signature pass
            keys.write.mode("append").parquet(tombstone_store_path(store_path))
        return erase_rows(
            spark, store_path, keys, key_col=["band_idx", "band_hash"]
        )


def erase_from_hamming_store(
    spark,
    store_path: str,
    sigs: DataFrame,
    sig_col: str = "dhash",
    tombstone: bool | None = None,
) -> dict:
    """Remove the given ACCEPTED items' probe rows from an
    :func:`incremental_hamming_dedup` store (``sigs``: one ``(id,
    sig)`` row per item to erase — recompute via
    :func:`operators.media.image_dhash` / ``audio_fingerprint`` /
    ``video_dhash`` from the payloads being erased). The erase key is
    the signature alone, which is exact here: accepted items are
    pairwise ``> max_hamming`` apart, so no two accepted items share a
    signature and every store row carrying it belongs to the erased
    item. Same accepted-content contract, partition-layout
    preservation, and ``tombstone`` semantics as
    :func:`erase_from_minhash_store` (tombstones hold the bare
    signature column)."""
    from .layout import erase_rows

    keys = sigs.select(sig_col)
    with staged(spark):  # scoped freeze (review r10)
        if _resolve_tombstone(spark, store_path, tombstone):
            keys = stage(keys)
            keys.write.mode("append").parquet(tombstone_store_path(store_path))
        return erase_rows(spark, store_path, keys, key_col=sig_col)

"""Importance-resampling data selection (DSIR) over hashed n-gram features.

The data-selection stage of a training pipeline: given a small TARGET
corpus that looks like what the model should train on (curated sources)
and a large RAW pool (the crawl), score every raw document by how much
more likely its hashed n-gram bag is under the target distribution than
under the raw distribution, and keep the top-weighted documents. This is
the estimator of Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" (DSIR): bag-of-hashed-n-grams multinomials
with add-one smoothing, importance weight

    log w(x) = Σ_buckets  tf_b(x) · ln( p_target(b) / p_raw(b) )

Spark-first shape (and why it holds at 100 TB):

- Features are built SCAN-SIDE (split → explode, plus an adjacent-pair
  slice transform for bigrams — no window shuffle) and immediately
  collapsed to per-document term frequencies by one partial-aggregating
  ``groupBy`` (map-side combine shrinks the shuffle by the within-doc
  repetition factor).
- Hash-bucketing caps the model size by construction: both class
  histograms are ≤ ``16^hex_chars`` rows however large the corpus, so
  the log-ratio table is always broadcastable — the scoring join never
  shuffles the corpus, only the per-doc feature rows on ``doc_id``
  (which the feature groupBy already partitioned).
- Per-bucket log ratios are rounded to 6 decimal places and accumulated
  as exact ``tf × decimal`` products, so the document weight is
  combine-order independent and engine-portable (the ``stable_sum``
  discipline).
- The hash is md5 (prefix → bucket id), the engine-portable family used
  by the near-dup oracles; a DuckDB oracle can replay the entire
  pipeline bit-for-bit, smoothing and all.

The deterministic top-k head (``orderBy … limit``) plans as
``TakeOrderedAndProject`` — per-partition heads then one k-row merge,
no global sort. DSIR's Gumbel-top-k sampling variant is the same plan
with seeded-hash Gumbel noise added to the weight before ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregate import STABLE_DECIMAL
from .checkpoints import stage

#: Adjacent word pairs; guarded because Spark's sequence(1, 0) DESCENDS —
#: a 1-token doc must contribute no bigrams, not a wrapped pair.
_BIGRAMS_EXPR = (
    "CASE WHEN size(_toks) >= 2 THEN "
    "  transform(sequence(1, size(_toks) - 1),"
    "            i -> concat(_toks[i - 1], '_', _toks[i])) "
    "ELSE array() END"
)


#: permille of the id space held out as the deterministic eval split —
#: the ONE benchmark-holdout rule every decontamination path shares
EVAL_HOLDOUT_PERMILLE = 50


def is_eval_doc(col: Column) -> Column:
    """THE deterministic eval-holdout predicate (ADVICE r11: this
    Knuth-hash expression was inlined at least six times across the
    decontamination queries, the export CLI, and tests — drift between
    copies would quietly re-admit benchmark documents into an exported
    training corpus). Spark side; :func:`is_eval_doc_sql` is the SQL
    twin the DuckDB oracles interpolate. ~5% of ids, stable under
    corpus growth (depends only on the id)."""
    return (
        (col % F.lit(1000)) * F.lit(2654435761)
    ) % F.lit(1000) < F.lit(EVAL_HOLDOUT_PERMILLE)


def is_eval_doc_sql(expr: str = "doc_id") -> str:
    """SQL twin of :func:`is_eval_doc` — interpolate into oracle
    strings so both engines evaluate the identical expression."""
    return f"(({expr} % 1000) * 2654435761) % 1000 < {EVAL_HOLDOUT_PERMILLE}"


def hashed_ngram_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
    carry: tuple = (),
) -> DataFrame:
    """Per-document hashed n-gram term frequencies.

    Output: ``(<id_col>, *carry, bucket int, tf long)`` with
    ``bucket = int(md5(feature)[:hex_chars], 16)`` over word unigrams
    (whitespace split) and, when ``bigrams``, ``w1_w2`` adjacent pairs.
    ``carry`` columns ride THROUGH the explode and groupBy (they are
    per-document constants, e.g. a class tag) — carrying beats joining
    them back on: the join would shuffle two corpus-sized sides.
    """
    carry = list(carry)
    toks = df.select(id_col, *carry, F.split(text_col, " ").alias("_toks"))
    feats = toks.select(id_col, *carry, F.explode("_toks").alias("_feat"))
    if bigrams:
        feats = feats.unionAll(
            toks.select(
                id_col, *carry, F.explode(F.expr(_BIGRAMS_EXPR)).alias("_feat")
            )
        )
    bucket = F.conv(F.substring(F.md5("_feat"), 1, hex_chars), 16, 10).cast("int")
    return (
        feats.select(id_col, *carry, bucket.alias("bucket"))
        .groupBy(id_col, *carry, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tagged_features(
    docs: DataFrame,
    is_target: F.Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
) -> DataFrame:
    """Class-tagged per-doc feature counts ``(<id_col>, _tgt, bucket,
    tf)`` — the shared input of the histogram and scoring passes."""
    if is_target is None:
        is_target = F.col("is_target")
    tagged = docs.select(
        F.col(id_col), F.col(text_col), is_target.alias("_tgt")
    )
    return hashed_ngram_features(
        tagged, id_col=id_col, text_col=text_col,
        hex_chars=hex_chars, bigrams=bigrams, carry=("_tgt",),
    )


def dsir_histograms(
    docs: DataFrame,
    is_target: F.Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
) -> DataFrame:
    """The DSIR MODEL: per-bucket feature counts for the target corpus
    (``ct``) and raw pool (``cr``) — ≤ ``16^hex_chars`` rows however
    large the corpus. Pure counts, so models MERGE exactly: summing two
    increments' histograms per bucket equals the histogram of their
    union (``dsir_merge_models``) — the property that makes incremental
    crawls cheap (fold the new epoch in; never rescan history)."""
    feats = tagged_features(
        docs, is_target, id_col=id_col, text_col=text_col,
        hex_chars=hex_chars, bigrams=bigrams,
    )
    return _hist_from_features(feats)


def _hist_from_features(feats: DataFrame) -> DataFrame:
    return feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("_tgt"), F.col("tf")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("_tgt"), F.col("tf")).otherwise(0)).alias("cr"),
    )


def dsir_log_ratios(hist: DataFrame, hex_chars: int = 2) -> DataFrame:
    """Per-bucket smoothed log ratio λ_b = round6(ln(p_t(b)/p_r(b))) from
    a count model — one ln of an exact-integer ratio, rounded once:
    ln( (ct+1)(R+B) / ((cr+1)(T+B)) ), add-one smoothing over the full
    bucket space B."""
    n_buckets = 16 ** hex_chars
    tot = hist.agg(F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.log(
            ((F.col("ct") + 1) * (F.col("r_tot") + F.lit(n_buckets)))
            .cast("double")
            / ((F.col("cr") + 1) * (F.col("t_tot") + F.lit(n_buckets)))
            .cast("double")
        )
        .cast(STABLE_DECIMAL)
        .alias("lam"),
    )


def dsir_score(
    docs: DataFrame,
    lam: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
) -> DataFrame:
    """Score documents against a log-ratio table (broadcast, ≤ bucket-
    space rows): weight = Σ tf_b · λ_b as exact tf×decimal sums. This is
    the serving path for a PERSISTED model — a new crawl increment is
    scored with one pass over the increment only."""
    feats = hashed_ngram_features(
        docs, id_col=id_col, text_col=text_col,
        hex_chars=hex_chars, bigrams=bigrams,
    )
    return (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * F.col("lam")).cast("double").alias("weight"),
        )
    )


def dsir_importance_weights(
    docs: DataFrame,
    is_target: F.Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
) -> DataFrame:
    """DSIR importance weight for every RAW (non-target) document.

    ``is_target`` marks the reference-corpus rows (defaults to a column
    named ``is_target``). Output: ``(<id_col>, n_feats long, weight
    double)`` where weight = Σ tf_b · round6(ln(p_t(b)/p_r(b))) with
    add-one smoothing over the full ``16^hex_chars`` bucket space.

    One-pass discipline: the class tag rides THROUGH the feature explode
    (no corpus-vs-corpus tag join), and the compact per-doc bucket-count
    table — ≤ bucket-space rows per document, far smaller than the text
    it summarizes — is staged so the histogram pass and the
    scoring pass both read it instead of re-scanning and re-exploding
    the corpus (the engine's materialize-the-compressed-form rule; cf.
    the kNN graph's signature table).
    """
    feats = stage(
        tagged_features(
            docs, is_target, id_col=id_col, text_col=text_col,
            hex_chars=hex_chars, bigrams=bigrams,
        ),
        eager=False,
    )
    lam = dsir_log_ratios(_hist_from_features(feats), hex_chars=hex_chars)
    return (
        feats.filter(~F.col("_tgt"))
        .join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * F.col("lam")).cast("double").alias("weight"),
        )
    )


def dsir_merge_models(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold one increment's histogram into another: per-bucket count
    sums. Exact — hist(A ∪ B) = merge(hist(A), hist(B)) — so weights
    scored from a merged model are bit-identical to a full recompute."""
    return (
        a.select("bucket", "ct", "cr")
        .unionAll(b.select("bucket", "ct", "cr"))
        .groupBy("bucket")
        .agg(F.sum("ct").alias("ct"), F.sum("cr").alias("cr"))
    )


def dsir_save_model(hist: DataFrame, path: str) -> None:
    """Persist the count model (coalesced — it is ≤ bucket-space rows)."""
    hist.select("bucket", "ct", "cr").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def dsir_load_model(spark, path: str) -> DataFrame:
    return spark.read.parquet(path).select("bucket", "ct", "cr")


# ---------------------------------------------------------------------------
# Corpus drift: single-class histograms + Jensen–Shannon divergence
# ---------------------------------------------------------------------------

def corpus_histogram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
    bigrams: bool = True,
) -> DataFrame:
    """Per-bucket total hashed-n-gram counts ``(bucket, c)`` for one
    corpus (epoch) — the drift monitor's mergeable partial: ≤
    ``16^hex_chars`` rows however large the epoch, and summing two
    epochs' histograms per bucket equals the histogram of their union."""
    feats = hashed_ngram_features(
        docs, id_col=id_col, text_col=text_col,
        hex_chars=hex_chars, bigrams=bigrams,
    )
    return feats.groupBy("bucket").agg(F.sum("tf").alias("c"))


def save_histogram(hist: DataFrame, path: str) -> None:
    """Persist a corpus histogram (coalesced — ≤ bucket-space rows)."""
    hist.select("bucket", "c").coalesce(1).write.mode("overwrite").parquet(path)


def load_histogram(spark, path: str) -> DataFrame:
    return spark.read.parquet(path).select("bucket", "c")


def jsd_of_histograms(
    ha: DataFrame, hb: DataFrame, n_buckets: int = 256
) -> DataFrame:
    """One-row ``(n_a, n_b, jsd)``: add-one-smoothed Jensen–Shannon
    divergence between two bucket histograms — the same formula (and the
    same decimal-accumulation discipline, so the total is combine-order
    independent) as the ``corpus_drift_report`` registry query, factored
    over two single-class histograms so batch jobs and the streaming
    drift monitor share one definition. Summation runs over the joint
    histogram's OBSERVED support (see the query's docstring for why
    unseen buckets are excluded). Everything after the histograms is
    constant work: a ≤-2·n_buckets-row outer join and one scalar
    aggregate."""
    a = ha.select("bucket", F.col("c").alias("ca"))
    b = hb.select("bucket", F.col("c").alias("cb"))
    hist = (
        a.join(b, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = hist.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    ca1, cb1 = F.col("ca") + 1, F.col("cb") + 1
    ta_b, tb_b = F.col("ta") + F.lit(n_buckets), F.col("tb") + F.lit(n_buckets)
    ca1d, cb1d = ca1.cast("double"), cb1.cast("double")
    ta_bd, tb_bd = ta_b.cast("double"), tb_b.cast("double")
    denom = ca1d * tb_bd + cb1d * ta_bd
    contrib = (
        (ca1d / ta_b) * F.log(F.lit(2.0) * ca1d * tb_bd / denom)
        + (cb1d / tb_b) * F.log(F.lit(2.0) * cb1d * ta_bd / denom)
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(F.col("ta"), F.col("tb"), contrib.alias("_contrib"))
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.col("_contrib").cast("decimal(28,12)"))
            .cast("double")
            .alias("jsd")
        )
        .select(F.col("ta").alias("n_a"), F.col("tb").alias("n_b"), "jsd")
    )


def negative_samples(
    df: DataFrame,
    id_col: str,
    label_col: str,
    k: int = 4,
    n_buckets: int = 8,
) -> DataFrame:
    """Contrastive negative sampling from hash-bucket candidate pools
    (the ``embedding_negative_samples`` registry shape, parameterized):
    every anchor draws ``k`` pseudorandom different-label negatives from
    the candidate bucket ``knuth32(3·id+1) mod n_buckets`` — an
    equi-join, never a cartesian. ``n_buckets`` is THE scale knob: the
    per-anchor pool is N/n_buckets and join output is O(N · pool), so
    grow it with the corpus to keep the pool (and wall) ~constant;
    a fixed bucket count at 10× the corpus does 100× the pair work
    (measured in the fresh-point probe — see SURVEY §6).

    Output: (anchor_id, anchor_label, neg_id, neg_label, rn) with
    rn ∈ 1..k ranked by the deterministic knuth32 pair hash, so the
    draw replays identically epoch to epoch and across engines.
    ``id_col`` must be a non-negative integer id."""
    from pyspark.sql import Window

    from .sketches import _knuth32

    vecs = df.select(id_col, label_col)
    cand = vecs.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        (_knuth32(F.col(id_col)) % F.lit(n_buckets)).alias("b"),
    )
    anch = vecs.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        (
            _knuth32(F.col(id_col) * F.lit(3) + F.lit(1)) % F.lit(n_buckets)
        ).alias("pb"),
    )
    pairs = (
        anch.join(cand, F.col("pb") == F.col("b"))
        .filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("neg_label") != F.col("anchor_label"))
        )
        .withColumn(
            "r",
            _knuth32(F.col("anchor_id") * F.lit(100003) + F.col("neg_id")),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("anchor_id").orderBy(F.asc("r"), F.asc("neg_id"))
    )
    return (
        pairs.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select("anchor_id", "anchor_label", "neg_id", "neg_label", "rn")
    )

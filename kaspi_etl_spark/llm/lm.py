"""Distributed n-gram language model + per-document perplexity scoring.

The CCNet/KenLM-style quality signal for pretraining corpora: train a
bigram model with add-one smoothing over the corpus, score every
document by its average per-token surprisal (bits/token — low = fluent
boilerplate-ish text, high = junk/garbled), filter or stratify on the
score. Reference anchor: corpus quality filtering alongside
llm/text.py's Gopher/C4 heuristics (SURVEY §2 LLM-pipeline family).

Why it oracle-checks bit-exactly — the usual blockers and their fixes:

* log is IEEE-libm and engines differ in the last ulp. Here every
  per-token log2 is FIXED-POINT: flog2(x) for integer x >= 1 is
  (bitlen(x) - 1) * 2^20 + LUT[mantissa-top-10-bits], where the
  1024-entry LUT of round(log2(1 + i/1024) * 2^20) is precomputed in
  Python and interpolated into BOTH engines as the same literal array —
  no runtime log anywhere (same discipline as the HLL linear-counting
  table in llm/sketch.py). Max quantization error ~2^-10 log2-units per
  token (~0.14%), far below any filtering threshold that matters.
* float SUM over a group is order-dependent. Per-token surprisals are
  scaled BIGINTs, so per-doc totals are exact integer sums; the single
  IEEE division per document happens once, on exact operands.
* probabilities stay RATIONAL: P(w2|w1) = (C12 + 1) / (C1 + V) with
  add-one smoothing; surprisal = flog2(den) - flog2(num), >= 0 by
  monotonicity of flog2.

Scale shape (100 TB): tokenize map-side; one window shuffle by doc for
the bigram lead(); per-(doc,bigram) tf groupBy, materialized once
(localCheckpoint) so the vocab-size branch reads tf rows instead of
re-tokenizing the corpus; model counts via partition windows over the
tf rows (the tfidf trick — no vocabulary self-join); the vocab size
joins back as a 1-row broadcast. No collects, no driver loops. For train-once/score-many, ``lm_train`` persists the
counts as plain DataFrames and ``lm_score_with_model`` left-joins them
(unseen bigrams fall back to the smoothed 1/(C1 + V) mass).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import memo
from ..litcache import array_lit
from .text import extract_words

FLOG2_IDX_BITS = 10
FLOG2_TABLE = 1 << FLOG2_IDX_BITS  # 1024 mantissa buckets
FLOG2_FRAC_BITS = 20
FLOG2_ONE = 1 << FLOG2_FRAC_BITS
FLOG2_LUT = [
    int(round(_math.log2(1.0 + i / FLOG2_TABLE) * FLOG2_ONE))
    for i in range(FLOG2_TABLE)
]


# The kernels are pure functions of the SOURCE COLUMN NAME, so the
# whole expression tree is memoized per name (memo.py). The old 3-withColumn chain paid
# ~0.1-0.25 s of driver latency PER CALL on deep plans (each withColumn
# is a full analyzer pass + py4j chatter at ~1 ms/round-trip on this
# host), times ~40 call sites. The named intermediate exponent column is
# gone; its repeated subtree is deduplicated at runtime by Spark's
# subexpression elimination (CPU measured flat on the flog2-heavy
# consumers, see OPTIMIZATION_r12.md).


def flog2_col(src: str) -> Column:
    """Fixed-point log2 of BIGINT column ``src`` (>= 1), scaled by 2^20
    (see module header), as one cached unresolved expression."""
    return memo.get(("flog2", src), lambda: _flog2_tree(src))


def _flog2_tree(src: str) -> Column:
    b = FLOG2_IDX_BITS
    e = f"(length(bin({src})) - 1)"
    idx = (
        f"CAST((CASE WHEN {e} >= {b} THEN shiftright({src}, CAST({e} - {b} AS INT)) "
        f"ELSE shiftleft({src}, CAST({b} - {e} AS INT)) END) - {FLOG2_TABLE} AS INT)"
    )
    # one array Literal (constant-folded), never F.array(*lits);
    # array_lit: F.lit(list) pays ~2.4 s of py4j per call (r11)
    return F.expr(f"CAST({e} AS BIGINT)") * FLOG2_ONE + F.try_element_at(
        array_lit(FLOG2_LUT, "bigint"), F.expr(idx) + F.lit(1)
    )


def with_flog2(df: DataFrame, src: str, out: str) -> DataFrame:
    """Append ``out`` = fixed-point log2 of BIGINT column ``src`` (>= 1),
    scaled by 2^20 (see module header). Exact integer arithmetic plus
    one shared-literal lookup; monotone non-decreasing in ``src``."""
    return df.withColumn(out, flog2_col(src))


def flog2_int(x: int) -> int:
    """Python mirror of ``with_flog2`` / ``sql_flog2`` for driver-side
    scalar weight computation (int x >= 1). All three forms share
    FLOG2_LUT, so a weight computed here equals the same weight computed
    in either engine bit-for-bit (property-tested)."""
    if x < 1:
        raise ValueError(f"flog2_int requires x >= 1, got {x}")
    e = x.bit_length() - 1
    b = FLOG2_IDX_BITS
    idx = (x >> (e - b)) if e >= b else (x << (b - e))
    return e * FLOG2_ONE + FLOG2_LUT[idx - FLOG2_TABLE]


def sql_flog2(expr: str) -> str:
    """DuckDB mirror of ``with_flog2`` over a SQL expression."""
    b = FLOG2_IDX_BITS
    e = f"(length(printf('%b', {expr})) - 1)"
    idx = (
        f"(CASE WHEN {e} >= {b} THEN ({expr} >> ({e} - {b})) "
        f"ELSE ({expr} << ({b} - {e})) END - {FLOG2_TABLE})"
    )
    lut = "[" + ",".join(str(v) for v in FLOG2_LUT) + "]"
    return (
        f"(CAST({e} AS BIGINT) * {FLOG2_ONE}"
        f" + list_extract({lut}, CAST({idx} AS INT) + 1))"
    )


def doc_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, w1, w2) consecutive-word pairs per document — MAP-SIDE, no
    shuffle: adjacent-pair arrays via two slices zipped positionally,
    then one explode.  extract_words tokens are regex letter-runs
    (never NULL, never empty), so pairing the array directly is
    value-identical to the r1-r10 lead()-window form, which paid an
    Exchange(id) + Sort + Window over the whole exploded token stream
    per call — the r11 optimization round removed that shuffle from
    every bigram consumer (perplexity, backoff, Moore-Lewis, distill,
    pruning, beam; guide §2.4 "remove shuffles outright").
    explode_outer + isNotNull per the InferFiltersFromGenerate
    discipline (session.py)."""
    n = F.size("_ws")
    pairs = docs.select(
        F.col(id_col), extract_words(F.col(text_col)).alias("_ws")
    ).select(
        F.col(id_col),
        F.slice("_ws", 1, F.greatest(n - 1, F.lit(0))).alias("_w1s"),
        F.slice("_ws", 2, F.greatest(n - 1, F.lit(0))).alias("_w2s"),
    )
    return (
        pairs.select(
            F.col(id_col),
            F.explode_outer(F.arrays_zip("_w1s", "_w2s")).alias("_p"),
        )
        # arrays_zip of equal-length slices: struct fields are non-NULL
        # except the empty-doc explode_outer row
        .filter(F.col("_p").isNotNull())
        .select(
            id_col,
            F.col("_p._w1s").alias("w1"),
            F.col("_p._w2s").alias("w2"),
        )
    )


def _bigram_tf(bigrams: DataFrame, id_col: str) -> DataFrame:
    return bigrams.groupBy(id_col, "w1", "w2").agg(
        F.count("*").cast("long").alias("tf")
    )


def _vocab_size(tf: DataFrame) -> DataFrame:
    """1-row vocabulary size over the bigram stream (distinct union of
    left and right word types — self-contained: no second corpus scan;
    the tf exchange is reused for this branch)."""
    return (
        tf.select(F.explode(F.array("w1", "w2")).alias("_w"))
        .agg(F.count_distinct("_w").cast("long").alias("v_size"))
    )


def lm_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Self-scoring form: train the bigram model on ``docs`` and score
    every document against it in one plan (the corpus-quality profiling
    mode). Output: (id, n_bigrams, surprisal_scaled, bits_per_token) for
    docs with at least one bigram; surprisal_scaled is the exact integer
    sum of per-token fixed-point surprisals (bits * 2^20 * tf).

    tf is localCheckpointed: the vocab-size branch would otherwise
    re-scan and RE-TOKENIZE the whole corpus (measured: two parquet
    scans, no exchange reuse even under AQE) — at 100 TB the tokenize
    pass is the expensive one, so materializing the much-smaller tf
    rows once is the right trade (the dedup_clusters precedent).

    r11 note: a type-level rewrite (compute the flog2 surprisal once per
    (w1, w2) on the aggregated type table and join the scalar back to
    tf) was A/B-measured SLOWER here (1.2 vs 0.75 CPU-s warm at sf0.1):
    the two windows share one (w1, w2)-ish exchange while the type form
    pays a groupBy + a tf-sized join probe. Kept the window form; the
    sibling rewrite in moore_lewis_select (four flog2 kernels + two
    model joins moved off the doc stream) measured a wash locally and
    shuffles strictly less at scale, so it stays."""
    tf = _bigram_tf(
        doc_bigrams(docs, id_col, text_col), id_col
    ).localCheckpoint()
    w12 = Window.partitionBy("w1", "w2")
    w1 = Window.partitionBy("w1")
    counted = tf.select(
        id_col,
        "w1",
        "w2",
        "tf",
        F.sum("tf").over(w12).cast("long").alias("c12"),
        F.sum("tf").over(w1).cast("long").alias("c1"),
    )
    scored = counted.crossJoin(F.broadcast(_vocab_size(tf)))
    return _finish_score(scored, id_col)


def _finish_score(scored: DataFrame, id_col: str) -> DataFrame:
    """From (id, tf, c12, c1, v_size) rows to the per-doc score."""
    # r12: two withColumns replace five withColumn analyzer passes (the
    # operands are independent; the flog2 outputs only read them).
    scored = scored.withColumns(
        {
            "_num": (F.col("c12") + 1).cast("long"),
            "_den": (F.col("c1") + F.col("v_size")).cast("long"),
        }
    )
    per = scored.withColumns(
        {
            "_lnum": flog2_col("_num"),
            "_lden": flog2_col("_den"),
        }
    ).withColumn("_s", F.col("tf") * (F.col("_lden") - F.col("_lnum")))
    out = per.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum("_s").cast("long").alias("surprisal_scaled"),
    )
    return out.select(
        id_col,
        "n_bigrams",
        "surprisal_scaled",
        (
            F.col("surprisal_scaled")
            / (F.col("n_bigrams") * F.lit(FLOG2_ONE))
        ).alias("bits_per_token"),
    )


def lm_train(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Model artifacts for train-once/score-many: (bigram counts
    (w1, w2, c12), left-context counts (w1, c1), 1-row vocab size).
    Plain DataFrames — persist as parquet like the k-means/PQ artifacts."""
    tf = _bigram_tf(doc_bigrams(docs, id_col, text_col), id_col)
    # r11 (guide §1.2): materialize the vocabulary-sized bigram TYPE
    # table once — c1, the vocab count AND every caller's join spine
    # derive from it, and without the checkpoint each consumer re-ran
    # the corpus tokenize + two groupBys. _vocab_size only reads w1/w2,
    # and c12 is tf's exact (w1, w2) rollup, so the distinct word union
    # is identical over either — the corpus is scanned ONCE.
    c12 = (
        tf.groupBy("w1", "w2")
        .agg(F.sum("tf").cast("long").alias("c12"))
        .localCheckpoint()
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    return c12, c1, _vocab_size(c12)


def lm_score_with_model(
    docs: DataFrame,
    c12: DataFrame,
    c1: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score (possibly held-out) documents against a trained model.
    Unseen bigrams get the smoothed 1/(C1 + V) mass; unseen left
    contexts degrade to 1/V (c1 = 0). Join shape: two shuffle equi-joins
    on word keys (broadcast them yourself if the model is small) plus
    the 1-row vocab broadcast."""
    tf = _bigram_tf(doc_bigrams(docs, id_col, text_col), id_col)
    joined = (
        tf.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            "tf",
            F.coalesce(F.col("c12"), F.lit(0)).cast("long").alias("c12"),
            F.coalesce(F.col("c1"), F.lit(0)).cast("long").alias("c1"),
            "v_size",
        )
    )
    return _finish_score(joined, id_col)


def save_model(c12: DataFrame, c1: DataFrame, vocab: DataFrame, path: str) -> None:
    """Persist the lm_train artifacts as three parquet tables under one
    root — exact integer counts, so a reloaded model scores
    bit-identically (the k-means artifact pattern)."""
    c12.write.mode("overwrite").parquet(f"{path}/bigrams")
    c1.write.mode("overwrite").parquet(f"{path}/contexts")
    vocab.coalesce(1).write.mode("overwrite").parquet(f"{path}/vocab")


def load_model(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Inverse of save_model; hand the frames to lm_score_with_model."""
    return (
        spark.read.parquet(f"{path}/bigrams"),
        spark.read.parquet(f"{path}/contexts"),
        spark.read.parquet(f"{path}/vocab"),
    )


# --- Stupid Backoff trigram scorer ------------------------------------------
#
# Brants et al. 2007 ("Large Language Models in Machine Translation"):
# at web scale, exact Kneser-Ney smoothing is replaced by the
# non-normalized backoff score
#
#   S(c | a, b) = f(abc) / f(ab)            if f(abc) > 0
#               = 0.4 * S(c | b)            otherwise
#   S(c | b)    = f(bc) / f(b)              if f(bc) > 0
#               = 0.4 * S(c)                otherwise
#   S(c)        = f(c) / N                  (unseen c: f := 1)
#
# Every branch is a RATIONAL num/den plus zero, one, or two constant
# 0.4 penalties — so with flog2 the per-token surprisal is an exact
# integer: flog2(den) - flog2(num) + level * SB_PEN. Scoring held-out
# documents is where backoff fires; self-scoring never leaves level 0.

SB_PEN = int(round(-_math.log2(0.4) * FLOG2_ONE))  # one backoff step


def doc_trigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, a, b, c) consecutive word triples — map-side slices, no
    doc-keyed window shuffle (same r11 rewrite as doc_bigrams)."""
    n = F.size("_ws")
    sl = docs.select(
        F.col(id_col), extract_words(F.col(text_col)).alias("_ws")
    ).select(
        F.col(id_col),
        F.slice("_ws", 1, F.greatest(n - 2, F.lit(0))).alias("_a"),
        F.slice("_ws", 2, F.greatest(n - 2, F.lit(0))).alias("_b"),
        F.slice("_ws", 3, F.greatest(n - 2, F.lit(0))).alias("_c"),
    )
    return (
        sl.select(
            F.col(id_col),
            F.explode_outer(F.arrays_zip("_a", "_b", "_c")).alias("_t"),
        )
        .filter(F.col("_t").isNotNull())
        .select(
            id_col,
            F.col("_t._a").alias("a"),
            F.col("_t._b").alias("b"),
            F.col("_t._c").alias("c"),
        )
    )


def sb_train(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Stupid-Backoff model artifacts: trigram counts (a, b, c, c3g),
    bigram counts (a, b, c2g), unigram counts (w, c1g), and the 1-row
    total token count. All plain groupBy counts — persist as parquet."""
    # map-side lead frame (same r11 rewrite as doc_bigrams): zip the
    # token array against its 1- and 2-shifted slices; arrays_zip pads
    # the shorter slices with NULL, which reproduces lead()'s
    # end-of-partition NULLs exactly — no doc-keyed window shuffle
    n = F.size("_ws")
    sl = docs.select(
        F.col(id_col), extract_words(F.col(text_col)).alias("_ws")
    ).select(
        F.col(id_col),
        F.col("_ws").alias("_a"),
        F.slice("_ws", 2, F.greatest(n - 1, F.lit(0))).alias("_b"),
        F.slice("_ws", 3, F.greatest(n - 2, F.lit(0))).alias("_c"),
    )
    lead = (
        sl.select(
            F.col(id_col),
            F.explode_outer(F.arrays_zip("_a", "_b", "_c")).alias("_t"),
        )
        .filter(F.col("_t").isNotNull())
        .select(
            id_col,
            F.col("_t._a").alias("a"),
            F.col("_t._b").alias("b"),
            F.col("_t._c").alias("c"),
        )
        .localCheckpoint()  # three count branches share one token pass
    )
    tri = (
        lead.filter(F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count("*").cast("long").alias("c3g"))
    )
    # r11: materializing bi/uni here was A/B-measured (sb_backoff wall
    # 1.47 -> 2.26 s, CPU flat) — the model-table re-aggregations over
    # the checkpointed lead are cheap map-side-combined passes, and the
    # eager materialization jobs serialize in front of the score join.
    # Negative result recorded per guide §1.1; the lazy forms stay.
    bi = (
        lead.filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("c2g"))
    )
    uni = lead.groupBy(F.col("a").alias("w")).agg(
        F.count("*").cast("long").alias("c1g")
    )
    total = uni.agg(F.sum("c1g").cast("long").alias("n_tokens"))
    return tri, bi, uni, total


def sb_score(
    docs: DataFrame,
    tri: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    total: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a trained Stupid-Backoff model:
    (id, n_trigrams, surprisal_scaled, bits_per_token, n_backoff1,
    n_backoff2). Five word-keyed shuffle equi-joins (broadcast the
    model yourself when it fits) + the 1-row total broadcast; the
    backoff columns count how often each fallback level fired."""
    tf = doc_trigrams(docs, id_col, text_col).groupBy(
        id_col, "a", "b", "c"
    ).agg(F.count("*").cast("long").alias("tf"))
    j = (
        tf.join(tri, ["a", "b", "c"], "left")
        .join(bi.select("a", "b", F.col("c2g").alias("ctx2")), ["a", "b"], "left")
        .join(
            bi.select(
                F.col("a").alias("b"), F.col("b").alias("c"),
                F.col("c2g").alias("c2g_bc"),
            ),
            ["b", "c"],
            "left",
        )
        .join(uni.select(F.col("w").alias("b"), F.col("c1g").alias("ctx1")), ["b"], "left")
        .join(uni.select(F.col("w").alias("c"), F.col("c1g").alias("c1g_c")), ["c"], "left")
        .crossJoin(F.broadcast(total))
    )
    lvl = (
        F.when(F.col("c3g").isNotNull(), F.lit(0))
        .when(F.col("c2g_bc").isNotNull(), F.lit(1))
        .otherwise(F.lit(2))
    )
    num = (
        F.when(lvl == 0, F.col("c3g"))
        .when(lvl == 1, F.col("c2g_bc"))
        .otherwise(F.coalesce(F.col("c1g_c"), F.lit(1)))
        .cast("long")
    )
    den = (
        F.when(lvl == 0, F.col("ctx2"))
        .when(lvl == 1, F.col("ctx1"))
        .otherwise(F.col("n_tokens"))
        .cast("long")
    )
    staged = j.select(
        id_col, "tf", lvl.alias("_lvl"), num.alias("_num"), den.alias("_den")
    )
    staged = with_flog2(staged, "_num", "_lnum")
    staged = with_flog2(staged, "_den", "_lden")
    per = staged.withColumn(
        "_s",
        F.col("tf")
        * (F.col("_lden") - F.col("_lnum") + F.col("_lvl") * F.lit(SB_PEN)),
    )
    out = per.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_trigrams"),
        F.sum("_s").cast("long").alias("surprisal_scaled"),
        F.sum(F.when(F.col("_lvl") == 1, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_backoff1"),
        F.sum(F.when(F.col("_lvl") == 2, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_backoff2"),
    )
    return out.select(
        id_col,
        "n_trigrams",
        "surprisal_scaled",
        (
            F.col("surprisal_scaled") / (F.col("n_trigrams") * F.lit(FLOG2_ONE))
        ).alias("bits_per_token"),
        "n_backoff1",
        "n_backoff2",
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token-distribution Shannon entropy, exact fixed-point.

    The information-theoretic repetition signal: a doc that repeats one
    phrase has near-zero entropy while natural prose sits near
    log2(types) — the continuous counterpart of Gopher's
    fraction-of-top-n-gram flags (llm/text.py), used the same way (drop
    or down-weight low-entropy docs before pretraining).

    H = sum_w (tf_w/N) * log2(N/tf_w) in bits/token. Per-term values are
    tf_w * (flog2(N) - flog2(tf_w)) — exact scaled BIGINTs via the shared
    flog2 LUT kernel, so per-doc sums are order-independent and the one
    IEEE division per doc runs on exact operands (same discipline as
    lm_score). Shape: tokenize map-side, one (doc, token) tf groupBy
    with map-side combine, a per-doc window (partitions bounded by doc
    vocabulary), one final per-doc agg — no joins, no driver reads.

    Returns (id, n_tokens, n_types, ent_scaled, bits_per_token); docs
    with zero extractable words produce no row (H undefined).
    """
    # r11: sum_w tf*(flog2(N) - flog2(tf)) == N*flog2(N) - sum_w
    # tf*flog2(tf) — an exact BIGINT identity (flog2(N) is one constant
    # per doc), so the per-doc unbounded window that attached n_tok to
    # every (doc, term) row is gone (guide §2.4): one groupBy computes
    # n_tok, sum(tf*flog2(tf)) and n_types together, and flog2(n_tok)
    # runs on ONE row per doc instead of once per term.
    w = docs.select(
        F.col(id_col), F.explode_outer(extract_words(F.col(text_col))).alias("_t")
    ).filter(F.col("_t").isNotNull())
    tf = w.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("tf"))
    tf = with_flog2(tf, "tf", "_lt")
    agg = tf.groupBy(id_col).agg(
        F.sum("tf").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("tf") * F.col("_lt")).alias("_stl"),
    )
    agg = with_flog2(agg, "n_tok", "_ln")
    ent = F.col("n_tok") * F.col("_ln") - F.col("_stl")
    return agg.select(
        F.col(id_col),
        F.col("n_tok").cast("long").alias("n_tokens"),
        "n_types",
        ent.cast("long").alias("ent_scaled"),
        (
            ent.cast("double") / (F.col("n_tok") * F.lit(FLOG2_ONE)).cast("double")
        ).alias("bits_per_token"),
    )


def zipf_rank_freq(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rank: int = 4096,
) -> DataFrame:
    """Rank-frequency table of the corpus vocabulary, capped at
    ``max_rank``: one tf groupBy, then row_number over (freq desc, token
    asc) with the rank filter compiling to WindowGroupLimit — the
    classic Zipf curve input. Columns: (rank, token, freq,
    l2r = flog2(rank), l2f = flog2(freq)) with the log2s in the shared
    2^20 fixed point."""
    tf = (
        docs.select(F.explode_outer(extract_words(F.col(text_col))).alias("_t"))
        .filter(F.col("_t").isNotNull())
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("_t").asc())
    ranked = (
        tf.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= max_rank)
        .select(F.col("rank"), F.col("_t").alias("token"), F.col("freq").cast("long").alias("freq"))
    )
    ranked = with_flog2(ranked, "rank", "l2r")
    return with_flog2(ranked, "freq", "l2f")


def zipf_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rank: int = 4096,
    top_out: int = 50,
) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope of log2(freq) on
    log2(rank) over the top ``max_rank`` vocabulary (natural prose sits
    near slope -1; templated/boilerplate corpora flatten, spam steepens
    — a corpus-level quality fingerprint next to Heaps-style vocab
    stats).

    Exactness: the regression moments are BIGINT sums of 10-bit-scaled
    flog2 values (x = flog2(rank) div 1024 — products stay inside
    BIGINT for any realistic vocab); slope = (n Sxy - Sx Sy) /
    (n Sxx - Sx^2) and the intercept are computed DRIVER-side in exact
    Python ints with one IEEE division each (oracle mirror: HUGEINT
    CTEs cast to DOUBLE), then ride as plan literals into the output —
    the FS-weights pattern. Output: the top ``top_out`` ranks with
    observed and fitted log2 frequency plus the global slope."""
    ranked = zipf_rank_freq(docs, id_col, text_col, max_rank).select(
        "rank",
        "token",
        "freq",
        "l2r",
        "l2f",
        F.expr("l2r div 1024").alias("_x"),
        F.expr("l2f div 1024").alias("_y"),
    )
    mom = ranked.select(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").cast("long").alias("sx"),
        F.sum("_y").cast("long").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("sxx"),
    ).collect()[0]
    n, sx, sy = int(mom["n"]), int(mom["sx"] or 0), int(mom["sy"] or 0)
    sxy, sxx = int(mom["sxy"] or 0), int(mom["sxx"] or 0)
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = float(num) / float(den) if den != 0 else 0.0
    # intercept in BITS: (Sy*den - num*Sx) exact, then two IEEE steps
    icept = (
        float(sy * den - num * sx) / float(n * den) / 1024.0 if n and den else 0.0
    )
    return ranked.filter(F.col("rank") <= top_out).select(
        "rank",
        "token",
        "freq",
        F.col("l2r").alias("log2_rank_scaled"),
        F.col("l2f").alias("log2_freq_scaled"),
        F.lit(slope).alias("slope"),
        (
            F.lit(icept)
            + F.lit(slope) * (F.col("l2r").cast("double") / F.lit(float(FLOG2_ONE)))
        ).alias("fitted_log2_freq"),
    )


def greedy_generate(
    docs: DataFrame,
    steps: int = 8,
    n_seeds: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy (argmax) text generation from the corpus bigram model —
    the inference counterpart of the LM training family: from each of
    the ``n_seeds`` most frequent tokens, follow the most likely next
    word ``steps`` times. Deterministic decoding is the standard LM
    smoke test (the engine that trains the model should be able to run
    its argmax decode), and greedy chains expose degenerate corpora
    (loops, boilerplate attractors) at a glance.

    Everything is exact: the next-word map is rank-1 per w1 over
    (count DESC, w2 ASC) — a WindowGroupLimit partial top-k, no full
    sort; seeds are a bounded TakeOrderedAndProject; each decode step
    is one equi-join of at most n_seeds rows against the next-map
    (chains that hit a dead-end w1 simply stop). steps is a small
    constant, so the plan is steps shallow joins — no recursion, no
    driver loop over data.

    Returns (seed, step, word) with step 0 = the seed itself.
    """
    big = doc_bigrams(docs, id_col, text_col)
    cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2").asc())
    nxt = (
        cnt.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("w1", "w2")
    )
    tf = (
        docs.select(F.explode_outer(extract_words(F.col(text_col))).alias("_t"))
        .filter(F.col("_t").isNotNull())
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    seeds = (
        tf.orderBy(F.col("f").desc(), F.col("_t").asc())
        .limit(n_seeds)
        .select(F.col("_t").alias("seed"))
    )
    out = seeds.select(
        "seed", F.lit(0).cast("long").alias("step"), F.col("seed").alias("word")
    )
    cur = out
    for t in range(1, steps + 1):
        cur = (
            cur.join(nxt, cur["word"] == nxt["w1"])
            .select("seed", F.lit(t).cast("long").alias("step"), F.col("w2").alias("word"))
        )
        out = out.unionByName(cur)
    return out


def heaps_curve(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-type count after the
    first N corpus tokens, for N on a power-of-two ladder — the other
    half of the corpus fingerprint next to zipf_fit (natural text grows
    vocab ~ N^0.5-0.8; templated corpora plateau, OCR noise keeps
    climbing linearly).

    Exact and scale-parallel over the corpus: the doc order is the
    deterministic hash order (md5(doc_id) — for a growth curve, a
    pseudo-random corpus order is the statistically right one: an
    ingest order would confound vocabulary growth with source drift),
    so per-doc offsets come from the distributed two-phase prefix sum
    (ranks.hash_order_prefix — never a global-order window, which would
    funnel every doc id through one task). Each type reduces to its
    FIRST global position (one groupBy min), and the curve is a
    cumulative count over ceil-log2 buckets of those first positions —
    at most ~40 ladder rows regardless of corpus size.

    Returns (k, prefix_tokens = min(2^k, total), vocab_size) for every
    k with 2^(k-1) < total.
    """
    from ..ranks import hash_order_prefix

    words = docs.select(
        F.col(id_col), extract_words(F.col(text_col)).alias("_ws")
    ).select(F.col(id_col), F.col("_ws"), F.size("_ws").alias("_n"))
    # r11 (guide §1.2): (id, token_count) feeds the prefix-sum machinery
    # (which consumes it more than once internally) — materialize the
    # tiny per-doc table so the corpus tokenize behind it runs ONCE, not
    # once per consumer subtree.
    per_doc = words.select(id_col, "_n").filter(F.col("_n") > 0).localCheckpoint()
    offsets = hash_order_prefix(per_doc, "_n", id_col, salt="heaps").select(
        F.col(id_col),
        (F.col("cum") - F.col("_n")).cast("long").alias("_off"),
    )
    toks = (
        words.join(offsets, id_col)
        .select(F.col("_off"), F.posexplode_outer("_ws").alias("_pos", "_t"))
        .filter(F.col("_t").isNotNull())
        .select((F.col("_off") + F.col("_pos") + 1).alias("gpos"), F.col("_t"))
    )
    firsts = toks.groupBy("_t").agg(F.min("gpos").alias("fp"))
    # ceil-log2 bucket: smallest k with 2^k >= fp  (fp = 1 -> k = 0)
    bucket = F.when(F.col("fp") == 1, F.lit(0)).otherwise(
        F.length(F.bin(F.col("fp") - 1)).cast("long")
    )
    bcounts = firsts.select(bucket.alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("c")
    )
    # r11: |toks| == sum of per-doc token counts over NON-NULL doc ids
    # by construction — the posexplode emits exactly _n rows per doc,
    # extract_words tokens are never NULL (the isNotNull filter drops
    # nothing), and the words-x-offsets equi-join silently drops NULL
    # ids (mirrored by the oracle's USING join), so the filter here
    # keeps the identity exact on NULL-id rows too. Reading the total
    # from the materialized per-doc table replaces a SECOND full pass
    # over the exploded token stream (guide §1.2). doc_id uniqueness is
    # the operator's existing contract (an id collision already fans
    # out the offsets join in both engines).
    # r12 (ADVICE): coalesce — sum over an empty/all-empty-doc corpus is
    # NULL, and least(pow(2,k), NULL) skips the NULL, so the k=0 row
    # would read prefix_tokens=1 where the old count-based form (and the
    # oracle) reads 0. Note the sum-of-counts identity also assumes doc
    # ids are unique (the operator's documented contract): an id
    # collision fanned the OLD count form identically in both engines,
    # while the sum form does not fan — parity on colliding ids rests on
    # the uniqueness contract, not on matching behavior.
    total = per_doc.filter(F.col(id_col).isNotNull()).agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("t")
    )
    ladder = (
        docs.sparkSession.range(0, 41)
        .select(F.col("id").cast("long").alias("k"))
        .crossJoin(F.broadcast(total))
        .filter(
            (F.col("k") == 0)
            | (F.expr("cast(pow(2, k - 1) as bigint)") < F.col("t"))
        )
    )
    w_k = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined = ladder.join(bcounts, "k", "left").select(
        "k",
        "t",
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    return joined.select(
        F.col("k"),
        F.least(F.expr("cast(pow(2, k) as bigint)"), F.col("t")).alias(
            "prefix_tokens"
        ),
        F.sum("c").over(w_k).cast("long").alias("vocab_size"),
    )


def categorical_mi(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information between two categorical columns in exact
    fixed-point BITS — the dataset-audit statistic for "does this
    metadata field leak that one" (e.g. language vs source: high MI
    means per-source language filters are redundant; near-zero means
    both filters are needed).

    I(X;Y) = sum_xy p(xy) log2(n*c_xy / (c_x*c_y)): per-cell terms are
    c_xy * (flog2(n*c_xy) - flog2(c_x*c_y)) — exact BIGINTs via the
    shared LUT kernel (bound: n*c_xy < 2^63, i.e. n < ~3e9 rows; past
    that, pre-aggregate per shard and scale the counts down together).
    One groupBy over the data; margins are windows over the CELL table
    (bounded by the category-product). NULL categories are excluded
    (no information in an unobserved label).

    Returns one row per observed (x, y) cell plus the shared totals:
    (x, y, n_xy, n_x, n_y, mi_term_scaled, mi_total_scaled, mi_bits).
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    staged = cells.select(
        "_x",
        "_y",
        "c",
        F.sum("c").over(Window.partitionBy("_x")).cast("long").alias("cx"),
        F.sum("c").over(Window.partitionBy("_y")).cast("long").alias("cy"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    ).select(
        "_x",
        "_y",
        "c",
        "cx",
        "cy",
        "n",
        (F.col("n") * F.col("c")).alias("_num"),
        (F.col("cx") * F.col("cy")).alias("_den"),
    )
    staged = with_flog2(staged, "_num", "_ln")
    staged = with_flog2(staged, "_den", "_ld")
    per = staged.withColumn("_t", F.col("c") * (F.col("_ln") - F.col("_ld")))
    return per.select(
        F.col("_x").alias(x_col),
        F.col("_y").alias(y_col),
        F.col("c").alias("n_xy"),
        F.col("cx").alias("n_x"),
        F.col("cy").alias("n_y"),
        F.col("_t").cast("long").alias("mi_term_scaled"),
        F.sum("_t").over(w_all).cast("long").alias("mi_total_scaled"),
        (
            F.sum("_t").over(w_all).cast("double")
            / (F.col("n") * F.lit(FLOG2_ONE)).cast("double")
        ).alias("mi_bits"),
    )


def kn_bigram_model(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    d_num: int = 3,
    d_den: int = 4,
    scale_bits: int = 30,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    Goodman 1999) in EXACT rational arithmetic — the principled
    smoothing next to Stupid Backoff's heuristic: probability mass
    discounted from seen bigrams is redistributed by CONTINUATION
    counts (how many distinct left-contexts a word follows), which is
    what makes KN the reference n-gram smoother ("francisco" is
    frequent but only ever follows "san" — its unigram backoff weight
    should be tiny, and continuation counting is what gets that right).

    With discount D = d_num/d_den, all denominators cleared:

      P_KN(w2|w1) = [ max(d_den*c12 - d_num, 0) * N1+(..)
                      + d_num * N1+(w1,.) * N1+(.,w2) ]
                    / [ d_den * c1 * N1+(..) ]

    emitted as ``p_kn_scaled`` = floor(num * 2^scale_bits / den) — one
    integer floor division on exact integers, mirrorable by any SQL
    engine. The numerator runs through DECIMAL(38,0) (Spark's
    IntegralDivide accepts decimals): c12 * N1+(..) * 2^30 wraps BIGINT
    on a corpus with ~1e10 bigram types; decimal keeps it exact to
    ~10^38.

    Plan: one bigram count (map-side combined), two derived rollups
    (left totals + forward fan-out on w1; continuation counts on w2),
    one scalar broadcast (total bigram types), two word-keyed
    equi-joins back. No windows, no collects.

    Returns (w1, w2, c12, p_kn_scaled), one row per SEEN bigram type;
    the unseen-bigram probability for a known w2 is the second term
    alone — derivable from the same rollups, not materialized (it is
    |V|^2-shaped by definition).
    """
    big = doc_bigrams(docs, id_col, text_col)
    # r11 (guide §1.2): four consumers (left, cont, total, join spine)
    # — materialize the vocabulary-sized type table once instead of
    # re-running the corpus tokenize + groupBy per consumer.
    c12 = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint()
    )
    left = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p_fwd"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1p_bwd"))
    total = c12.agg(F.count(F.lit(1)).cast("long").alias("n1p_all"))
    j = (
        c12.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(total))
    )
    num = (
        f"(CAST(greatest({d_den} * c12 - {d_num}, 0) AS DECIMAL(38,0))"
        f" * CAST(n1p_all AS DECIMAL(38,0))"
        f" + CAST({d_num} AS DECIMAL(38,0)) * CAST(n1p_fwd AS DECIMAL(38,0))"
        f" * CAST(n1p_bwd AS DECIMAL(38,0)))"
        f" * CAST({1 << scale_bits} AS DECIMAL(38,0))"
    )
    den = (
        f"(CAST({d_den} AS DECIMAL(38,0)) * CAST(c1 AS DECIMAL(38,0))"
        f" * CAST(n1p_all AS DECIMAL(38,0)))"
    )
    return j.select(
        "w1",
        "w2",
        "c12",
        F.expr(f"({num}) div ({den})").cast("long").alias("p_kn_scaled"),
    )


def kn_score_heldout(
    train_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    d_num: int = 3,
    d_den: int = 4,
) -> DataFrame:
    """Held-out document scoring under the interpolated Kneser-Ney
    bigram model (kn_bigram_model's formula, trained on ``train_docs``,
    scored on ``score_docs``) — the fluency/quality signal in bits per
    token, with KN's principled unseen handling instead of add-one or
    Stupid Backoff's heuristic:

      w1 seen:            P = [max(d_den*c12-d_num,0)*A + d_num*fwd(w1)*bwd(w2)]
                              / (d_den*c1(w1)*A)
      w1 unseen:          P = bwd(w2) / A           (pure continuation)
      w2 never continues: numerator floors at 1     (the fixed-point
                          quantization floor — an OOV convention both
                          engines share, like sb_backoff's)

    where A = number of distinct train bigram types. Surprisal per
    bigram = flog2(den) - flog2(num) on exact BIGINTs (num bound:
    d_den*c12*A < 2^62 — one corpus shard; shard-and-average past it),
    summed exactly per doc; ONE IEEE division for bits/token at the
    end. Plan: train rollups are word-keyed aggs; scoring is three
    word-keyed left joins + one scalar broadcast; no windows beyond
    doc_bigrams' per-doc lead.

    Returns (id, n_bigrams, surprisal_scaled, bits_per_token).
    """
    # r11 (guide §1.2): same four-consumer materialization as
    # kn_bigram_model above — the train-side tokenize runs once.
    c12 = (
        doc_bigrams(train_docs, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint()
    )
    left = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("fwd"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("bwd"))
    total = c12.agg(F.count(F.lit(1)).cast("long").alias("a_types"))
    sb = doc_bigrams(score_docs, id_col, text_col)
    j = (
        sb.join(c12, ["w1", "w2"], "left")
        .join(left, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.coalesce("c12", F.lit(0)).alias("_c12"),
            F.coalesce("c1", F.lit(0)).alias("_c1"),
            F.coalesce("fwd", F.lit(0)).alias("_fwd"),
            F.coalesce("bwd", F.lit(0)).alias("_bwd"),
            F.col("a_types").alias("_a"),
        )
    )
    seen_w1 = F.col("_c1") > 0
    num_seen = (
        F.greatest(F.lit(d_den) * F.col("_c12") - F.lit(d_num), F.lit(0))
        * F.col("_a")
        + F.lit(d_num) * F.col("_fwd") * F.col("_bwd")
    )
    j = j.withColumn(
        "_num",
        F.greatest(
            F.when(seen_w1, num_seen).otherwise(F.col("_bwd")), F.lit(1)
        ).cast("long"),
    ).withColumn(
        "_den",
        F.when(seen_w1, F.lit(d_den) * F.col("_c1") * F.col("_a"))
        .otherwise(F.col("_a"))
        .cast("long"),
    )
    j = with_flog2(j, "_num", "_lnum")
    j = with_flog2(j, "_den", "_lden")
    out = (
        j.withColumn("_s", F.col("_lden") - F.col("_lnum"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("_s").cast("long").alias("surprisal_scaled"),
        )
    )
    return out.select(
        id_col,
        "n_bigrams",
        "surprisal_scaled",
        (
            F.col("surprisal_scaled").cast("double")
            / (F.col("n_bigrams") * FLOG2_ONE).cast("double")
        ).alias("bits_per_token"),
    )


# --- fixed-point exp2 (inverse of flog2) -------------------------------------
#
# fexp2(s) ~= 2^(s / 2^20) * 2^20 for scaled s >= 0 — same LUT discipline
# as flog2: e = s div 2^20 picks the octave, the fraction's top 10 bits
# pick a 1024-entry mantissa bucket of round(2^(i/1024) * 2^20), and the
# result is mantissa << e (exact integer shift; no runtime exp anywhere).
# Monotone in s (the LUT is increasing and octave boundaries step from
# LUT[1023] ~= 2^21 * 2^(-1/1024) up to 2^20 << 1). Quantization error
# <= 2^-10 octaves (~0.07%). Domain contract: 0 <= s < 41 * 2^20 — the
# mantissa (< 2^21) shifted by e must stay inside a signed BIGINT;
# callers clamp (an exponentiated-gradient step caps its ratio anyway).

FEXP2_LUT = [
    int(round((2.0 ** (i / FLOG2_TABLE)) * FLOG2_ONE)) for i in range(FLOG2_TABLE)
]
FEXP2_MAX_E = 41


def fexp2_int(s: int) -> int:
    """Python mirror of ``with_fexp2`` / ``sql_fexp2`` (int s >= 0)."""
    if s < 0 or s >= FEXP2_MAX_E * FLOG2_ONE:
        raise ValueError(
            f"fexp2_int requires 0 <= s < {FEXP2_MAX_E} * 2^20, got {s}"
        )
    e = s >> FLOG2_FRAC_BITS
    idx = (s % FLOG2_ONE) >> (FLOG2_FRAC_BITS - FLOG2_IDX_BITS)
    return FEXP2_LUT[idx] << e


def fexp2_col(src: str) -> Column:
    """fexp2 of BIGINT column ``src`` as one cached unresolved expression
    (domain-checked: a silent wrap would corrupt every downstream
    weight). r12: the domain-checked value rides inline (the old form
    REPLACED ``src`` with the checked copy — same values, since the
    assert either passes or kills the query)."""
    return memo.get(("fexp2", src), lambda: _fexp2_tree(src))


def _fexp2_tree(src: str) -> Column:
    checked = F.when(
        F.assert_true(
            F.col(src).between(0, FEXP2_MAX_E * FLOG2_ONE - 1),
            f"with_fexp2: {src} must be in [0, {FEXP2_MAX_E} * 2^20)",
        ).isNull(),
        F.col(src),
    )
    idx = F.shiftright(checked % FLOG2_ONE, FLOG2_FRAC_BITS - FLOG2_IDX_BITS)
    # call_function: F.shiftleft only takes an int shift amount, but
    # the exponent here is a per-row column
    return F.call_function(
        "shiftleft",
        F.try_element_at(array_lit(FEXP2_LUT, "bigint"), idx.cast("int") + F.lit(1)),
        F.shiftright(checked, FLOG2_FRAC_BITS).cast("int"),
    ).cast("long")


def with_fexp2(df: DataFrame, src: str, out: str) -> DataFrame:
    """Append ``out`` = fexp2 of BIGINT column ``src`` (domain-checked:
    a silent wrap would corrupt every downstream weight)."""
    return df.withColumn(out, fexp2_col(src))


def sql_fexp2(expr: str) -> str:
    """DuckDB mirror of ``with_fexp2`` over a SQL expression (caller
    guarantees the domain)."""
    lut = "[" + ",".join(str(v) for v in FEXP2_LUT) + "]"
    # the list values parse as INTEGER and DuckDB's << is width-typed —
    # an un-cast mantissa overflows at e >= 11; shift a BIGINT
    return (
        f"(CAST(list_extract({lut}, CAST((({expr}) % {FLOG2_ONE})"
        f" >> {FLOG2_FRAC_BITS - FLOG2_IDX_BITS} AS INT) + 1) AS BIGINT)"
        f" << CAST(({expr}) // {FLOG2_ONE} AS INT))"
    )


def beam_decode(
    docs: DataFrame,
    steps: int = 6,
    beam: int = 2,
    n_seeds: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Beam-search decoding from the corpus bigram model — the width-B
    sibling of greedy_generate (greedy = beam 1): from each seed, keep
    the ``beam`` highest-scoring paths, scoring each hop by the exact
    fixed-point conditional surprisal flog2(c12) - flog2(c1) (additive
    BIGINTs — no float anywhere, so path scores are engine-exact).

    Pruning: a beam item's best B continuations come from its last
    word's top-B next words (per-hop scores depend on nothing else), so
    expansion joins the per-context top-B table (a WindowGroupLimit,
    never the full bigram table per step). The per-context top-B is
    picked by (raw count DESC, next-word ASC); distinct counts can
    collapse to EQUAL flog2 deltas, so at flog2-level ties that
    pre-selection is part of the defined semantics rather than a pure
    score order (a path-ASC tie-break could in principle prefer a
    continuation the count-order already discarded — both engines apply
    the identical rule, so the oracle contract holds exactly). Final
    beam ties break on the full path string ASC — a total,
    engine-neutral order. Paths
    are NOT recombined on equal last words: the kept object is the path
    itself (recombination would be Viterbi, a different operator). A
    path whose last word has no continuation dies (inner join); a seed
    whose beams all die drops out.

    Each step is one equi-join of <= n_seeds*beam rows against the
    top-B next-map + one rank-within-seed — ``steps`` shallow joins, no
    recursion, no driver loop. The next-map and seeds are
    localCheckpointed: every step references them, and the compounding
    logical-plan duplication is the unigram-DP lesson (NOTES r8).

    Returns (seed, rank, path, score_scaled) for the final beams.
    """
    big = doc_bigrams(docs, id_col, text_col)
    cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = cnt.groupBy("w1").agg(F.sum("c").alias("c1"))
    w = Window.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2").asc())
    nxt = (
        cnt.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= beam)
        .join(c1, "w1")
    )
    nxt = with_flog2(nxt, "c", "_l12")
    nxt = with_flog2(nxt, "c1", "_l1")
    nxt = nxt.select(
        "w1", "w2", (F.col("_l12") - F.col("_l1")).cast("long").alias("_delta")
    ).localCheckpoint(eager=False)
    tf = (
        docs.select(F.explode_outer(extract_words(F.col(text_col))).alias("_t"))
        .filter(F.col("_t").isNotNull())
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    seeds = (
        tf.orderBy(F.col("f").desc(), F.col("_t").asc())
        .limit(n_seeds)
        .select(F.col("_t").alias("seed"))
        .localCheckpoint(eager=False)
    )
    beams = seeds.select(
        "seed",
        F.col("seed").alias("path"),
        F.col("seed").alias("word"),
        F.lit(0).cast("long").alias("score"),
    )
    for _ in range(steps):
        expanded = beams.join(nxt, beams["word"] == nxt["w1"]).select(
            "seed",
            F.concat_ws(" ", "path", "w2").alias("path"),
            F.col("w2").alias("word"),
            (F.col("score") + F.col("_delta")).cast("long").alias("score"),
        )
        wnd = Window.partitionBy("seed").orderBy(
            F.col("score").desc(), F.col("path").asc()
        )
        beams = (
            expanded.withColumn("_rk", F.row_number().over(wnd))
            .filter(F.col("_rk") <= beam)
            .drop("_rk")
        )
    final_w = Window.partitionBy("seed").orderBy(
        F.col("score").desc(), F.col("path").asc()
    )
    return beams.select(
        "seed",
        F.row_number().over(final_w).cast("long").alias("rank"),
        "path",
        F.col("score").alias("score_scaled"),
    )


# --- Speculative-decoding acceptance estimator --------------------------------


def speculative_acceptance(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_contexts: int = 50,
) -> DataFrame:
    """Expected token-acceptance rate of speculative decoding (Leviathan
    et al. 2023, "Fast Inference from Transformers via Speculative
    Decoding"): with a DRAFT model q proposing tokens that a TARGET
    model p verifies, the per-step acceptance probability under the
    paper's rejection rule is ``sum_w min(p(w), q(w))``.  Here the draft
    is the corpus UNIGRAM model (q(w) = c_w / T) and the target the
    bigram MLE (p(w | ctx) = c12 / c1), so the acceptance rate per
    context is a planning signal for how much a cheap draft model buys
    on THIS corpus before anyone trains the real pair.

    Exact integer arithmetic end to end: for each context,
    ``sum_w min(c12 * T, c_w * c1)`` over the seen continuations (the
    MLE target gives unseen words probability 0, so min = 0 — the
    restriction is exact, not an approximation), then
    ``acceptance_ppm = floor(1e6 * S / (c1 * T))`` through DECIMAL(38)
    products (oracle mirror: HUGEINT — the `//`-on-DECIMAL trap).
    Contract: ``c12 * T < 10^38`` (a 10^19-token corpus with a 10^19
    bigram count would overflow; far past any real corpus).

    Scale shape: one token groupBy (draft counts), the shared bigram
    groupBys (lm_train), one equi-join of bigram types against the
    word-count table, one per-context groupBy, and a driver-bounded
    ``ORDER BY c1 DESC LIMIT top_contexts`` (TakeOrderedAndProject —
    the top-k never sorts the full context table).  Returns
    (w1, c1, n_next, accept_ppm) for the ``top_contexts`` heaviest
    contexts (ties on w1 ASC — total order).
    """
    from .text import extract_words

    toks = (
        docs.select(extract_words(F.col(text_col)).alias("_ws"))
        .select(F.explode("_ws").alias("w"))
        .filter(F.col("w").isNotNull() & (F.col("w") != ""))
    )
    # r11 (guide §1.2): the draft-model word counts feed the total AND
    # the continuation join — materialize the vocabulary-sized table so
    # the corpus tokenize behind it runs once.
    # r12 (guide §2.6): the draft (unigram) and target (bigram) model
    # tables are independent passes over the same corpus — overlap
    # their eager materializations on two driver threads.
    from ..concurrency import build_concurrently

    (cw,), (c12, c1, _) = build_concurrently(
        lambda: (
            toks.groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("cw"))
            .localCheckpoint(),
        ),
        lambda: lm_train(docs, id_col, text_col),
    )
    t_row = cw.agg(F.sum("cw").cast("long").alias("t_total"))
    j = (
        c12.join(c1, "w1")
        .join(cw.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(t_row))
    )
    per = (
        j.withColumn(
            "_m",
            F.least(
                F.col("c12").cast("decimal(19,0)")
                * F.col("t_total").cast("decimal(19,0)"),
                F.col("cw").cast("decimal(19,0)")
                * F.col("c1").cast("decimal(19,0)"),
            ),
        )
        .groupBy("w1", "c1", "t_total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_next"),
            F.sum("_m").alias("_s"),
        )
    )
    out = per.select(
        "w1",
        "c1",
        "n_next",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * _s)"
            " div (CAST(c1 AS DECIMAL(38,0)) * CAST(t_total AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("accept_ppm"),
    )
    return out.orderBy(F.col("c1").desc(), F.col("w1").asc()).limit(top_contexts)


# --- Moore-Lewis cross-entropy-difference selection ----------------------------


def moore_lewis_select(
    docs: DataFrame,
    in_domain,
    k: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intelligent data selection by cross-entropy difference (Moore &
    Lewis 2010, "Intelligent Selection of Language Model Training
    Data"): score every document by ``H_background(doc) -
    H_in_domain(doc)`` and keep the top ``k`` — documents an in-domain
    LM explains much better than the general-corpus LM are the ones
    worth keeping for a domain corpus.  The classic, still-standard
    selection baseline (CCNet and DSIR both descend from it; DSIR
    replaces the LMs with hashed-ngram importance weights — this is the
    LM-based original).

    Both models are the engine's add-one-smoothed bigram LM.  The
    background model is self-trained on the scored corpus (the
    lm_score shape: partition-window counts over ONE shared tf table —
    the corpus is tokenized exactly once); the in-domain model is
    lm_train over the ``in_domain``-filtered slice, LEFT-joined so
    unseen bigrams fall back to the smoothed 1/(C1+V) mass, with
    ``den = greatest(C1+V, 1)`` so an EMPTY in-domain slice degrades to
    zero surprisal instead of log(0) (mirrored in the oracle).

    Per-token gains are exact scaled BIGINTs (shared flog2 kernel), so
    per-doc ``gain_scaled`` is an exact integer sum; ``bits_gain`` is
    one IEEE division of exact operands (engine-identical).  Top-k by
    (bits_gain DESC, id ASC) compiles to TakeOrderedAndProject — no
    full sort.  Returns (id, n_bigrams, gain_scaled, bits_gain).
    """
    # NOTE (r11, measured): deriving the in-domain model from the big
    # checkpointed tf (flag riding the explode, c12i/vi aggregated from
    # tf.filter) was A/B-measured at +0.75 executor-CPU-s vs re-running
    # lm_train on the (pushdown-filtered, small) in-domain slice — the
    # tf-wide aggregations cost more than the slice re-tokenize while
    # the slice is a small corpus fraction, so the two-pass form stays.
    # r11 shape: the per-token gain depends only on the bigram TYPE, so
    # the in-domain joins and all four flog2 kernels run once per
    # (w1, w2) on the aggregated type table and the scalar gain joins
    # back to the per-doc tf rows — instead of two whole-stream
    # partition windows plus model joins and flog2 over every
    # (doc, type) row. Exact integers, so per-doc sums are unchanged.
    # r12 (guide §2.6): the background chain (tf -> types) and the
    # in-domain lm_train read the SAME source independently — overlap
    # their eager materializations on two driver threads so the
    # in-domain slice's jobs back-fill the background chain's tail
    # (sequential before: two full chains of driver-job latency).
    from ..concurrency import build_concurrently

    def _background():
        tf = _bigram_tf(
            doc_bigrams(docs, id_col, text_col), id_col
        ).localCheckpoint()
        # r11: three consumers (c1b, the join spine, the vocab count) —
        # materialize the type rollup so each is a read of the
        # vocabulary-sized table, not a re-aggregation of the
        # checkpointed tf stream.
        types = (
            tf.groupBy("w1", "w2")
            .agg(F.sum("tf").cast("long").alias("_c12b"))
            .localCheckpoint()
        )
        return tf, types

    (tf, types), (c12i, c1i, vi) = build_concurrently(
        _background, lambda: lm_train(docs.filter(in_domain), id_col, text_col)
    )
    c1b = types.groupBy("w1").agg(F.sum("_c12b").cast("long").alias("_c1b"))
    j = (
        types.join(c1b, "w1")
        .join(
            c12i.select("w1", "w2", F.col("c12").alias("_c12i")),
            ["w1", "w2"],
            "left",
        )
        .join(c1i.select("w1", F.col("c1").alias("_c1i")), ["w1"], "left")
        .crossJoin(
            F.broadcast(_vocab_size(types).select(F.col("v_size").alias("_vb")))
        )
        .crossJoin(F.broadcast(vi.select(F.col("v_size").alias("_vi"))))
    )
    # r12 (guide §1.2 driver-side): the four operand columns are
    # mutually independent, and so are the four flog2 outputs — two
    # withColumns calls replace eight withColumn analyzer passes.
    j = j.withColumns(
        {
            "_num_b": (F.col("_c12b") + 1).cast("long"),
            "_den_b": (F.col("_c1b") + F.col("_vb")).cast("long"),
            "_num_i": (F.coalesce(F.col("_c12i"), F.lit(0)) + 1).cast("long"),
            "_den_i": F.greatest(
                (F.coalesce(F.col("_c1i"), F.lit(0)) + F.col("_vi")).cast(
                    "long"
                ),
                F.lit(1).cast("long"),
            ),
        }
    )
    j = j.withColumns(
        {
            "_lnb": flog2_col("_num_b"),
            "_ldb": flog2_col("_den_b"),
            "_lni": flog2_col("_num_i"),
            "_ldi": flog2_col("_den_i"),
        }
    )
    g = j.select(
        "w1",
        "w2",
        ((F.col("_ldb") - F.col("_lnb")) - (F.col("_ldi") - F.col("_lni"))).alias(
            "_g"
        ),
    )
    agg = tf.join(g, ["w1", "w2"]).groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("_g")).cast("long").alias("gain_scaled"),
    )
    out = agg.select(
        id_col,
        "n_bigrams",
        "gain_scaled",
        (
            F.col("gain_scaled").cast("double")
            / (F.col("n_bigrams") * F.lit(FLOG2_ONE)).cast("double")
        ).alias("bits_gain"),
    )
    return out.orderBy(F.col("bits_gain").desc(), F.col(id_col).asc()).limit(k)

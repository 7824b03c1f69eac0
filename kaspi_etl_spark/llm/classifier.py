"""Distributed linear text classifier (fastText-style) — exact training.

The third distributed-training family member (k-means in similarity.py,
BPE in bpe.py): logistic regression over hashed bag-of-words count
features, trained by full-batch gradient descent where EVERY quantity
is a scaled integer, so the whole training trajectory — not just the
final scores — unrolls into oracle CTEs and hash-matches bit-for-bit:

* features: md5-hashed word COUNTS over D buckets + a bias feature
  (index D, x = LR_BIAS_X); counts, not presence — the synthetic corpus
  has a tiny vocabulary, so presence vectors saturate (every doc
  contains most words) while counts carry real signal
* weights: BIGINT scaled by 2^S
* sigmoid: a 1024-entry lookup over z in [-8, 8), values scaled by
  2^P, precomputed here and shared with the SQL mirror (the flog2/HLL
  literal-table discipline — no runtime exp anywhere)
* gradient: g_j = sum over docs of x_ij * (p_i - y_i * 2^P) — exact
  BIGINT sum
* update: w_j -= floor(LR_NUM * g_j / (2^(P-S) * LR_DEN * n)) — floor
  division on the driver in Python (and with // in the oracle, both
  true floor; Spark's `div` truncates toward zero on negatives, so the
  engine-side arithmetic keeps all divisions on non-negative operands)

Scale shape (100 TB): per iteration, z is a groupBy-doc SUM over the
feature rows with the 65-entry weight vector baked in as a constant
array literal (no join), and the gradient is a groupBy-bucket SUM —
two data-sized shuffles per iteration, a 65-row driver read between
iterations (the k-means bounded-read class). J is a small constant.

Use case: corpus quality / language routing — train on a labeled
slice, score the firehose with ``predict`` (one shuffle-free pass once
features are built).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..litcache import array_lit
from ..ranks import binned_prefix_sum
from .dedup import md5_long
from .text import extract_words

LR_D = 64  # hash buckets; bias feature index = LR_D
LR_S = 16  # weight scale bits
LR_P = 20  # probability scale bits
LR_LUTN = 1024  # sigmoid table entries over [-8, 8)
LR_Z_CLAMP = 8 << LR_S  # 2^19
LR_IDX_SHIFT = (LR_Z_CLAMP * 2) // LR_LUTN  # 2^10 z-units per entry
LR_NUM = 1  # learning rate = LR_NUM / LR_DEN (tuned on the sf0.01 corpus:
LR_DEN = 192  # floats hit the same accuracy curve — see tests)
LR_BIAS_X = 32  # bias feature magnitude: scales the intercept's learning
# speed to the word-count features' (unnormalized-feature pathology:
# with x_bias = 1 the needed intercept is ~tokens-per-doc times larger
# than per-bucket weights, and full-batch GD stalls at the base rate)
LR_ITERS = 12
SIGMOID_LUT = [
    int(round((1.0 / (1.0 + _math.exp(-(-8.0 + 16.0 * i / LR_LUTN)))) * (1 << LR_P)))
    for i in range(LR_LUTN)
]


def doc_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, j, x) hashed count features: per-doc word counts by bucket
    plus one bias row (j = LR_D, x = LR_BIAS_X) per distinct doc id."""
    words = docs.select(
        F.col(id_col), extract_words(F.col(text_col)).alias("_ws")
    )
    toks = words.select(
        id_col, F.posexplode_outer("_ws").alias("_pos", "_w")
    ).filter(F.col("_w").isNotNull() & (F.col("_w") != ""))
    buckets = (
        toks.select(
            id_col, (md5_long(F.col("_w"), "lrf") % LR_D).cast("long").alias("j")
        )
        .groupBy(id_col, "j")
        .agg(F.count("*").cast("long").alias("x"))
    )
    bias = docs.select(id_col).distinct().select(
        id_col,
        F.lit(LR_D).cast("long").alias("j"),
        F.lit(LR_BIAS_X).cast("long").alias("x"),
    )
    return buckets.unionByName(bias)


def doc_labels(
    docs: DataFrame,
    label_expr,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, y) with y in {0, 1}; duplicates collapse by MAX (so the
    label frame is 1:1 with feature doc ids even on hostile inputs)."""
    return docs.select(F.col(id_col), label_expr.cast("long").alias("_y")).groupBy(
        id_col
    ).agg(F.max("_y").cast("long").alias("y"))


def _z_scores(feats: DataFrame, weights: list[int], id_col: str) -> DataFrame:
    """(id, z) margin per doc: groupBy-sum of x * w with the constant
    weight array indexed by feature — no join; the weight vector is
    plan-constant."""
    w_arr = array_lit([int(w) for w in weights], "bigint", cache=False)
    return feats.select(
        id_col,
        (
            F.col("x") * F.try_element_at(w_arr, F.col("j").cast("int") + 1)
        ).alias("_w"),
    ).groupBy(id_col).agg(F.sum("_w").cast("long").alias("z"))


def _p_expr(z_col: str = "z"):
    """Scaled sigmoid of the named z column via the shared lookup
    (clamp -> bucket index -> table); the index division operands are
    non-negative, so Spark's truncating DIV equals the oracle's floor.
    The table is ONE array Literal (constant-folded), never a per-row
    CreateArray."""
    idx = F.expr(
        f"CAST((least(greatest({z_col}, {-LR_Z_CLAMP}), {LR_Z_CLAMP - 1})"
        f" + {LR_Z_CLAMP}) DIV {LR_IDX_SHIFT} AS INT)"
    )
    return F.try_element_at(array_lit(SIGMOID_LUT, "bigint"), idx + F.lit(1))


def train(
    docs: DataFrame,
    label_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    iters: int = LR_ITERS,
) -> list[int]:
    """Full-batch gradient descent; returns the LR_D+1 scaled weights.
    Driver state per iteration is the 65-long weight vector + one
    gradient collect (bounded, the k-means read class)."""
    feats = doc_features(docs, id_col, text_col)
    lab = doc_labels(docs, label_expr, id_col)
    # Co-partition ONCE and keep the partitioning METADATA alive:
    # persist() (not localCheckpoint — an RDD scan erases
    # outputPartitioning and every iteration re-shuffled the full
    # feature set, with the planner flipping join strategies along the
    # scaling curve: 202-727 CPU s at K=100 across runs). With the
    # cached frame hash-partitioned on the doc id, the per-iteration
    # z groupBy needs NO exchange (ClusteredDistribution satisfied),
    # the z-redistribution join is co-partitioned (shuffle_hash: local
    # build, no sort), and the ONLY per-iteration shuffle is the
    # gradient groupBy — 65 partial rows per partition. That is the
    # 100 TB shape: per-iteration network is O(D), not O(corpus).
    # Explicit numPartitions so AQE does not coalesce the partitioning
    # away before the persist.
    #
    # The join is NULL-safe so that one action both materializes the
    # frame and counts the docs: every distinct id, NULL included, has
    # exactly one bias row. The NULL-id group so counts in n, as a
    # doc_labels row, but adds nothing to the gradient, whose join on
    # the id drops it.
    parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    base = (
        feats.join(lab, feats[id_col].eqNullSafe(lab[id_col]))
        .select(feats[id_col], "j", "x", "y")
        .repartition(parts, id_col)
        .persist()
    )
    try:
        n = base.agg(F.count_if(F.col("j") == LR_D)).collect()[0][0]
        if n == 0:
            raise ValueError("empty corpus")
        weights = [0] * (LR_D + 1)
        den = (1 << (LR_P - LR_S)) * LR_DEN * n
        for _ in range(iters):
            z = _z_scores(base, weights, id_col)
            p = z.select(id_col, _p_expr().alias("p"))
            g_rows = (
                base.join(p.hint("shuffle_hash"), id_col)
                .groupBy("j")
                .agg(
                    F.sum(
                        F.col("x") * (F.col("p") - F.col("y") * F.lit(1 << LR_P))
                    )
                    .cast("long")
                    .alias("g")
                )
                .collect()
            )
            for r in g_rows:  # bounded: <= LR_D + 1 rows
                # Python // is true floor — matches the oracle's //
                weights[int(r["j"])] -= (LR_NUM * int(r["g"])) // den
    finally:
        base.unpersist()
    return weights


def predict(
    docs: DataFrame,
    weights: list[int],
    label_expr=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents with a trained weight vector: (id, z_scaled,
    p_scaled, pred[, y, correct]). One groupBy over the feature rows;
    the weight vector rides as a plan constant."""
    feats = doc_features(docs, id_col, text_col)
    z = _z_scores(feats, weights, id_col).select(
        id_col, F.col("z").alias("z_scaled")
    )
    out = z.select(
        id_col,
        "z_scaled",
        _p_expr("z_scaled").alias("p_scaled"),
        (F.col("z_scaled") > 0).cast("long").alias("pred"),
    )
    if label_expr is not None:
        lab = doc_labels(docs, label_expr, id_col)
        out = out.join(lab, id_col).withColumn(
            "correct", (F.col("pred") == F.col("y")).cast("long")
        )
    return out


# --- DuckDB oracle builder ---------------------------------------------------


def sql_train_ctes(
    words_expr: str,
    label_sql: str,
    iters: int = LR_ITERS,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """CTE chain mirroring ``train`` iteration-for-iteration; the final
    weights CTE is ``w{iters}`` (j, w). Interpolate into a WITH clause.
    Every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and each
    w{k} is referenced twice by level k+1 — inlining would expand the
    plan (and the parquet re-scans) 2^iters-fold."""
    md5j = f"(('0x' || substr(md5(_w || 'lrf'), 1, 15))::BIGINT % {LR_D})"
    lut = "[" + ",".join(str(v) for v in SIGMOID_LUT) + "]"
    parts = [
        f"lab AS MATERIALIZED (SELECT {id_col}, CAST(MAX({label_sql}) AS BIGINT) AS y"
        f" FROM {table} GROUP BY {id_col})",
        f"feats AS MATERIALIZED ("
        f" SELECT {id_col}, {md5j} AS j, CAST(count(*) AS BIGINT) AS x"
        f" FROM (SELECT {id_col}, unnest({words_expr}) AS _w FROM {table})"
        f" GROUP BY 1, 2"
        f" UNION ALL SELECT {id_col}, CAST({LR_D} AS BIGINT) AS j,"
        f" CAST({LR_BIAS_X} AS BIGINT) AS x FROM lab)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM lab)",
        f"lutl AS MATERIALIZED (SELECT {lut} AS l)",
        f"w0 AS MATERIALIZED (SELECT unnest(range(0, {LR_D + 1})) AS j, CAST(0 AS BIGINT) AS w)",
    ]
    p_expr = (
        f"l.l[CAST((least(greatest(z.z, {-LR_Z_CLAMP}), {LR_Z_CLAMP - 1})"
        f" + {LR_Z_CLAMP}) // {LR_IDX_SHIFT} AS INT) + 1]"
    )
    for k in range(1, iters + 1):
        parts.append(
            f"z{k} AS MATERIALIZED (SELECT f.{id_col}, CAST(SUM(f.x * w.w) AS BIGINT) AS z"
            f" FROM feats f JOIN w{k - 1} w USING (j) GROUP BY f.{id_col})"
        )
        parts.append(
            f"p{k} AS MATERIALIZED (SELECT z.{id_col}, CAST({p_expr} AS BIGINT) AS p"
            f" FROM z{k} z, lutl l)"
        )
        parts.append(
            f"g{k} AS MATERIALIZED (SELECT f.j,"
            f" CAST(SUM(f.x * (p.p - lab.y * {1 << LR_P})) AS BIGINT) AS g"
            f" FROM feats f JOIN p{k} p USING ({id_col})"
            f" JOIN lab USING ({id_col}) GROUP BY f.j)"
        )
        # DuckDB's // truncates toward zero (like its %); Python's //
        # floors. Express TRUE floor division via the mod identity so
        # the numerator becomes exactly divisible: trunc == floor.
        num = f"({LR_NUM} * COALESCE(g.g, 0))"
        den = f"({1 << (LR_P - LR_S)} * {LR_DEN} * nn.n)"
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT w.j, CAST(w.w - (({num}"
            f" - ((({num} % {den}) + {den}) % {den})) // {den}) AS BIGINT) AS w"
            f" FROM w{k - 1} w LEFT JOIN g{k} g USING (j) CROSS JOIN nn)"
        )
    return ",\n    ".join(parts)


def save_weights(spark, weights: list[int], path: str) -> None:
    """Persist a trained weight vector as a tiny parquet table
    (j BIGINT, w BIGINT) — the model artifact (the k-means
    save_centroids pattern). Integers round-trip exactly, so a reloaded
    model reproduces predictions bit-for-bit."""
    spark.createDataFrame(
        [(int(j), int(w)) for j, w in enumerate(weights)],
        "j BIGINT, w BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_weights(spark, path: str) -> list[int]:
    """Inverse of save_weights (bounded driver read of LR_D + 1 rows)."""
    rows = spark.read.parquet(path).orderBy("j").collect()
    weights = [0] * len(rows)
    for r in rows:
        weights[int(r["j"])] = int(r["w"])
    return weights


def eval_metrics(
    scored: DataFrame,
    score_col: str = "z_scaled",
    label_col: str = "y",
    pred_col: str = "pred",
) -> DataFrame:
    """Exact binary-classification evaluation — the third leg of the
    training family (train -> score -> evaluate): confusion counts,
    accuracy / precision / recall / F1 in integer ppm, and AUC as the
    exact tie-aware rank-sum (Mann-Whitney) statistic.

    Every metric is integer arithmetic: F1 uses the identity
    2tp/(2tp+fp+fn) (no intermediate ratios), and AUC keeps tied-rank
    averages exact by carrying DOUBLED rank sums — for each distinct
    score, its block contributes n_pos_at_z * (2*cum_before + n_z + 1),
    so U2 = R2_pos - n_pos(n_pos+1) and auc_ppm = 1e6*U2 div
    (2*n_pos*n_neg) with no float anywhere (bound: n_pos*n_neg < 4.6e12
    — one eval-set shard; shard and average past that). The rank walk
    runs over DISTINCT scores via the distributed two-phase prefix sum
    (ranks.binned_prefix_sum — distinct fixed-point margins approach
    eval-set cardinality on real data, so an unpartitioned window here
    would funnel the whole score distribution through one task).

    Returns ONE row: (n, n_pos, n_neg, tp, fp, tn, fn, accuracy_ppm,
    precision_ppm, recall_ppm, f1_ppm, auc_ppm).
    """
    # r11: materializing this projection (and zdist below) was
    # A/B-measured and REVERTED — wall 1.7 -> 5.3 s with flat CPU: the
    # corpus-sized eager checkpoint serializes a materialization job in
    # front of both aggregates, while the duplicated predict subtrees
    # run in parallel anyway (guide §1.1 negative result).
    base = scored.select(
        F.col(score_col).alias("_z"),
        F.col(label_col).cast("long").alias("_y"),
        F.col(pred_col).cast("long").alias("_p"),
    )
    conf = base.select(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("_y")).cast("long").alias("n_neg"),
        F.sum(F.col("_y") * F.col("_p")).cast("long").alias("tp"),
        F.sum((1 - F.col("_y")) * F.col("_p")).cast("long").alias("fp"),
        F.sum((1 - F.col("_y")) * (1 - F.col("_p"))).cast("long").alias("tn"),
        F.sum(F.col("_y") * (1 - F.col("_p"))).cast("long").alias("fn"),
    )
    zdist = base.groupBy("_z").agg(
        F.count(F.lit(1)).cast("long").alias("n_z"),
        F.sum("_y").cast("long").alias("npos_z"),
    )
    ranked = binned_prefix_sum(zdist, "_z", "n_z", out_col="_cum").select(
        "n_z",
        "npos_z",
        (F.col("_cum") - F.col("n_z")).alias("_cum_before"),
    )
    r2 = ranked.select(
        F.sum(
            F.col("npos_z") * (2 * F.col("_cum_before") + F.col("n_z") + 1)
        )
        .cast("long")
        .alias("r2_pos")
    )
    joined = conf.crossJoin(F.broadcast(r2))
    return joined.select(
        "n",
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        "tn",
        "fn",
        F.expr("(1000000 * (tp + tn)) div n").cast("long").alias("accuracy_ppm"),
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(0))
        .otherwise(F.expr("(1000000 * tp) div (tp + fp)"))
        .cast("long")
        .alias("precision_ppm"),
        F.when(F.col("n_pos") == 0, F.lit(0))
        .otherwise(F.expr("(1000000 * tp) div (tp + fn)"))
        .cast("long")
        .alias("recall_ppm"),
        F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0))
        .otherwise(F.expr("(2000000 * tp) div (2 * tp + fp + fn)"))
        .cast("long")
        .alias("f1_ppm"),
        F.when(F.col("n_pos") * F.col("n_neg") == 0, F.lit(0))
        .otherwise(
            F.expr(
                "(1000000 * (r2_pos - n_pos * (n_pos + 1)))"
                " div (2 * n_pos * n_neg)"
            )
        )
        .cast("long")
        .alias("auc_ppm"),
    )


def calibration_bins(scored: DataFrame, n_bins: int = 10) -> DataFrame:
    """Reliability diagram + expected calibration error for a scored
    frame (p_scaled in [0, 2^LR_P], label y) — the calibration leg of
    the classifier eval family (Naeini et al. 2015 ECE; the
    quality-filter use: a miscalibrated quality classifier silently
    skews a threshold-sampled corpus even at good AUC).

    bin = min(p_scaled * n_bins div 2^LR_P, n_bins - 1); per observed
    bin: exact count, positive count, mean predicted probability and
    empirical positive rate in integer ppm, their absolute gap, and the
    corpus ECE (count-weighted mean gap) replicated on each row. All
    ratios are integer-exact; the weighted products run through
    DECIMAL(38,0) so a trillion-row corpus cannot wrap BIGINT. The
    total rides a 1-row broadcast crossJoin (never an unpartitioned
    window); the binning groupBy is map-side combinable.
    """
    one = 1 << LR_P
    b = scored.select(
        F.least(
            F.expr(f"(p_scaled * {n_bins}) div {one}"), F.lit(n_bins - 1)
        )
        .cast("long")
        .alias("bin"),
        "p_scaled",
        "y",
    )
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("p_scaled").cast("long").alias("_sum_p"),
    )
    per = per.withColumn(
        "mean_pred_ppm",
        F.expr(
            "CAST(1000000 AS DECIMAL(38,0)) * CAST(_sum_p AS DECIMAL(38,0))"
            f" div (CAST(n AS DECIMAL(38,0)) * {one})"
        ).cast("long"),
    ).withColumn(
        "frac_pos_ppm", F.expr("(1000000 * n_pos) div n").cast("long")
    ).withColumn(
        "gap_ppm", F.abs(F.col("mean_pred_ppm") - F.col("frac_pos_ppm"))
    )
    # r11 (guide §1.2): the <= n_bins-row bin table feeds the ECE
    # aggregate AND the output spine — without materialization the
    # whole corpus scoring pipeline behind it (hashed-TF features +
    # fixed-point sigmoid) ran TWICE in the static plan.
    per = per.localCheckpoint()
    tot = per.agg(
        F.expr(
            "CAST(sum(CAST(n AS DECIMAL(38,0)) * CAST(gap_ppm AS DECIMAL(38,0)))"
            " div sum(CAST(n AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ece_ppm")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bin", "n", "n_pos", "mean_pred_ppm", "frac_pos_ppm",
        F.col("gap_ppm").cast("long").alias("gap_ppm"), "ece_ppm",
    )

"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the (small) query set
against the corpus, dot products computed JVM-side with zip_with/aggregate
(no Python in the hot path), top-k via window rank.

Scale path: LSH bucketing via random hyperplanes (sign bits) — corpus and
queries hash to bucket keys; candidate generation is an equi-join on
buckets, turning O(N*Q) into O(collisions). The IVF variant buckets by
nearest centroid instead, trained by the in-repo deterministic
fixed-point k-means (``kmeans_train``) so results are bit-reproducible
and oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import memo
from ..litcache import array_lit


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float arrays (dim unknown at plan
    time). NOTE: higher-order-function lambdas run on Spark's
    INTERPRETED expression path (~1 us/element — no whole-stage
    codegen); when the dimension is statically known, use ``dot_fixed``
    — bit-identical values, ~100x cheaper."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """``dot`` unrolled for a statically known dimension: a plain
    GetArrayItem multiply-add chain that stays inside whole-stage
    codegen instead of the interpreted lambda evaluator.

    SCALE CROSSOVER (measured r6): the generated method for a 64-term
    chain is too large for HotSpot to JIT, so it runs as interpreted
    bytecode — faster than the lambda evaluator on BIG inputs (2x at
    2M pairs) but SLOWER below ~1M pairs, where fixed compile/warmup
    costs dominate (ann_cosine_topk at sf0.1: 0.9s lambda vs 2.0s
    unrolled). Use the lambda form at gate/bench scale, this form in
    stress/scale paths, and the Arrow kernel (``_pairs_arrow``) where
    the operator already crosses into Python.

    Bit-identical to ``dot`` by construction — the same left fold
    ``((0.0 + a0*b0) + a1*b1) + ...`` in the same element order, so any
    oracle that mirrors ``dot``'s fold order is untouched. Element
    access is ``F.get`` (NULL on out-of-bounds even under ANSI mode —
    a bare ``a[i]`` THROWS there), so arrays shorter than ``dim`` yield
    a NULL sum just as zip_with's null padding does, and any
    wrong-length raise stays the job of the caller's explicit guard.

    Measured motivation: the r6 LSH stress curve was dominated by
    interpreted lambda evaluation — 200k vectors x 224 planes x 64 dims
    = 2.9G lambda steps ~ 600+ executor-CPU seconds of pure overhead.
    """
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.get(a, i) * F.get(b, i)
    return acc


def dot_planes(vec: Column, plane: list[float]) -> Column:
    """Dot of a vector column with a PYTHON-LITERAL plane, unrolled into
    codegen (same fold order as ``dot`` with an array-literal plane)."""
    acc: Column = F.lit(0.0)
    for j, s in enumerate(plane):
        acc = acc + F.get(vec, j) * F.lit(float(s))
    return acc


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def l2_norm_fixed(a: Column, dim: int) -> Column:
    """``l2_norm`` unrolled for a known dimension (same fold order —
    bit-identical; codegen instead of interpreted lambdas)."""
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.get(a, i) * F.get(a, i)
    return F.sqrt(acc)


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def with_normalized(
    df: DataFrame, vec_col: str, out_col: str, dim: int | None = None
) -> DataFrame:
    """Unit-normalize a vector column (zero vectors -> zero vectors).

    Pre-normalizing makes pairwise cosine a single dot product instead of
    dot + two norms per pair — a 3x flop cut in the O(N*Q) stage. The
    norm is materialized as a real column first so the transform lambda
    binds an attribute, not a re-evaluated expression.

    With a known ``dim``, the norm and the divide are unrolled into
    codegen expressions (identical values, same element order); vectors
    of a different length then come out with NULL slots rather than a
    short array — callers on the unrolled path guard length upstream.
    """
    vec = F.col(vec_col)
    if dim is None:
        nrm_expr = l2_norm(vec)
    else:
        nrm_expr = l2_norm_fixed(vec, dim)
    nrm = df.withColumn("_nrm", nrm_expr)
    if dim is None:
        normed = F.transform(vec, lambda x: x / F.col("_nrm"))
        zeros = F.transform(vec, lambda x: F.lit(0.0))
    else:
        normed = F.array(*[F.get(vec, i) / F.col("_nrm") for i in range(dim)])
        zeros = array_lit([0.0] * dim, "double")
    return nrm.withColumn(
        out_col, F.when(F.col("_nrm") > 0, normed).otherwise(zeros)
    ).drop("_nrm")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query via broadcast nested-loop + window.

    ``queries`` is expected to be small (broadcastable); the corpus scan
    stays distributed and narrow. Both sides are unit-normalized up
    front, so the pairwise stage is one dot product. Ties broken by
    corpus id asc. Pass ``dim`` when known: the pairwise dot — the
    n_corpus x n_queries x dim hot loop — then unrolls into codegen
    (bit-identical fold) instead of interpreted lambdas.
    """
    q = with_normalized(queries, vec_col, "_qvec").select(query_id_col, "_qvec")
    c = with_normalized(corpus, vec_col, "_cvec").select(id_col, "_cvec")
    pair_dot = (
        dot_fixed(F.col("_qvec"), F.col("_cvec"), dim)
        if dim
        else dot(F.col("_qvec"), F.col("_cvec"))
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        pair_dot.alias("cosine_sim"),
    ).filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def deterministic_planes(num_planes: int, dim: int) -> list[list[float]]:
    """Fixed +/-1 hyperplanes from an LCG — integer-valued components so
    dot-product signs (and therefore bucket ids) are bit-exact in any
    engine that mirrors the same fold order."""
    state = 123456789
    planes: list[list[float]] = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(1.0 if (state >> 16) & 1 else -1.0)
        planes.append(row)
    return planes


def hyperplane_bucket(
    vec: Column | str, planes: list[list[float]], unrolled: bool = False
) -> Column:
    """LSH bucket id: sign bits of dot products with fixed hyperplanes.
    ``unrolled=True`` uses ``dot_planes`` (codegen chain — wins above
    the ~1M-row crossover documented on ``dot_fixed``); the default
    interpreted array-literal fold is faster at gate/bench scale and
    bit-identical (same left fold order). Pass ``vec`` as a column NAME
    to get the memoized expression tree (~2*P Column ops over P planes,
    ~0.4 s of py4j per lsh_topk call measured); a Column argument builds
    fresh (a general Column is not a memo key)."""
    if isinstance(vec, str):
        key = ("bucket", vec, unrolled, memo.digest(tuple(map(tuple, planes))))
        return memo.get(key, lambda: hyperplane_bucket(F.col(vec), planes, unrolled))
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        pd = (
            dot_planes(vec, p)
            if unrolled
            else dot(vec, array_lit([float(s) for s in p], "double"))
        )
        bucket = bucket + F.when(pd >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def auto_lsh_params(
    n: int,
    threshold: float,
    target_bucket: int = 4,
    target_miss: float = 1e-4,
    min_planes: int = 12,
    min_bands: int = 12,
) -> tuple[int, int]:
    """Size (bands, planes_per_band) to the corpus so the candidate
    stream stays LINEAR in n.

    At fixed r planes per band, expected candidates are
    sum C(bucket, 2) ~ n^2 / 2^r — QUADRATIC in n (measured: the r5
    stress curve at fixed r=12 went 35s -> 322s for a 2x corpus). The
    scale-correct r grows with the data: r = log2(n / target_bucket)
    holds expected bucket size (hence per-vector candidate count)
    constant, making total candidates ~ bands * n * target_bucket / 2.

    More planes per band lowers per-band match probability (p^r with
    p = 1 - angle/pi), so the band count is re-derived to keep the
    per-true-pair miss probability (1 - p^r)^bands at ``target_miss``
    for pairs sitting exactly AT the threshold (pairs above it miss
    less; exact duplicates can never miss — identical sign bits).
    Floors keep small-corpus behavior identical to the historical
    12x12 defaults, so gate-scale results are bit-unchanged; r is
    capped at 40 so bucket ids stay comfortably inside a long.
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    ratio = max(n, 1) / max(target_bucket, 1)
    r = min(40, max(min_planes, math.ceil(math.log2(ratio)) if ratio > 1 else 0))
    p_band = p**r
    if p_band >= 1.0:
        bands = min_bands
    else:
        bands = max(min_bands, math.ceil(math.log(target_miss) / math.log(1.0 - p_band)))
    return min(64, bands), r


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train_iters: int = 2,
    scale_bits: int = 10,
    nprobe: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style ANN: a deterministic k-means coarse quantizer
    (``kmeans_train`` — fixed-point Lloyd, lowest-id seeds) assigns every
    vector to its nearest centroid's list; search compares a query only
    against its ``nprobe`` nearest lists (1 = own list only). Same
    shuffle shape as LSH bucketing — an equi-join on list ids — but with
    data-adaptive partitions; nprobe > 1 explodes each query to nprobe
    (query, list) probes before the same join, trading nprobe x
    candidate volume for recall exactly as production IVF does.

    Training is bit-reproducible (exact integer distances, centroid
    updates on the quantized grid), so the whole search result is
    deterministic and SQL-oracle-expressible by unrolling the training
    iterations — the registered ``ann_ivf_topk`` gate does exactly that
    at nprobe=1. Lists partition the corpus, so multi-probe candidates
    are disjoint and need no dedup.
    """
    if nprobe == 1:
        # r11 fused path: train as an in-plan DataFrame chain
        # (kmeans_centroids_df) instead of per-round driver collects, and
        # assign BOTH sides through the same codegen'd exploded join —
        # zero mid-query driver round-trips. The tiny trained-centroid
        # table is localCheckpointed so its two consumers (corpus lists,
        # query probes) don't re-run training. Bit-identical: the join
        # argmin uses the same exact integer L2 and (d, cluster) tie
        # order as the literal fold.
        cents_rel = kmeans_centroids_df(
            corpus, k=n_lists, iters=train_iters, id_col=id_col,
            vec_col=vec_col, scale_bits=scale_bits,
        ).localCheckpoint()
        lists = assign_nearest_join(
            corpus, cents_rel, id_col=id_col, vec_col=vec_col,
            scale_bits=scale_bits,
        ).select(F.col(id_col), F.col("cluster").alias("_list"))
        cb = (
            with_normalized(corpus, vec_col, "_cvec", dim=dim)
            .join(lists, id_col)
            .select(F.col(id_col), "_cvec", "_list")
        )
        q_lists = assign_nearest_join(
            queries, cents_rel, id_col=query_id_col, vec_col=vec_col,
            scale_bits=scale_bits,
        ).select(F.col(query_id_col), F.col("cluster").alias("_list"))
        qb = (
            with_normalized(queries, vec_col, "_qvec", dim=dim)
            .join(q_lists, query_id_col)
            .select(F.col(query_id_col), "_qvec", "_list")
        )
    else:
        cents = kmeans_train(
            corpus, k=n_lists, iters=train_iters, id_col=id_col, vec_col=vec_col,
            scale_bits=scale_bits,
        )
        qv = _quantized(vec_col, scale_bits)
        # corpus-side list assignment via the codegen'd join form (the
        # literal fold is interpreted per element — measured ~2s vs ~0.3s at
        # 5k x 8 x 64); attaching it back is an id-keyed equi-join
        lists = assign_nearest_join(
            corpus, cents, id_col=id_col, vec_col=vec_col, scale_bits=scale_bits
        ).select(F.col(id_col), F.col("cluster").alias("_list"))
        cb = (
            with_normalized(corpus, vec_col, "_cvec", dim=dim)
            .join(lists, id_col)
            .select(F.col(id_col), "_cvec", "_list")
        )
        probe = F.explode(_nearest_lists(F.col("_qv"), cents, nprobe))
        qb = (
            with_normalized(queries, vec_col, "_qvec", dim=dim)
            .withColumn("_qv", qv)
            .withColumn("_list", probe)
            .select(F.col(query_id_col), "_qvec", "_list")
        )
    pair_dot = (
        dot_fixed(F.col("_qvec"), F.col("_cvec"), dim)
        if dim
        else dot(F.col("_qvec"), F.col("_cvec"))
    )
    scored = cb.join(F.broadcast(qb), "_list").select(
        query_id_col,
        id_col,
        pair_dot.alias("cosine_sim"),
    ).filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def with_quantized(df: DataFrame, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization: scale = max(abs(x)); q_i = round(x_i
    / scale * 127). Adds `scale` (double) and `q` (array<int>) — the
    storage format that cuts embedding bytes 4x for ANN at scale. The
    scale is materialized as a real column before the transform so it is
    not re-evaluated per element; round half-away-from-zero matches
    between Spark and DuckDB."""
    scaled = df.withColumn(
        "scale",
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))),
    )
    return scaled.withColumn(
        "q",
        F.when(
            F.col("scale") > 0,
            F.transform(
                F.col(vec_col), lambda x: F.round(x / F.col("scale") * 127).cast("int")
            ),
        ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0))),
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold). All-pairs form — verification-grade at small N; the scale
    path buckets first (hyperplane_bucket equi-join, see lsh_topk) so the
    quadratic comparison only happens inside buckets."""
    vn = with_normalized(vectors, vec_col, "_vn")
    a = vn.select(F.col(id_col).alias("id_a"), F.col("_vn").alias("_va"))
    b = vn.select(F.col(id_col).alias("id_b"), F.col("_vn").alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot(F.col("_va"), F.col("_vb")).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def _pairs_arrow(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    bands: int,
    planes_per_band: int,
    dim: int,
    threshold: float,
) -> DataFrame:
    """Verified near-dup pairs, Arrow end to end: band buckets via one
    numpy matmul per batch, then pairwise verification INSIDE each
    bucket (vectors ride along into the bucket groupBy), thresholded
    BEFORE the cross-band distinct.

    Why this shape — each alternative was measured at 100k x 64-dim:
    generating a candidate id-stream and equi-joining the vectors back
    moves ~1 KB per candidate through two joins and re-serializes every
    pair for scoring (520+ executor-CPU s whether the dot is a
    JVM-unrolled chain — one huge un-JITable generated method — or an
    Arrow UDF); here the only wide shuffle is the bucket groupBy
    carrying n x bands (id, vec) rows once, verification is a batched
    numpy fold, and the distinct dedups only the TRUE pairs that
    surfaced in multiple bands.

    Exactness: norms and pair dots are explicit PER-DIMENSION LEFT
    FOLDS (``acc = acc + a_i * b_i`` column by column, vectorized across
    pairs) — NOT np.dot, whose pairwise/SIMD summation reorders the
    additions and drifts ulps from the oracle's list_reduce fold. Every
    numpy op is IEEE-exact per element, so each pair's cosine is
    bit-identical to the JVM fallback and the SQL mirror, which is what
    lets distinct() collapse a pair found in several bands to one row.

    NULL vectors hash to no buckets (posexplode_outer + isNotNull — the
    vanilla-session-safe explode pattern); wrong-length vectors raise
    with the same message as the JVM guard. A pathological bucket of
    identical vectors is quadratic BY DATA (as documented in SCALE.md);
    the auto-sized planes hold expected bucket size constant.
    """
    from pyspark.sql.functions import pandas_udf

    n_bands, r, d = int(bands), int(planes_per_band), int(dim)
    thr = float(threshold)
    plane_rows = [planes[p][j] for p in range(len(planes)) for j in range(d)]

    @pandas_udf("array<long>")
    def _buckets(vs):  # pd.Series[list[float] | None] -> pd.Series
        import numpy as np
        import pandas as pd

        P = np.asarray(plane_rows, dtype=np.float64).reshape(n_bands * r, d)
        W = np.int64(1) << np.arange(r, dtype=np.int64)
        out = [None] * len(vs)
        live = [i for i, v in enumerate(vs) if v is not None]
        if live:
            for i in live:
                if len(vs.iloc[i]) != d:
                    raise ValueError(
                        "cosine_near_dup_pairs_bucketed: embedding length "
                        f"{len(vs.iloc[i])} != dim {d} — LSH bucketing "
                        "would silently degenerate to all-pairs"
                    )
            M = np.stack(
                [np.asarray(vs.iloc[i], dtype=np.float64) for i in live]
            )
            # NaN projections hash as bit 0 (numpy >= is False on NaN);
            # the JVM fallback carries explicit isnan guards to match —
            # Spark SQL orders NaN ABOVE every double, so a bare
            # `_s >= 0` there would disagree with this path.
            bits = (M @ P.T) >= 0
            bks = bits.reshape(len(live), n_bands, r) @ W  # (m, bands)
            for row, i in enumerate(live):
                out[i] = bks[row].tolist()
        return pd.Series(out)

    grouped = (
        vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("_v"),
            _buckets(F.col(vec_col)).alias("_bks"),
        )
        .select("id", "_v", F.posexplode_outer("_bks").alias("band_idx", "bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("band_idx", "bucket")
        .agg(F.collect_list(F.struct("id", "_v")).alias("grp"))
        .filter(F.size("grp") >= 2)
    )

    def _verify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for grp in pdf["grp"]:
                m = len(grp)
                if m < 2:
                    continue
                ids = np.asarray([g["id"] for g in grp], dtype=np.int64)
                V = np.array(
                    [np.asarray(g["_v"], dtype=np.float64) for g in grp]
                )
                o = np.argsort(ids, kind="stable")
                ids, V = ids[o], V[o]
                nrm = np.zeros(m)
                for i in range(d):  # left fold, same order as the oracle
                    nrm = nrm + V[:, i] * V[:, i]
                nrm = np.sqrt(nrm)
                Vn = np.where(
                    nrm[:, None] > 0,
                    V / np.where(nrm > 0, nrm, 1.0)[:, None],
                    0.0,
                )
                ia, ib = np.triu_indices(m, 1)
                A, B = Vn[ia], Vn[ib]
                acc = np.zeros(len(ia))
                for i in range(d):
                    acc = acc + A[:, i] * B[:, i]
                keep = acc >= thr
                if keep.any():
                    out_a.extend(ids[ia[keep]].tolist())
                    out_b.extend(ids[ib[keep]].tolist())
                    out_c.extend(acc[keep].tolist())
            yield pd.DataFrame(
                {"id_a": out_a, "id_b": out_b, "cosine_sim": out_c}
            )

    pairs = grouped.select("grp").mapInPandas(
        _verify, "id_a long, id_b long, cosine_sim double"
    )
    return pairs.distinct()


def _banded_join(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    planes_per_band: int,
    dim: int,
) -> DataFrame:
    """Pure-JVM fallback banding: posexplode + broadcast plane-table
    equi-join + two hash aggregations, all whole-stage codegen. Linear
    in n but pays a hash probe per multiply-add — use the Arrow path
    when numpy is available. The input is pre-repartitioned by id so
    both aggregations are satisfied by one narrow exchange."""
    spark = vectors.sparkSession
    planes_rows = [
        (j, p_idx, float(planes[p_idx][j]))
        for p_idx in range(len(planes))
        for j in range(dim)
    ]
    planes_tbl = spark.createDataFrame(
        planes_rows, "pos int, _pidx int, _sgn double"
    )
    ex = (
        # NULL vectors hash to no buckets, identically to the Arrow
        # path (which skips None rows) — without this filter a NULL
        # embedding made _sz NULL, the length guard's when-condition
        # fell through to otherwise, and raise_error fired with a
        # misleading length-mismatch message.
        vectors.filter(F.col(vec_col).isNotNull())
        .repartition(F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.size(F.col(vec_col)).alias("_sz"),
            F.posexplode_outer(F.col(vec_col)).alias("pos", "_x"),
        )
        .select(
            "id",
            "pos",
            # the length guard rides on the exploded value so a
            # wrong-length vector raises instead of silently hashing
            # into garbage buckets
            F.when(F.col("_sz") == dim, F.col("_x")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "cosine_near_dup_pairs_bucketed: embedding length "
                        ),
                        F.col("_sz").cast("string"),
                        F.lit(
                            f" != dim {dim} — LSH bucketing would silently "
                            "degenerate to all-pairs"
                        ),
                    )
                ).cast("double")
            ).alias("_x"),
        )
    )
    sums = (
        ex.join(F.broadcast(planes_tbl), "pos")
        .groupBy("id", "_pidx")
        .agg(F.sum(F.col("_x") * F.col("_sgn")).alias("_s"))
    )
    return (
        sums.select(
            "id",
            F.expr(f"_pidx div {int(planes_per_band)}").cast("int").alias(
                "band_idx"
            ),
            # the shift base must be a LONG: r can reach 40, and an
            # int-typed shiftleft silently wraps past bit 31 (the Python
            # F.shiftleft only takes a literal shift, hence F.expr).
            # isnan guard: Spark SQL orders NaN ABOVE every double, so a
            # bare `_s >= 0` would set the bit on a NaN projection while
            # the Arrow path (numpy >=, False on NaN) clears it — the
            # two paths must produce identical buckets.
            F.when(
                (~F.isnan(F.col("_s"))) & (F.col("_s") >= 0),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), _pidx % {int(planes_per_band)})"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("_bit"),
        )
        .groupBy("id", "band_idx")
        .agg(F.sum("_bit").cast("long").alias("bucket"))
    )


def cosine_near_dup_pairs_bucketed(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = None,
    planes_per_band: int | None = None,
    dim: int | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup pairs: banded hyperplane-LSH
    candidate generation + exact cosine verification. Never all-pairs.

    Shape: each vector hashes to `bands` (band_idx, bucket) keys; per
    bucket a sorted posting list generates (id_a < id_b) candidates
    JVM-side (join-free, same pattern as ngram_jaccard_pairs); distinct
    candidates equi-join the normalized vectors twice for the exact dot.
    Shuffles: groupBy bucket, groupBy pair, two id equi-joins — all on
    narrow fixed-width keys; no BroadcastNestedLoopJoin / cartesian.

    Bucket selectivity is what bounds the candidate stream on CLUSTERED
    embeddings (real corpora cluster; sign patterns collide): measured
    on 8k vectors, 4-plane bands produced 16.7M candidates
    (near-quadratic) while 12-plane bands produced ~0.3M. planes_per_band
    is the knob that trades candidate volume against recall — and at a
    FIXED value the candidate stream is still ~ n^2 / 2^r, i.e.
    quadratic in corpus size (the r5 stress curve measured 35s -> 322s
    for a 2x corpus at fixed r=12). So by default (bands /
    planes_per_band = None) both are SIZED TO THE CORPUS by
    ``auto_lsh_params``: one count() job reads n, r grows as
    log2(n / target_bucket) to hold expected bucket size constant
    (candidates linear in n), and the band count is re-derived to hold
    per-pair recall. Callers who know n (or need a bit-pinned
    configuration) pass explicit values and skip the count.

    Recall: a pair agrees on one band with p^r (p = 1 - angle/pi). At
    threshold 0.99 (angle <= 8.1 deg, p >= 0.955) the floor 12 bands x
    12 planes gives per-pair miss ~3e-5, and the auto sizing keeps the
    at-threshold miss <= 1e-4 at any n; exact duplicates (cosine 1.0)
    can never be missed (identical sign bits), and verification is exact,
    so precision is deterministic — bucketed output is always a subset
    of the all-pairs form (property-tested). Tests pin equality with the
    all-pairs oracle on the test corpora.

    ``dim`` defaults to the actual vector length (one LIMIT-1 probe at
    plan build). A wrong ``dim`` would be catastrophic-but-silent:
    zip_with pads the shorter side with nulls, every hyperplane dot goes
    NULL, every vector lands in bucket 0 of every band, and the
    "never all-pairs" contract degrades to the full quadratic candidate
    set. So the normalized vector is guarded per row — any vector whose
    length differs from ``dim`` raises instead of degrading.
    """
    if dim is None:
        probe = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(probe["d"]) if probe is not None else 1
    if bands is None or planes_per_band is None:
        auto_b, auto_r = auto_lsh_params(vectors.count(), threshold)
        bands = auto_b if bands is None else bands
        planes_per_band = auto_r if planes_per_band is None else planes_per_band
    planes = deterministic_planes(bands * planes_per_band, dim)
    # Banding runs on the RAW vector: hyperplane SIGN bits are invariant
    # under positive per-vector scaling, so normalizing first buys
    # nothing. The hashing itself is a dense n x (planes x dim) matrix
    # multiply — the largest flop count in the pipeline — and the only
    # form that runs it at hardware speed is a vectorized Arrow batch
    # (numpy/BLAS). Three rejected pure-JVM forms, all MEASURED at
    # 100k x 210 planes x 64 dims:
    #   - zip_with/aggregate lambdas: INTERPRETED expression path,
    #     ~1 us/element -> ~600 executor-CPU s;
    #   - per-plane unrolled Column expressions: explode at PLAN time
    #     (CollapseProject / PushProjectionThroughUnion inline the
    #     input's vector expression into every one of the bands x planes
    #     x dim references -> 160+ s of driver analysis + Janino compile
    #     when the input computes the vector);
    #   - posexplode + broadcast plane-table join + hash aggs: codegen,
    #     but pays a hash-map probe per multiply-add -> ~300 CPU s.
    # The numpy matmul does the same 1.3G multiply-adds in < 1 s. It is
    # this module's one justified Python stage (same bar as the HTML
    # parser / media kernels: a dense numeric kernel Spark's JVM
    # expressions cannot express efficiently); `arrow=False` (or absent
    # pandas/pyarrow) falls back to the join form — bit-compatible
    # candidates up to sign-of-~zero ulp, identical verified output.
    if arrow is None:
        try:  # pragma: no cover - environment probe
            import numpy  # noqa: F401
            import pandas  # noqa: F401

            arrow = True
        except ImportError:
            arrow = False
    if arrow:
        return _pairs_arrow(
            vectors,
            id_col,
            vec_col,
            planes,
            bands,
            planes_per_band,
            dim,
            threshold,
        )
    banded = _banded_join(
        vectors, id_col, vec_col, planes, planes_per_band, dim
    )
    buckets = (
        banded.groupBy("band_idx", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_gen = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_gen).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # shuffle_hash, NOT broadcast: the corpus side GROWS with n, and a
    # broadcast relation is deserialized per task — measured 220+ CPU s
    # at 100k x 64-dim (50 MB x 2 sides x every verify task), turning a
    # linear stage superlinear. A shuffled hash join moves each side
    # once and scales with the candidate stream.
    vn = with_normalized(vectors, vec_col, "_vn", dim=dim).select(
        F.col(id_col).alias("id"), "_vn"
    )
    a = vn.select(F.col("id").alias("id_a"), F.col("_vn").alias("_va")).hint(
        "shuffle_hash"
    )
    b = vn.select(F.col("id").alias("id_b"), F.col("_vn").alias("_vb")).hint(
        "shuffle_hash"
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            dot_fixed(F.col("_va"), F.col("_vb"), dim).alias("cosine_sim"),
        )
        # isnan guard mirrors the Arrow verify (numpy >= is False on
        # NaN); Spark's NaN-is-greatest ordering would otherwise pass a
        # NaN cosine through the threshold.
        .filter((~F.isnan(F.col("cosine_sim"))) & (F.col("cosine_sim") >= threshold))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    unrolled: bool = False,
) -> DataFrame:
    """Approximate top-k: compare only vectors in the query's hyperplane
    bucket. Recall improves with multiple plane sets (union of buckets);
    this single-table variant demonstrates the shuffle shape — an
    equi-join on bucket ids instead of a cross join. ``unrolled``
    switches the hash + pair-dot kernels to the codegen chains — only
    worth it above the ~1M-pair crossover (see ``dot_fixed``); values
    are bit-identical either way."""
    dim = len(planes[0]) if planes else None
    cb = with_normalized(corpus, vec_col, "_cvec").select(
        F.col(id_col),
        "_cvec",
        hyperplane_bucket(vec_col, planes, unrolled=unrolled).alias("_bucket"),
    )
    qb = with_normalized(queries, vec_col, "_qvec").select(
        F.col(query_id_col),
        "_qvec",
        hyperplane_bucket(vec_col, planes, unrolled=unrolled).alias("_bucket"),
    )
    pair_dot = (
        dot_fixed(F.col("_qvec"), F.col("_cvec"), dim)
        if unrolled and dim
        else dot(F.col("_qvec"), F.col("_cvec"))
    )
    scored = cb.join(F.broadcast(qb), "_bucket").select(
        query_id_col,
        id_col,
        pair_dot.alias("cosine_sim"),
    ).filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


FIXED_POINT_SCALE = 1 << 20  # ~6 decimal digits of fraction


def embedding_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid of embedding vectors via FIXED-POINT sums.

    A double SUM over a group is order-dependent (IEEE addition doesn't
    associate), so a float centroid can't be reproduced bit-exactly by
    another engine — or even by the same engine under a different
    partitioning. Quantizing each component to round(x * 2^20) first
    makes the per-dimension sum an exact integer (order-independent,
    overflow-safe: 2^20-scaled unit floats sum exactly in int64 up to
    ~2^43 rows/group), with ONE IEEE division at the end. That is what
    makes the result both deterministic at 100 TB and oracle-checkable.

    Shape: posexplode (narrow) -> groupBy(group, pos) integer sums with
    map-side partial agg -> groupBy(group) sorted re-assembly. The wide
    shuffle carries (group, pos) keyed integer pairs — dim * groups rows
    after partial agg, independent of input row count.

    Output: (group_col, n_vecs BIGINT, centroid ARRAY<DOUBLE>).
    """
    ex = df.select(
        group_col, F.posexplode(vec_col).alias("pos", "x")
    ).withColumn(
        "qx",
        F.round(F.col("x").cast("double") * FIXED_POINT_SCALE).cast("long"),
    )
    sums = ex.groupBy(group_col, "pos").agg(
        F.sum("qx").cast("long").alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    dims = sums.withColumn(
        "cv",
        F.col("s").cast("double")
        / (F.col("c") * FIXED_POINT_SCALE).cast("double"),
    )
    return dims.groupBy(group_col).agg(
        F.max("c").cast("long").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("centroid"),
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 10,
) -> DataFrame:
    """One deterministic Lloyd assignment step: each vector goes to the
    nearest of k seed centroids (the k lowest-``id_col`` vectors), with
    squared L2 computed in EXACT integer arithmetic.

    Floating-point distance sums are fold-order-dependent, so an argmin
    over them is not reproducible across engines or partitionings. Instead
    components quantize to round(x * 2^scale_bits) and the squared
    distance is an int64 sum (exact, order-independent), so the argmin —
    tie-broken by seed rank — is bit-stable anywhere. This is the
    assignment half of k-means; composing it with
    ``embedding_centroids(group_col='cluster')`` gives a full Lloyd
    iteration, reproducible end to end.

    Shape: seeds are k rows (broadcast); assignment is a narrow map over
    a k-element array fold per vector — no shuffle at all. The iterative
    driver loop is the same localCheckpoint pattern as connected
    components.

    Output: (id_col, cluster BIGINT, dist BIGINT) — dist in quantized
    squared units.
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * (1 << scale_bits)).cast("long"),
    )
    vecs = df.select(F.col(id_col), q.alias("qv"))
    # k lowest ids via TakeOrderedAndProject (no global sort); the rank
    # window then runs over k rows only — bounded, not data-sized
    w = Window.orderBy(id_col)
    seeds = (
        vecs.orderBy(F.col(id_col).asc())
        .limit(k)
        .withColumn("cluster", (F.row_number().over(w) - 1).cast("long"))
        .select("cluster", F.col("qv").alias("qc"))
    )
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qc"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = vecs.join(F.broadcast(seeds)).select(
        F.col(id_col), F.struct(dist.alias("d"), F.col("cluster").alias("c")).alias("sc")
    )
    best = scored.groupBy(id_col).agg(F.min("sc").alias("b"))
    return best.select(
        id_col,
        F.col("b.c").alias("cluster"),
        F.col("b.d").alias("dist"),
    )


def _quantized(vec_col: str, scale_bits: int) -> Column:
    """Fixed-point quantization of a vector column: round(x * 2^bits)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * (1 << scale_bits)).cast("long"),
    )


def _nearest_centroid(qv: Column, centroids: list[tuple[int, list[int]]]) -> Column:
    """struct(d, c) of the nearest centroid LITERAL by exact integer
    squared L2, ties to the lowest cluster id. Centroids are k small
    literal arrays baked into the plan — assignment is a narrow map with
    zero shuffles and zero joins (cheaper than even a broadcast join:
    nothing to build, nothing to probe)."""
    opts = []
    for cid, qc in centroids:
        lit_c = array_lit([int(v) for v in qc], "bigint", cache=False)
        d = F.aggregate(
            F.zip_with(qv, lit_c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        opts.append(F.struct(d.alias("d"), F.lit(int(cid)).cast("long").alias("c")))
    return F.array_min(F.array(*opts))


def _nearest_lists(qv: Column, centroids: list[tuple[int, list[int]]], nprobe: int) -> Column:
    """Array of the ``nprobe`` nearest centroid ids by exact integer
    squared L2, ordered nearest-first (ties to the lowest id) — the
    multi-probe generalization of ``_nearest_centroid``. Same k literal
    folds; the sort is over the k-element in-row array, not data."""
    opts = []
    for cid, qc in centroids:
        lit_c = array_lit([int(v) for v in qc], "bigint", cache=False)
        d = F.aggregate(
            F.zip_with(qv, lit_c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        opts.append(F.struct(d.alias("d"), F.lit(int(cid)).cast("long").alias("c")))
    ranked = F.slice(F.array_sort(F.array(*opts)), 1, nprobe)
    return F.transform(ranked, lambda s: s["c"])


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 10,
) -> list[tuple[int, list[int]]]:
    """Full deterministic Lloyd training loop; returns the trained
    centroids as ``[(cluster_id, quantized_components)]``.

    Every step is bit-reproducible across engines and partitionings:
    seeds are the k lowest-``id_col`` vectors; assignment is the exact
    integer-L2 argmin of ``kmeans_assign``; the centroid update keeps
    centroids ON the quantized grid — per-dimension integer sums (order
    independent), one IEEE division, and the rounding done IN Spark
    (``F.round``), never in driver Python, so a SQL oracle can replay
    the identical op sequence. An unrolled-CTE DuckDB mirror gates this
    end to end (registry: ``kmeans_iterations``, ``ann_ivf_topk``).

    Scale shape per iteration: the whole round runs as exploded
    (id, pos, x) element rows through codegen'd hash aggregates — the
    argmin is a broadcast equi-join on pos against the k*dim centroid
    element rows, never an interpreted per-row array fold (higher-order
    functions don't whole-stage-codegen; an aggregate(zip_with(...))
    literal fold measured ~3s per iteration at 5k x 64 x 8 where this
    shape is ~0.3s). The centroid update is one (cluster, pos) shuffle of
    k * dim rows after map-side partial agg, independent of input size;
    rounding happens IN Spark (``F.round``), never in driver Python. The
    driver reads back k * dim ints per round (bounded scalar read, same
    class as the connected-components convergence check); lineage does
    not grow with iterations because each round plans from the base
    frame plus a fresh tiny centroid frame. Converges early (and
    exactly) when the quantized centroids stop moving; a cluster that
    loses all members is dropped (both engines derive centroids only
    from present groups).
    """
    spark = df.sparkSession
    vecs = df.select(F.col(id_col).alias("_id"), _quantized(vec_col, scale_bits).alias("_qv"))
    seed_rows = vecs.orderBy(F.col("_id").asc()).limit(k).collect()
    cents = [(j, [int(v) for v in r["_qv"]]) for j, r in enumerate(seed_rows)]
    # persist the element rows across iterations: every round re-reads
    # them, and recomputing scan+quantize+explode per round costs more
    # than the (3-int-per-element) cache footprint at any scale
    ex = vecs.select("_id", F.posexplode("_qv").alias("_pos", "_x")).persist()
    try:
        cents = _kmeans_loop(spark, ex, cents, iters)
    finally:
        ex.unpersist()
    return cents


def _kmeans_loop(spark, ex, cents, iters):
    for _ in range(iters):
        cent_rows = spark.createDataFrame(
            [(int(cid), p, int(c)) for cid, qc in cents for p, c in enumerate(qc)],
            "_cl BIGINT, _pos INT, _c BIGINT",
        )
        diff = F.col("_x") - F.col("_c")
        scored = (
            ex.join(F.broadcast(cent_rows), "_pos")
            .groupBy("_id", "_cl")
            .agg(F.sum(diff * diff).alias("_d"))
        )
        best = scored.groupBy("_id").agg(
            F.min(F.struct(F.col("_d").alias("d"), F.col("_cl").alias("c")))["c"]
            .alias("_bc")
        )
        upd = (
            ex.join(best, "_id")
            .groupBy(F.col("_bc").alias("_cl"), F.col("_pos"))
            .agg(
                F.round(
                    F.sum("_x").cast("double") / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("_c")
            )
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in upd.collect():  # bounded: at most k * dim rows
            by_cluster.setdefault(int(r["_cl"]), {})[int(r["_pos"])] = int(r["_c"])
        new_cents = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cluster.items())
        ]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


def kmeans_centroids_df(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 10,
) -> DataFrame:
    """Trained centroid ELEMENT rows (_cl, _pos, _c) as a DataFrame with
    ZERO driver round-trips — the fused form of ``kmeans_train`` for
    small fixed ``iters`` (r11, guide §1.2/§2.6: each Lloyd round used
    to end in a bounded ``collect`` whose only purpose was to feed the
    next round's broadcast, so a 2-iteration training paid 3 sequential
    driver jobs before the consumer's action even started; here the
    rounds chain as in-plan broadcast aggregates and the consumer's one
    action runs everything).

    Identical values to ``kmeans_train`` for the same ``iters``: every
    step is the same exact integer/grid arithmetic; the early-exact-
    convergence break is dropped, which cannot change the result because
    a converged round's update recomputes the identical centroids (Lloyd
    on the quantized grid is idempotent at a fixed point — the property
    test trains 10 vs 20 iterations and gets equal centroids). Seeds are
    the k lowest-id vectors; the seed index is a row_number over a frame
    already truncated to k rows (bounded, single partition by design).
    Plan depth grows linearly with ``iters`` — use ``kmeans_train`` for
    long adaptive training, this for fixed shallow training inside a
    bigger query."""
    vecs = df.select(
        F.col(id_col).alias("_id"), _quantized(vec_col, scale_bits).alias("_qv")
    )
    # one eager materialization: the element rows feed 2*iters + 1
    # subtrees of the fused plan
    ex = vecs.select(
        "_id", F.posexplode("_qv").alias("_pos", "_x")
    ).localCheckpoint()
    seeds = (
        vecs.select("_id").orderBy(F.col("_id").asc()).limit(k)
        .withColumn(
            "_cl",
            (F.row_number().over(Window.orderBy(F.col("_id").asc())) - 1).cast(
                "long"
            ),
        )
    )
    cents = ex.join(F.broadcast(seeds), "_id").select(
        "_cl", "_pos", F.col("_x").alias("_c")
    )
    for _ in range(iters):
        diff = F.col("_x") - F.col("_c")
        scored = (
            ex.join(F.broadcast(cents), "_pos")
            .groupBy("_id", "_cl")
            .agg(F.sum(diff * diff).alias("_d"))
        )
        best = scored.groupBy("_id").agg(
            F.min(F.struct(F.col("_d").alias("d"), F.col("_cl").alias("c")))["c"]
            .alias("_bc")
        )
        cents = (
            ex.join(best, "_id")
            .groupBy(F.col("_bc").alias("_cl"), F.col("_pos"))
            .agg(
                F.round(
                    F.sum("_x").cast("double") / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("_c")
            )
        )
    return cents


def assign_nearest_join(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]] | DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 10,
) -> DataFrame:
    """Assignment against trained centroids as an exploded broadcast
    equi-join + codegen'd hash aggregates: (id, cluster BIGINT, dist
    BIGINT), dist in exact quantized squared units, ties to the lowest
    cluster id — bit-identical to the literal-fold form but JVM-compiled.
    Higher-order-function folds run interpreted (no whole-stage codegen),
    so the fold form pays ~µs per array element; this shape streams
    (id, pos, x) element rows through a broadcast join on pos against
    k * dim centroid element rows and two hash aggregations instead.
    Shuffle: one (id, cluster) partial-agg'd exchange — rows bounded by
    n * k after map-side combine, elements never shuffle.

    ``centroids`` may be the collected list (historical form) or the
    (_cl, _pos, _c) element-row DataFrame from ``kmeans_centroids_df``
    — the fused zero-collect path (r11)."""
    spark = df.sparkSession
    if isinstance(centroids, DataFrame):
        cent_rows = centroids
    else:
        cent_rows = spark.createDataFrame(
            [
                (int(cid), p, int(c))
                for cid, qc in centroids
                for p, c in enumerate(qc)
            ],
            "_cl BIGINT, _pos INT, _c BIGINT",
        )
    ex = df.select(
        F.col(id_col), F.posexplode(_quantized(vec_col, scale_bits)).alias("_pos", "_x")
    )
    diff = F.col("_x") - F.col("_c")
    best = (
        ex.join(F.broadcast(cent_rows), "_pos")
        .groupBy(id_col, "_cl")
        .agg(F.sum(diff * diff).alias("_d"))
        .groupBy(id_col)
        .agg(F.min(F.struct(F.col("_d").alias("d"), F.col("_cl").alias("c"))).alias("_b"))
    )
    return best.select(
        id_col, F.col("_b.c").alias("cluster"), F.col("_b.d").alias("dist")
    )


def kmeans_assign_trained(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 10,
) -> DataFrame:
    """Assignment against trained centroid literals: (id, cluster BIGINT,
    dist BIGINT). Zero shuffles — the argmin folds k literal arrays per
    row; dist is in quantized squared units like ``kmeans_assign``.
    Prefer ``assign_nearest_join`` when n * k * dim is large: the fold
    here is interpreted per element, the join form is codegen'd."""
    vecs = df.select(F.col(id_col), _quantized(vec_col, scale_bits).alias("_qv"))
    best = vecs.select(
        F.col(id_col), _nearest_centroid(F.col("_qv"), centroids).alias("_b")
    )
    return best.select(
        id_col, F.col("_b.c").alias("cluster"), F.col("_b.d").alias("dist")
    )


def _sub_l2(qv_slice: Column, qc: list[int]) -> Column:
    """Exact integer squared L2 between a quantized subvector column and a
    codebook centroid literal."""
    lit_c = array_lit([int(v) for v in qc], "bigint", cache=False)
    return F.aggregate(
        F.zip_with(qv_slice, lit_c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_train_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k_sub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 10,
) -> list[list[tuple[int, list[int]]]]:
    """Train the M product-quantization codebooks: split the dim-D vector
    into M contiguous subvectors and run the deterministic fixed-point
    Lloyd loop in every subspace. Centroids come back renumbered
    0..len-1 in ascending trained-cluster order so codes can index a
    positional lookup table even when a cluster emptied out during
    training (Lloyd drops memberless clusters).

    All M subspaces train JOINTLY in one distributed loop over exploded
    (id, subspace, pos, x) element rows: assignment is a broadcast
    equi-join on (subspace, pos) against the m * k_sub * (dim/m)
    centroid element rows feeding codegen'd hash aggregates (exact
    integer L2 per (id, subspace, candidate), then a min-struct argmin),
    and the centroid update is one (subspace, cluster, pos) shuffle with
    ONE bounded driver read per iteration — versus m separate training
    jobs with interpreted literal-array folds, which dominated wall
    clock. Per-row work never crosses subspaces, so the math is
    identical to training each subspace independently and the unrolled
    SQL oracle is unchanged. Early-exits exactly when no codebook moved
    (Lloyd fixed point, same result as per-book convergence).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    spark = corpus.sparkSession
    sub_len = dim // m
    qv = _quantized(vec_col, scale_bits)
    full = corpus.select(F.col(id_col).alias("_id"), qv.alias("_qv"))
    # (id, subspace, pos-in-subspace, element): one explode of the full
    # vector, subspace derived from the global position
    ex = full.select("_id", F.posexplode("_qv").alias("_gp", "_x")).select(
        "_id",
        (F.col("_gp") / sub_len).cast("int").alias("_s"),
        (F.col("_gp") % sub_len).cast("int").alias("_pos"),
        "_x",
    ).persist()  # every iteration re-reads the element rows
    seed_rows = full.orderBy(F.col("_id").asc()).limit(k_sub).collect()
    # original seed-rank cluster ids through training (tie-breaks and
    # dropped-cluster gaps must match per-subspace training / the SQL
    # oracle); renumber to positional codes only on return
    cents = [
        [
            (cid, [int(v) for v in r["_qv"][s * sub_len : (s + 1) * sub_len]])
            for cid, r in enumerate(seed_rows)
        ]
        for s in range(m)
    ]
    try:
        for _ in range(iters):
            cent_rows = spark.createDataFrame(
                [
                    (s, int(cid), p, int(c))
                    for s, book in enumerate(cents)
                    for cid, qc in book
                    for p, c in enumerate(qc)
                ],
                "_s INT, _cl BIGINT, _pos INT, _c BIGINT",
            )
            diff = F.col("_x") - F.col("_c")
            scored = (
                ex.join(F.broadcast(cent_rows), ["_s", "_pos"])
                .groupBy("_id", "_s", "_cl")
                .agg(F.sum(diff * diff).alias("_d"))
            )
            best = scored.groupBy("_id", "_s").agg(
                F.min(F.struct(F.col("_d").alias("d"), F.col("_cl").alias("c")))["c"]
                .alias("_bc")
            )
            upd = (
                ex.join(best, ["_id", "_s"])
                .groupBy("_s", F.col("_bc").alias("_cl"), F.col("_pos"))
                .agg(
                    F.round(
                        F.sum("_x").cast("double") / F.count(F.lit(1)).cast("double")
                    )
                    .cast("long")
                    .alias("_c")
                )
            )
            nested: dict[int, dict[int, dict[int, int]]] = {}
            for r in upd.collect():  # bounded: at most m * k_sub * sub_len rows
                nested.setdefault(int(r["_s"]), {}).setdefault(int(r["_cl"]), {})[
                    int(r["_pos"])
                ] = int(r["_c"])
            new_cents = [
                [
                    (cid, [dims[p] for p in sorted(dims)])
                    for cid, dims in sorted(nested.get(s, {}).items())
                ]
                for s in range(m)
            ]
            if new_cents == cents:
                break
            cents = new_cents
    finally:
        ex.unpersist()
    return [
        [(j, qc) for j, (_, qc) in enumerate(book)] for book in cents
    ]


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 4,
    k_sub: int = 8,
    n_lists: int = 8,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale_bits: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbour — the classic billion-scale
    ANN layout (coarse quantizer + product codes), built entirely from
    deterministic fixed-point arithmetic so the whole pipeline is
    bit-reproducible and SQL-oracle-checkable.

    Index side: a k-means coarse quantizer (``kmeans_train``) routes each
    vector to one of ``n_lists`` inverted lists; M per-subspace codebooks
    (``pq_train_codebooks``) compress the vector to M small codes. At 100
    TB this is the point: the search structure stores M small codes + a list id
    per vector instead of the raw floats (64 floats -> M codes), and
    candidate generation is an equi-join on list ids, never all-pairs.

    Query side: each query computes, per subspace, a lookup table of
    exact integer squared-L2 distances to all k_sub centroids (an M x
    k_sub literal fold — narrow, no shuffle, no join). Scoring a
    candidate is then asymmetric distance computation (ADC): sum of M
    table lookups by code — O(M) per pair instead of O(dim). The only
    shuffle is the broadcast list-equi-join; encode and LUT stages are
    zero-shuffle narrow maps over centroid literals.

    Output: (query_id, vec_id, adc_dist BIGINT, rank) — ascending ADC,
    ties to the lower vec_id, candidates from the query's ``nprobe``
    nearest lists (default 1 = own list, the oracle-gated form; lists
    partition the corpus so multi-probe candidates are disjoint),
    self-matches excluded.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_len = dim // m
    # The two training loops are independent given the corpus and each
    # is driver-paced (bounded collect per iteration), so run them as
    # concurrent Spark jobs from two threads — the scheduler interleaves
    # their small stages instead of serializing the driver round-trips.
    # Determinism is unaffected: the loops share nothing but the
    # read-only corpus frame.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_coarse = pool.submit(
            kmeans_train, corpus, k=n_lists, iters=train_iters, id_col=id_col,
            vec_col=vec_col, scale_bits=scale_bits,
        )
        f_books = pool.submit(
            pq_train_codebooks, corpus, dim, m=m, k_sub=k_sub,
            iters=train_iters, id_col=id_col, vec_col=vec_col,
            scale_bits=scale_bits,
        )
        coarse, books = f_coarse.result(), f_books.result()
    qv = _quantized(vec_col, scale_bits)

    # Corpus encode as ONE exploded broadcast-join + hash-agg pass
    # (codegen'd), not per-row interpreted literal folds: every centroid
    # element — the coarse quantizer tagged subspace -1 over global
    # positions, each PQ codebook over its in-subspace positions — joins
    # the element rows on (subspace, pos); exact integer L2 per
    # (id, subspace, candidate); min-struct argmin per (id, subspace);
    # one pivot agg emits (id, list, code_0..code_{m-1}). No id-to-id
    # join anywhere, so nothing can sort-merge.
    spark = corpus.sparkSession
    cent_elems = [
        (-1, int(cid), p, int(c))
        for cid, qc in coarse
        for p, c in enumerate(qc)
    ] + [
        (s, int(j), p, int(c))
        for s, book in enumerate(books)
        for j, qc in book
        for p, c in enumerate(qc)
    ]
    cent_rows = spark.createDataFrame(
        cent_elems, "_s INT, _cl BIGINT, _pos INT, _c BIGINT"
    )
    full = corpus.select(F.col(id_col), qv.alias("_qv"))
    elems = full.select(id_col, F.posexplode("_qv").alias("_gp", "_x"))
    ex = elems.select(
        id_col, F.lit(-1).alias("_s"), F.col("_gp").alias("_pos"), "_x"
    ).unionAll(
        elems.select(
            id_col,
            (F.col("_gp") / sub_len).cast("int").alias("_s"),
            (F.col("_gp") % sub_len).cast("int").alias("_pos"),
            "_x",
        )
    )
    diff = F.col("_x") - F.col("_c")
    best = (
        ex.join(F.broadcast(cent_rows), ["_s", "_pos"])
        .groupBy(id_col, "_s", "_cl")
        .agg(F.sum(diff * diff).alias("_d"))
        .groupBy(id_col, "_s")
        .agg(
            F.min(F.struct(F.col("_d").alias("d"), F.col("_cl").alias("c")))["c"]
            .alias("_bc")
        )
    )
    enc = best.groupBy(id_col).agg(
        F.max(F.when(F.col("_s") == -1, F.col("_bc"))).alias("_list"),
        *[
            F.max(F.when(F.col("_s") == s, F.col("_bc"))).alias(f"_c{s}")
            for s in range(m)
        ],
    )

    probe = (
        _nearest_centroid(F.col("_qv"), coarse)["c"]
        if nprobe == 1
        else F.explode(_nearest_lists(F.col("_qv"), coarse, nprobe))
    )
    qb = queries.withColumn("_qv", qv).withColumn("_list", probe)
    for s, book in enumerate(books):
        sub = F.slice(F.col("_qv"), s * sub_len + 1, sub_len)
        qb = qb.withColumn(
            f"_lut{s}", F.array(*[_sub_l2(sub, qc) for _, qc in book])
        )
    qb = qb.select(
        F.col(query_id_col), "_list", *[F.col(f"_lut{s}") for s in range(m)]
    )

    adc = None
    for s in range(m):
        term = F.element_at(F.col(f"_lut{s}"), (F.col(f"_c{s}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    scored = (
        enc.join(F.broadcast(qb), "_list")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, adc.cast("long").alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def save_centroids(
    spark, centroids: list[tuple[int, list[int]]], path: str
) -> None:
    """Persist trained centroids as a tiny parquet table
    (cluster BIGINT, qc ARRAY<BIGINT>) — the model artifact an offline
    training job hands to online assignment/search jobs. Quantized
    components round-trip exactly (they are integers), so a reloaded
    model reproduces assignments bit-for-bit."""
    spark.createDataFrame(
        [(int(cid), [int(v) for v in qc]) for cid, qc in centroids],
        "cluster BIGINT, qc ARRAY<BIGINT>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list[tuple[int, list[int]]]:
    """Inverse of save_centroids, ordered by cluster id (driver-side read
    of k rows — bounded, same class as the training convergence read)."""
    rows = spark.read.parquet(path).orderBy("cluster").collect()
    return [(int(r["cluster"]), [int(v) for v in r["qc"]]) for r in rows]


def save_pq_codebooks(
    spark, codebooks: list[list[tuple[int, list[int]]]], path: str
) -> None:
    """Persist PQ codebooks as (subspace, code, qc) rows."""
    spark.createDataFrame(
        [
            (s, int(code), [int(v) for v in qc])
            for s, book in enumerate(codebooks)
            for code, qc in book
        ],
        "subspace INT, code BIGINT, qc ARRAY<BIGINT>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str) -> list[list[tuple[int, list[int]]]]:
    rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
    books: dict[int, list[tuple[int, list[int]]]] = {}
    for r in rows:
        books.setdefault(int(r["subspace"]), []).append(
            (int(r["code"]), [int(v) for v in r["qc"]])
        )
    return [books[s] for s in sorted(books)]


# --- Johnson–Lindenstrauss random projection --------------------------------


def jl_signs(
    in_dim: int, out_dim: int, density: int = 6, salt: str = "jl"
) -> list[tuple[int, int, int]]:
    """Deterministic sparse Achlioptas projection matrix as nonzero
    (i, j, sign) entries: entry (i, j) is +1 / -1 / 0 with probability
    1/density, 1/density, 1 - 2/density, decided by an md5 of the cell
    coordinates (Achlioptas 2003, "Database-friendly random projections").
    Generated once in Python and embedded as the SAME literal in both
    engines — no runtime hash to mirror. The conventional sqrt(density/
    out_dim) scale factor is omitted: it is a constant per projection and
    downstream cosine / relative-distance uses are scale-invariant."""
    import hashlib

    entries: list[tuple[int, int, int]] = []
    for i in range(in_dim):
        for j in range(out_dim):
            h = int(hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()[:15], 16)
            r = h % density
            if r == 0:
                entries.append((i, j, 1))
            elif r == 1:
                entries.append((i, j, -1))
    return entries


def jl_project(
    df: DataFrame,
    signs: list[tuple[int, int, int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """Project a vector column to ``max(j)+1`` dimensions with a sparse
    sign matrix, in EXACT integer arithmetic: components quantize to
    fixed-point BIGINTs (round(x * 2^scale_bits)), so the per-output-dim
    sums are order-independent — the aggregation can shuffle freely and
    still oracle-check bit-for-bit (a double-sum version would depend on
    partial-agg order).

    Scale shape (100 TB): quantized components posexplode to (id, i, xq)
    and equi-join the BROADCAST nonzero sign entries (|signs| rows — a
    few hundred), then one codegen hash-agg by (id, j). No window, no
    driver reads; the one shuffle carries partial integer sums. Output:
    (id, out_dim, comp) rows, comp scaled by 2^scale_bits.
    """
    spark = df.sparkSession
    sm = spark.createDataFrame(signs, "i INT, j INT, s INT")
    scale = 1 << scale_bits
    # r12 (guide §1.2 step 2, the r11 #8 recipe): quantize AFTER the
    # posexplode as a top-level codegen expression — the transform()
    # lambda evaluated interpreted, per element. round(NULL * s) is NULL,
    # so the isNotNull filter drops exactly the rows the old
    # quantize-then-explode form dropped.
    ex = df.select(
        F.col(id_col),
        F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias("i", "_x"),
    ).select(
        id_col, "i", F.round(F.col("_x") * scale).cast("long").alias("xq")
    ).filter(F.col("xq").isNotNull())
    return (
        ex.join(F.broadcast(sm), "i")
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("s").cast("long") * F.col("xq")).cast("long").alias("comp"))
        .select(F.col(id_col), F.col("j").cast("long").alias("out_dim"), "comp")
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact one: |approx ∩ exact| / k over the (query, neighbor) id pairs.
    Both inputs are (query_id, vec_id, ...) top-k frames. The join is an
    equi-join on the pair key and the output is one row per query — the
    standard offline ANN quality gate, run on a bounded query sample, so
    the exact side's cost is O(sample x corpus), not corpus^2."""
    hits = exact.select(query_id_col, id_col).join(
        approx.select(query_id_col, id_col, F.lit(1).alias("_hit")),
        [query_id_col, id_col],
        "left",
    )
    return hits.groupBy(query_id_col).agg(
        F.count("_hit").cast("long").alias("n_hits"),
        (F.count("_hit").cast("double") / F.lit(float(k))).alias(f"recall_at_{k}"),
    )


def lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    plane_sets: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-table LSH top-k: candidates from the UNION of several
    hyperplane-bucket tables — the standard recall lever for sign-LSH
    (a near neighbor split from the query by one table's plane lands in
    the same bucket of another with independent probability). With
    plane_sets[0] equal to the single-table planes, the candidate set
    is a strict superset, so per-query recall is monotonically >= the
    single-table index (asserted in tests via recall_at_k).

    Scale shape: per table one bucket equi-join emitting only
    (query_id, id) pairs; the union dedups BEFORE vectors join back, so
    the 8-byte-pair stream — not the 64-double payload — pays the
    multi-table factor, and each surviving candidate is scored once.
    """
    cn = with_normalized(corpus, vec_col, "_cvec")
    qn = with_normalized(queries, vec_col, "_qvec")
    cand = None
    for planes in plane_sets:
        cb = cn.select(
            F.col(id_col),
            hyperplane_bucket(vec_col, planes).alias("_bucket"),
        )
        qb = qn.select(
            F.col(query_id_col),
            hyperplane_bucket(vec_col, planes).alias("_bucket"),
        )
        c = cb.join(F.broadcast(qb), "_bucket").select(query_id_col, id_col)
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.filter(F.col(query_id_col) != F.col(id_col)).distinct()
    scored = (
        cand.join(F.broadcast(qn.select(query_id_col, "_qvec")), query_id_col)
        .join(cn.select(F.col(id_col), "_cvec"), id_col)
        .select(
            query_id_col,
            id_col,
            dot(F.col("_qvec"), F.col("_cvec")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# PCA (top principal component) via exact fixed-point power iteration
# ---------------------------------------------------------------------------

PCA_SCALE_BITS = 20
PCA_SCALE = 1 << PCA_SCALE_BITS


def pca_moments(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 16,
) -> tuple[int, list[int], dict[tuple[int, int], int]]:
    """Quantized first/second moments of the first ``dims`` vector
    components — the bounded driver read PCA training needs.

    Components quantize to floor(x * 2^20) BIGINTs (NULL components
    count as 0, mirroring the projection's coalesce), then ONE pass
    computes per-dim sums and the upper-triangle Gram sums via an
    exploded self-join on the id whose (i, j) groupBy partial-aggregates
    map-side — the exchange carries ~dims^2 rows per partition, and the
    driver reads dims + dims*(dims+1)/2 + 1 values total regardless of
    corpus size (the FS-weights pattern). BIGINT Gram sums bound the
    corpus at ~3e7 rows for 64-dim unit-scale vectors; past that,
    re-quantize coarser or switch the sums to DECIMAL.

    Returns (n_vectors, sx[dims], {(i, j): sxy} for 0 <= i <= j < dims).
    """
    base = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) >= dims)
    ).select(
        F.col(id_col).alias("_id"),
        F.slice(F.col(vec_col).cast("array<double>"), 1, dims).alias("_v"),
    )
    # Materialize before the explode: base feeds the count AND the
    # element rows, and when the caller's vec_col is a DERIVED
    # expression, CollapseProject re-inlines it into the post-Generate
    # projection — re-evaluating the whole array per element (the r6
    # LSH lesson; measured 5.9x per-row on the stress harness's
    # rotated-vector corpus). The checkpoint is id + dims doubles.
    base = base.localCheckpoint()
    exq = base.select(
        "_id", F.posexplode_outer("_v").alias("i", "x")
    ).select(
        "_id",
        "i",
        F.coalesce(
            F.floor(F.col("x") * F.lit(PCA_SCALE)).cast("long"), F.lit(0)
        ).alias("xq"),
    )
    n = base.count()
    sx_rows = exq.groupBy("i").agg(F.sum("xq").alias("s")).collect()
    sx = [0] * dims
    for r in sx_rows:
        sx[r["i"]] = int(r["s"])
    a = exq.select(F.col("_id"), F.col("i").alias("ia"), F.col("xq").alias("xa"))
    b = exq.select(
        F.col("_id").alias("_id2"), F.col("i").alias("ib"), F.col("xq").alias("xb")
    )
    gram_rows = (
        a.join(b, (F.col("_id") == F.col("_id2")) & (F.col("ia") <= F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("sp"))
        .collect()
    )
    sxy = {(int(r["ia"]), int(r["ib"])): int(r["sp"]) for r in gram_rows}
    return n, sx, sxy


def pca_power_component(
    n: int,
    sx: list[int],
    sxy: dict[tuple[int, int], int],
    dims: int = 16,
    iters: int = 6,
) -> list[int]:
    """Fixed-point power iteration for the top principal component of
    the centered scatter matrix C = n*Gram - sx*sx^T, entirely in exact
    Python integers (the driver-side mirror the oracle unrolls as CTEs).

    Each step: u = C v; if max|u| = 0 the iterate is kept unchanged
    (zero matrix / exact-null-space tie — both engines keep the same
    vector); else v = floor(u * 2^20 / max|u|), so v is renormalized to
    max-component 2^20 and every operation is order-independent integer
    math. Sign/direction is pinned by the all-ones start."""
    C = [[0] * dims for _ in range(dims)]
    for i in range(dims):
        for j in range(i, dims):
            c = n * sxy.get((i, j), 0) - sx[i] * sx[j]
            C[i][j] = c
            C[j][i] = c
    v = [PCA_SCALE] * dims
    for _ in range(iters):
        u = [sum(C[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        m = max(abs(x) for x in u)
        if m == 0:
            continue  # keep v — mirrors the SQL CASE WHEN m = 0
        v = [(x * PCA_SCALE) // m for x in u]
    return v


def pca_project(
    df: DataFrame,
    component: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto a fixed-point principal component (the
    literal-weights scoring pass): proj = sum_i floor(x_i * 2^20) * v_i,
    NULL components contributing 0. The component rides as plan
    constants — one shuffle-free scan; the unrolled chain is dims small
    terms over the RAW scan column (not a derived array), which stays
    clear of the CollapseProject re-inlining trap noted in NOTES.

    Returns (id, proj_scaled BIGINT, proj_value DOUBLE = proj / 2^40)."""
    dims = len(component)
    base = df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) >= dims)).select(
        F.col(id_col),
        F.slice(F.col(vec_col).cast("array<double>"), 1, dims).alias("_vp"),
    )
    # materialized for the same derived-input re-inlining reason as
    # pca_moments: the unrolled chain references the vector 16 times
    base = base.localCheckpoint()
    vec_dbl = F.col("_vp")
    terms = [
        F.coalesce(
            F.floor(F.try_element_at(vec_dbl, F.lit(i + 1)) * F.lit(PCA_SCALE)).cast(
                "long"
            ),
            F.lit(0),
        )
        * F.lit(int(component[i]))
        for i in range(dims)
    ]
    proj = sum(terms[1:], terms[0])
    return base.select(
        F.col(id_col),
        proj.cast("long").alias("proj_scaled"),
        (proj.cast("double") / F.lit(float(1 << (2 * PCA_SCALE_BITS)))).alias(
            "proj_value"
        ),
    )


def hard_negatives_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the k
    most cosine-similar corpus vectors carrying a DIFFERENT label — the
    training-pair generator for contrastive/metric learning (easy
    negatives teach nothing; the informative ones sit just across the
    decision boundary, i.e. high similarity + wrong label).

    Same shape as brute_force_topk (broadcast query set x distributed
    corpus scan, per-query WindowGroupLimit top-k) with the label
    disagreement filter applied BEFORE the dot product so same-label
    pairs never pay the similarity math. NULL labels never match
    ``!=`` on either engine, so unlabeled corpus rows are excluded
    deterministically. At index scale, swap the brute-force inner join
    for lsh_topk candidates and keep the label filter — the mining
    logic is unchanged.
    """
    q = with_normalized(queries, vec_col, "_qvec").select(
        query_id_col, F.col(label_col).alias("_qlabel"), "_qvec"
    )
    c = with_normalized(corpus, vec_col, "_cvec").select(id_col, label_col, "_cvec")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col(query_id_col) != F.col(id_col))
            & (F.col(label_col) != F.col("_qlabel"))
        )
        .select(
            query_id_col,
            id_col,
            F.col(label_col),
            dot(F.col("_qvec"), F.col("_cvec")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def negative_samples(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    salt: str = "neg",
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training:
    for every anchor id, ``k`` pseudo-random partner ids drawn by hash
    arithmetic over a dense rank of the id space — the random-negative
    complement of hard_negatives_topk (training batches typically mix
    both).

    Mechanics: rank every id once (dense, 0-based), map each
    (anchor, j) to candidate rank md5(anchor:j:salt) % n, and join rank
    -> id back. Everything is the shared md5 kernel plus integer mod —
    reproducible by any SQL engine and stable across runs/partitions,
    which is what makes sampled training sets auditable. Anchors drawn
    as their own negative are dropped (a deterministic, mirrorable
    rule). The rank is ANY deterministic bijection rank <-> id, so it
    uses the hash order (md5(id), id) and the distributed two-phase
    prefix-rank (ranks.hash_order_prefix) — never a global-order
    window, which would funnel the whole id table through one task;
    the join back is a plain equi-join.

    Returns (id, j, neg_id) with j in [0, k).
    """
    from ..ranks import hash_order_prefix
    from .dedup import md5_long

    if k < 1:
        raise ValueError(f"negative_samples needs k >= 1, got {k}")
    # NULL ids are excluded EXPLICITLY (oracle mirror: WHERE vec_id IS
    # NOT NULL) — hash_order_prefix itself keeps NULL ids (hashes '' )
    # since r10, so the exclusion must be this operator's own rule
    ids = df.select(F.col(id_col)).filter(F.col(id_col).isNotNull()).distinct()
    ranked = hash_order_prefix(
        ids.withColumn("_w", F.lit(1).cast("long")), "_w", id_col, salt=salt + "-rank"
    ).select(F.col(id_col), (F.col("cum") - 1).cast("long").alias("_rank"))
    n_row = ranked.select(F.count(F.lit(1)).alias("_n"))
    anchors = (
        ranked.select(id_col)
        .crossJoin(F.broadcast(n_row))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
            F.col("_n"),
        )
        .select(
            F.col(id_col),
            F.col("j").cast("long").alias("j"),
            (
                md5_long(
                    F.concat_ws(
                        ":", F.col(id_col).cast("string"), F.col("j").cast("string"), F.lit(salt)
                    )
                )
                % F.col("_n")
            ).alias("_cand"),
        )
    )
    neg = ranked.select(
        F.col("_rank").alias("_cand"), F.col(id_col).alias("neg_id")
    )
    return (
        anchors.join(neg, "_cand")
        .filter(F.col(id_col) != F.col("neg_id"))
        .select(id_col, "j", "neg_id")
    )


def bitext_mine(
    side_a: DataFrame,
    side_b: DataFrame,
    planes: list[list[float]] | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019): mutual
    nearest neighbors between two embedding sides (two languages, two
    crawl snapshots), scored by the margin of the match over each
    side's next-best candidates — the standard parallel-corpus miner,
    here over LSH-bucketed candidates so neither side ever cross-joins
    the other (the all-pairs form is exactly what dies first at 100 TB;
    recall is the single-table LSH rate, measured by ann_recall_eval's
    machinery, and more tables/probes raise it the usual way).

    Per side: rank candidates by (cosine DESC, id ASC) inside a
    PARTITIONED window (WindowGroupLimit prunes to the top 3 before the
    exchange), pivot ranks 1..3 into fixed columns so the margin
    denominator is a FIXED-ORDER float sum (a float SUM over a group is
    shuffle-order-dependent — parity killer), and keep pairs where each
    endpoint is the other's rank-1. margin = cos * n_neighbors / (c1 +
    c2 + c3) over the available neighbors; NULL when the denominator is
    not positive (possible with negative cosines).

    Returns (id_a, id_b, cosine_sim, n_nb_a, n_nb_b, margin_a,
    margin_b).

    ``planes=None`` (the default) sizes the plane count to the corpus
    via ``auto_sign_planes`` (larger side's row count, first vector's
    dim — two bounded driver reads), so the scale-safe path is the one
    you get by not thinking; pass explicit planes only when a pinned
    bucket layout matters (the oracle-mirrored gate query does).
    """
    if planes is None:
        n = max(side_a.count(), side_b.count())
        probe = side_a.select(F.size(F.col(vec_col)).alias("d")).first()
        if probe is None or probe["d"] is None:
            raise ValueError("bitext_mine: cannot infer dim from an empty side_a")
        planes = auto_sign_planes(n, dim=int(probe["d"]))
    if not planes:
        # an empty plane set makes every vector share bucket 0 — the
        # all-pairs cross join this operator exists to avoid
        raise ValueError("bitext_mine: planes must be non-empty")
    # localCheckpoint the normalized sides: the normalized vector is a
    # DERIVED column (transform(v, x/nrm)), and CollapseProject inlines
    # it into the interpreted dot lambda PER ELEMENT after the join —
    # measured ~190 us/candidate-pair at K=100 vs ~6 us with the
    # checkpointed attribute form (the r6 derived-vector lesson)
    an = with_normalized(side_a, vec_col, "_av").select(
        F.col(id_a),
        hyperplane_bucket(vec_col, planes).alias("_bk"),
        "_av",
    ).localCheckpoint(eager=False)
    bn = with_normalized(side_b, vec_col, "_bv").select(
        F.col(id_b),
        hyperplane_bucket(vec_col, planes).alias("_bk"),
        "_bv",
    ).localCheckpoint(eager=False)
    cand = an.join(bn, "_bk").select(
        id_a, id_b, dot(F.col("_av"), F.col("_bv")).alias("cos")
    )

    def _side(df: DataFrame, key: str, other: str, tag: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.col("cos").desc(), F.col(other).asc())
        r = df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= 3)
        return r.groupBy(key).agg(
            F.max(F.when(F.col("_rk") == 1, F.col(other))).alias(f"best_{tag}"),
            F.max(F.when(F.col("_rk") == 1, F.col("cos"))).alias(f"c1_{tag}"),
            F.max(F.when(F.col("_rk") == 2, F.col("cos"))).alias(f"c2_{tag}"),
            F.max(F.when(F.col("_rk") == 3, F.col("cos"))).alias(f"c3_{tag}"),
            F.count(F.lit(1)).cast("long").alias(f"n_nb_{tag}"),
        )
    ta = _side(cand, id_a, id_b, "a")
    tb = _side(cand, id_b, id_a, "b")
    mutual = ta.join(
        tb,
        (F.col(f"best_a") == F.col(id_b)) & (F.col(f"best_b") == F.col(id_a)),
    )

    def _margin(tag: str):
        denom = (
            F.col(f"c1_{tag}")
            + F.coalesce(F.col(f"c2_{tag}"), F.lit(0.0))
            + F.coalesce(F.col(f"c3_{tag}"), F.lit(0.0))
        )
        return F.when(
            denom > 0,
            F.col(f"c1_{tag}") * F.col(f"n_nb_{tag}").cast("double") / denom,
        )

    return mutual.select(
        F.col(id_a),
        F.col(id_b),
        F.col("c1_a").alias("cosine_sim"),
        F.col("n_nb_a"),
        F.col("n_nb_b"),
        _margin("a").alias("margin_a"),
        _margin("b").alias("margin_b"),
    )


def auto_sign_planes(n: int, dim: int, target_bucket: int = 1250) -> list[list[float]]:
    """Hyperplane count sized to the corpus — the sign-LSH analog of
    auto_lsh_params: fixed plane counts make in-bucket candidate pairs
    grow ~n^2/2^planes (measured 24x CPU for 5x data on bitext_mine at
    4 planes), so planes grow with log2(n / target_bucket) to hold the
    expected bucket size (and therefore per-row candidate work) roughly
    constant. Floor of 4 keeps gate-scale behavior identical to the
    fixed-plane form."""
    import math as _m

    num = max(4, int(_m.ceil(_m.log2(max(n, 1) / float(target_bucket))))) if n > target_bucket else 4
    return deterministic_planes(num_planes=num, dim=dim)


def pca_variance_report(
    n: int,
    sx: list[int],
    sxy: dict[tuple[int, int], int],
    component: list[int],
    dims: int = 16,
) -> dict[str, int]:
    """Variance-explained report for a power-iterated component — the
    eval leg of the PCA family (train: pca_moments/pca_power_component;
    score: pca_project; EVAL: this): the Rayleigh quotient
    lambda1 = v'Cv / v'v of the centered scatter matrix C (exact
    integers, C is PSD by construction so every quantity is
    non-negative) and the explained-variance share vs trace(C).

    Floors are two-step (lambda first, then the ppm ratio) so both
    engines compute the identical value without the 1e6 * v'Cv product
    ever forming (it could exceed HUGEINT's 2^127 on a wide corpus);
    lambda/trace are emitted e20-scaled (// 2^20) to stay BIGINT-safe.
    All driver-side exact Python ints over the bounded moments read."""
    C = [[0] * dims for _ in range(dims)]
    for i in range(dims):
        for j in range(i, dims):
            c = n * sxy.get((i, j), 0) - sx[i] * sx[j]
            C[i][j] = c
            C[j][i] = c
    trace = sum(C[i][i] for i in range(dims))
    v = component
    vCv = sum(C[i][j] * v[i] * v[j] for i in range(dims) for j in range(dims))
    vv = sum(x * x for x in v)
    lam = vCv // vv if vv > 0 else 0  # vCv >= 0 (PSD): // == floor
    explained_ppm = (1_000_000 * lam) // trace if trace > 0 else 0
    return {
        "n_vectors": n,
        "lambda1_e20": lam // PCA_SCALE,
        "trace_e20": trace // PCA_SCALE,
        "explained_ppm": explained_ppm,
    }

"""Scalar int8 embedding quantization — per-dimension min/max codes.

The storage/bandwidth operator for embedding corpora at 100 TB: a
64-dim float32 vector (256 B) becomes 64 uint8 codes (64 B) plus one
shared 64-row codebook of per-dimension (min, max). Standard scalar
quantization (FAISS's SQ8 shape): code = floor((x - mn) * 255 / (mx -
mn)) clamped to [0, 255]; decode to the bucket midpoint.

Determinism, hence oracle parity: inputs widen float32 -> float64
exactly; per-dimension mn/mx are SELECTIONS of existing values (exact);
the encode chain is the same three IEEE ops in the same order on both
engines; code assembly orders by dimension explicitly. No tolerance
band needed.

Scale shape: the codebook is an explode + groupBy over dim positions —
output bounded by the dimension count — then broadcast back; encode is
one more explode/groupBy-id pass (the shuffle carries (id, pos, code)
rows, collapsing to one codes-array row per vector). At 100 TB the
codebook pass is the only full scan before the rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..litcache import array_lit

Q_LEVELS = 255  # codes 0..255


def _exploded(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        id_col,
        F.posexplode_outer(F.col(vec_col).cast("array<double>")).alias(
            "pos", "x"
        ),
    ).filter(F.col("x").isNotNull())


def embedding_codebook(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(pos, mn, mx) per dimension — the shared quantization codebook.
    Bounded output (one row per dimension); persist next to the codes."""
    return (
        _exploded(emb, id_col, vec_col)
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )


def quantize_embeddings(
    emb: DataFrame,
    codebook: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<bigint>, max_abs_err double): int8 codes per
    vector plus the vector's worst-dimension reconstruction error
    against the midpoint decode. Constant dimensions (mx = mn) encode
    as 0 with zero error."""
    cb = codebook if codebook is not None else embedding_codebook(
        emb, id_col, vec_col
    )
    ex = _exploded(emb, id_col, vec_col).join(F.broadcast(cb), "pos")
    coded = ex.select(
        id_col,
        "pos",
        "x",
        "mn",
        "mx",
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(Q_LEVELS).cast("long"),
                F.floor(
                    (F.col("x") - F.col("mn"))
                    * F.lit(float(Q_LEVELS))
                    / (F.col("mx") - F.col("mn"))
                ).cast("long"),
            )
        )
        .alias("code"),
    )
    # midpoint decode for the error column — same op order as the oracle
    decoded = coded.withColumn(
        "xhat",
        F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
            F.col("mn")
            + (F.col("code").cast("double") + F.lit(0.5))
            * (F.col("mx") - F.col("mn"))
            / F.lit(float(Q_LEVELS))
        ),
    )
    return (
        decoded.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "code"))
                ),
                lambda s: s["code"],
            ).alias("codes"),
            F.max(F.abs(F.col("x") - F.col("xhat"))).alias("max_abs_err"),
        )
    )


def dequantize_expr(codes_col: str, cb_mn: list, cb_mx: list):
    """Midpoint decode of a codes array against a collected codebook
    (bounded: dimension-count rows) baked in as plan-constant literal
    arrays — the read path for scoring against quantized corpora.
    Mind NOTES' higher-order-function caveats: the lambda body is a few
    scalar ops over literals, the acceptable HOF case."""
    mn = array_lit([float(v) for v in cb_mn], "double", cache=False)
    mx = array_lit([float(v) for v in cb_mx], "double", cache=False)

    def _decode(c, i):
        lo = F.try_element_at(mn, i + 1)
        hi = F.try_element_at(mx, i + 1)
        return F.when(hi == lo, lo).otherwise(
            lo
            + (c.cast("double") + F.lit(0.5))
            * (hi - lo)
            / F.lit(float(Q_LEVELS))
        )

    return F.transform(F.col(codes_col), _decode)

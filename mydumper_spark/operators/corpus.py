"""Corpus-level text preparation for training pipelines: token-window
document chunking, fixed-budget sequence packing, and global
(cross-document) duplicate line/block removal.

Scale shapes:

- **Chunking** is a per-row array computation (split → windowed slices →
  posexplode): zero shuffles, whole-stage codegen, output rows ∝ input
  tokens / stride. The training-sequence builder this feeds is a plain
  repartition of already-small chunks.

- **Global line dedup** is the C4/RefinedWeb rule "a line that occurs more
  than once in the corpus is kept only at its first occurrence". Exact
  global dedup is irreducibly a corpus-wide exchange: exploded lines
  shuffle ONCE on the line value (corpus bytes cross the wire exactly
  once — same as C4's implementation), then the survivors reassemble on
  doc_id. The arbiter ("first" = smallest (doc_id, position)) is a total
  order, so the result is deterministic under any partitioning; the
  window state per line group is one row_number counter, so skewed lines
  (boilerplate repeated millions of times) cost sort, not memory. A
  recall-relaxed variant could shuffle 8-byte line hashes instead and
  re-verify, trading a second pass for 10-100× less wire volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mydumper_spark.operators.dedup import tokens
from mydumper_spark.util import packed_key


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into token windows of ``max_tokens`` with
    ``overlap`` tokens of context carried between consecutive chunks —
    (id, chunk_id, chunk_text, n_tokens). Empty documents yield no chunks.

    Stride = max_tokens - overlap; the final chunk may be shorter. A start
    past ``n - 1 - overlap`` would emit only tokens already present as the
    previous chunk's overlap tail (pure duplicate training content), so
    starts are bounded at the last index that contributes a new token. All
    array expressions; one posexplode, no shuffle."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    # materialize the token array once (no CSE for array expressions —
    # unbound, the slice inside the transform would re-split the text per
    # chunk window)
    staged = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).where(F.size("__toks") > 0)
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1 - overlap, F.lit(0)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(" ", F.slice(toks, s + 1, max_tokens)).alias("chunk_text"),
            F.least(n - s, F.lit(max_tokens)).alias("n_tokens"),
        ),
    )
    exploded = staged.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "c")
    )
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").cast("bigint").alias("n_tokens"),
    )


def pack_sequences(
    chunks: DataFrame,
    budget_tokens: int = 2048,
    id_col: str = "doc_id",
    chunk_id_col: str = "chunk_id",
    text_col: str = "chunk_text",
    n_col: str = "n_tokens",
    n_shards: int | None = None,
) -> DataFrame:
    """Pack chunk rows into fixed-budget training sequences — the last
    stage of the corpus pipeline (dedup → gates → chunk → **pack**).

    Deterministic contiguous-fill: chunks are taken in (doc, chunk) order
    and a sequence closes when the running token total passes the budget —
    ``seq_id = floor(pre_chunk_cumsum / budget)``, so every sequence
    (except the final remainder) fills to within one chunk's tokens of the
    budget on either side (bounded by the chunking ``max_tokens``,
    ≪ budget). The scalable stand-in for greedy bin packing, which is
    inherently sequential.

    **Set** ``n_shards`` **at scale.** The prefix sum with no shard column
    is a single-partition window (Spark moves every chunk row to one task
    — fine at fixture scale, a wall at 100 TB). With ``n_shards``, docs
    hash into shards, each shard packs independently in parallel, and
    sequence ids are disjoint across shards (``shard * 2^40 + local``).
    Cost of sharding: at most one underfilled remainder sequence per shard
    — waste ≤ n_shards × budget tokens, negligible against any corpus that
    needed sharding in the first place.

    Returns (seq_id, text, n_tokens, n_chunks)."""
    # exact long floor division ("div"), NOT double / then cast: past 2^53
    # cumulative tokens the float quotient loses integer precision and can
    # misassign boundary chunks — exactly the scale this operator targets
    bucket = F.expr(f"`__pre` div {int(budget_tokens)}")
    if n_shards:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
        w = Window.partitionBy("__shard").orderBy(
            F.col(id_col).asc(), F.col(chunk_id_col).asc()
        )
        chunks = chunks.withColumn("__shard", shard)
        seq = F.col("__shard") * F.lit(1 << 40) + bucket
    else:
        w = Window.orderBy(F.col(id_col).asc(), F.col(chunk_id_col).asc())
        seq = bucket
    with_cum = chunks.withColumn(
        "__pre",
        F.coalesce(
            F.sum(n_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("__seq", seq)
    return (
        with_cum.groupBy(F.col("__seq").alias("seq_id"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(id_col).alias("d"),
                                F.col(chunk_id_col).alias("c"),
                                F.col(text_col).alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
            ).alias("text"),
            F.sum(n_col).cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        )
    )


def _mark_first_occurrence(
    units: DataFrame,
    id_col: str,
    unit_col: str,
    arbiter: str,
    keep_blank: bool = True,
) -> DataFrame:
    """Add a boolean ``keep`` column: True iff this row is the first
    occurrence (smallest (id, pos)) of its unit value — the shared arbiter
    of the line/paragraph/block dedup ladder. ``arbiter="agg"`` computes
    first occurrence as a hash aggregate over a packed (id, pos) key
    (:func:`mydumper_spark.util.packed_key`), joined back
    (map-side partials; the join is AQE-skew-splittable — measured 18s vs
    26s against the window on one unit value repeated 8M times, and on a
    real cluster the window's skewed partition caps at one task);
    ``arbiter="window"`` is the row_number form the DuckDB oracles replay,
    ~20% faster on balanced corpora (one less exchange).

    NULL-``unit`` rows (unreachable from current call sites — units come
    from coalesced split/concat_ws, never NULL) are kept as singletons
    under ``arbiter="agg"`` since the r14 dup-only join-back: the left
    join leaves ``__c`` NULL and the singleton branch marks keep=True
    (the pre-r14 inner join silently dropped them). Callers that can
    produce NULL units and want them dropped must filter explicitly."""
    blank = (F.trim(F.col(unit_col)) == "") if keep_blank else F.lit(False)
    if arbiter == "agg":
        # min over a packed (id, pos) key: a HashAggregate where
        # min(struct) sorts every (unit, id, pos) row per partition. pos ∈
        # [0, 2^31) at every call site (posexplode / sequence indices); id
        # is any bigint or NULL (a non-integral id takes the struct
        # fallback). The min decodes to the exact (d, p) pair, so keep and
        # its NULL propagation equal the min(struct) form — pinned by
        # test_first_occurrence_packed_arbiter_matches_struct_min.
        key, decode = packed_key(
            units, [(id_col, -2**63, 2**63 - 1), ("pos", 0, 2**31 - 1)])
        first = units.groupBy(unit_col).agg(
            F.min(key).alias("__fm"), F.count(F.lit(1)).alias("__c"))
        fd, fp = decode(F.col("__fm"))
        # The join-back ships only DUPLICATED units (count > 1): a
        # singleton unit's winner is the row itself, so pruning `first`
        # to dup units keeps the join side proportional to the
        # boilerplate fraction instead of every distinct unit — AQE
        # broadcasts it on dup-light corpora and the units side then
        # crosses the wire ONCE (the groupBy input), not twice (r14;
        # guide §2.3/2.4). NULL-id singletons keep a NULL keep: the when()
        # below reproduces the NULL the equality gives in a joined-back
        # form, so both agree row for row.
        first_dups = first.where(F.col("__c") > 1).select(
            unit_col, fd.alias("__fd"), fp.alias("__fp"), "__c")
        keep = blank | F.when(
            F.col("__c").isNull(),
            F.when(F.col(id_col).isNotNull(), F.lit(True)),
        ).otherwise((F.col(id_col) == F.col("__fd"))
                    & (F.col("pos") == F.col("__fp")))
        return (units.join(first_dups, unit_col, "left")
                .withColumn("keep", keep).drop("__fd", "__fp", "__c"))
    if arbiter == "window":
        w = Window.partitionBy(unit_col).orderBy(
            F.col(id_col).asc(), F.col("pos").asc()
        )
        return units.withColumn("keep", blank | (F.row_number().over(w) == 1))
    raise ValueError(f"unknown arbiter {arbiter!r}; use 'agg' or 'window'")


def dedup_token_blocks_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 32,
    arbiter: str = "agg",
) -> DataFrame:
    """Corpus-wide duplicate token-block removal — the token-granularity
    sibling of :func:`dedup_lines_global` and a Spark-sane approximation of
    exact-substring training-data dedup (suffix-array dedup restricted to
    aligned ``block_tokens`` windows): every distinct block value survives
    only at its first occurrence (smallest (doc_id, position)); documents
    are reconstructed from surviving blocks in order. Empty documents yield
    no output row.

    Returns (id, clean_text, n_kept, n_removed).

    Scale shape: identical to line dedup — blocks shuffle ONCE on the block
    value (corpus tokens cross the wire exactly once), the first-occurrence
    arbiter is a total order so the result is partitioning-independent, and
    a block repeated millions of times costs sort, not memory."""
    # bind the token array ONCE as a projected column before the lambda
    # reads it — Catalyst does not CSE into lambda scopes, so the inline
    # `tokens(text)` form re-ran the whole lowercase+split per BLOCK
    # (the winnow_from_hashes rule; r14: ~10× redundant splitting on a
    # 300-token document)
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(block_tokens))
    blocks = base.where(n > 0).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.concat_ws(" ", F.slice(toks, s + 1, block_tokens)),
            )
        ).alias("pos", "block"),
    )
    ranked = _mark_first_occurrence(blocks, id_col, "block", arbiter,
                                    keep_blank=False)
    return ranked.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "block")))
                ),
                lambda s: s["block"],
            ),
        ).alias("clean_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("bigint").alias("n_removed"),
    )


def dedup_paragraphs_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    arbiter: str = "agg",
) -> DataFrame:
    """Corpus-wide duplicate-paragraph removal — the middle rung of the
    dedup granularity ladder (line → **paragraph** → aligned token block →
    document). Paragraphs split on blank lines (``\\n\\n``); every
    non-empty paragraph value survives only at its first occurrence
    (smallest (doc_id, position)), and documents rejoin their survivors
    with blank-line separators. Same single-exchange scale shape as
    :func:`dedup_lines_global`.

    Returns (id, clean_text, n_kept, n_removed)."""
    # NULL text = empty page (the repo-wide rule): coalesce before the
    # split, or posexplode(NULL) silently DROPS the document while an
    # ''-text sibling survives as one empty paragraph
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n\n+")
        ).alias("pos", "line"),
    )
    ranked = _mark_first_occurrence(paras, id_col, "line", arbiter)
    return (
        ranked.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("clean_text"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("bigint").alias("n_removed"),
        )
    )


def dedup_lines_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    arbiter: str = "agg",
) -> DataFrame:
    """Corpus-wide duplicate-line removal: every non-empty line value
    survives only at its first occurrence (smallest (doc_id, position));
    empty lines always survive (they carry paragraph structure, and
    deduplicating them would merge unrelated paragraphs).

    Two arbiter implementations, identical results (pytest-pinned):

    - ``"agg"`` (default): first occurrence = min of a packed (id, pos) key,
      a hash AGGREGATE per line value, joined back to mark survivors. Map-side
      partial aggregation means only per-(task, line) partial minima cross
      the wire for the arbiter; corpus bytes cross once, for the join —
      and a join, unlike a window, is AQE-skew-splittable. Measured on one
      boilerplate line repeated 8M times: agg 18s vs window 26s at
      local[32], and on a real cluster the window's skewed partition caps
      at ONE task while the join splits. The shape you want at 100 TB.
    - ``"window"``: the original row_number-over-line-partition form — one
      exchange + per-group sort. ~20% faster on BALANCED corpora (3.9s vs
      4.8s on the 1.6 GB rehearsal corpus — one less exchange), and the
      shape the DuckDB oracle replays; choose it when line frequencies are
      known to be tame.

    Returns (id, clean_text, n_kept, n_removed) with surviving lines
    rejoined in original order."""
    # NULL text = empty page (the repo-wide rule): coalesce before the
    # split — posexplode(NULL) would silently DROP the document while an
    # ''-text sibling survives as one empty line
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    ranked = _mark_first_occurrence(lines, id_col, "line", arbiter)
    return (
        ranked.groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("clean_text"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("bigint").alias("n_removed"),
        )
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4 page cleaning (Raffel et al. 2020, §2.2): keep only lines that end
    in a terminal punctuation mark (``. ! ? "``) AND contain at least
    ``min_words_per_line`` words; a page survives (``page_ok = 1``) only if
    it retains at least ``min_lines`` such lines and contains neither
    ``lorem ipsum`` nor a ``{`` anywhere (the paper's code/placeholder
    tells). Returns (id, clean_text, n_lines_kept, page_ok).

    Line retention and the page gate are a single codegen projection over
    the line array — zero shuffles, no Python; at 100 TB this runs inside
    the scan stage. The blocklist word filter the paper also applies is
    :func:`blocklist_filter` (a separate stage on purpose: the list is a
    policy input, the line grammar is not).
    """
    c0 = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty page
    # materialize the kept-line array once (no CSE for array expressions;
    # it feeds array_join AND two size() reads — 3× the line filtering on
    # KB-sized real documents otherwise)
    staged = df.select(
        F.col(id_col),
        c0.alias("__c"),
        F.filter(
            F.split(c0, "\n"),
            lambda l: F.trim(l).rlike('[.!?"]$')
            & (
                F.size(F.filter(F.split(F.trim(l), r"\s+"),
                                lambda w: w != F.lit("")))
                >= min_words_per_line
            ),
        ).alias("__kept"),
    )
    kept = F.col("__kept")
    c = F.col("__c")
    n_kept = F.size(kept).cast("bigint")
    page_ok = (
        (n_kept >= min_lines)
        & ~F.lower(c).contains("lorem ipsum")
        & ~c.contains("{")
    )
    return staged.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        n_kept.alias("n_lines_kept"),
        page_ok.cast("int").alias("page_ok"),
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    arbiter: str = "agg",
    hash_prejoin: bool = True,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): any token
    span of length ``k`` whose text occurs more than once in the corpus is
    excised everywhere EXCEPT its globally-first occurrence (smallest
    (doc_id, start)); documents are rebuilt from their surviving tokens.
    Unlike :func:`dedup_token_blocks_global` (aligned windows), the k-gram
    start positions here SLIDE, so a duplicated passage is caught at any
    token offset — the suffix-array semantics, re-expressed relationally.
    Returns (id, clean_text, n_tokens_kept, n_tokens_removed); documents
    shorter than ``k`` tokens pass through unchanged.

    Scale shape (r14 restructure; results pinned bit-identical to the
    pre-r14 join form): the tokenized base — (id, token array, n, and
    under ``hash_prejoin`` the per-position k-gram xxhash64 array, hashed
    over the token SLICE so no gram string is ever built corpus-wide) —
    is localCheckpointed ONCE and every downstream pass reads the
    materialized arrays instead of re-running scan+tokenize (the minhash
    precedent; pre-r14 the gram construction re-ran up to 4×). The
    corpus-wide exchange carries 8-byte hash keys with map-side count
    partials; gram TEXT is built only for the duplicated sliver, per doc
    inside one ``transform`` (never one row per candidate carrying the
    whole token array). The hash only prunes — the arbiter still groups
    on gram text, so a collision merely creates a false candidate that
    the exact grouping separates: bit-identical to ``hash_prejoin=False``
    (pinned in tests). Excision is per-doc array arithmetic: covered
    token indices aggregate to one sorted int array per affected doc
    (sliver-sized exchange, AQE-broadcast joined back), and documents are
    rebuilt with ``array_except`` over the index domain + ``element_at``
    — O(n + c) per doc via array_except's hash-set build, replacing the
    pre-r14 corpus-wide (id, tok_idx) sort-merge anti-join + collect_list
    regroup (two full shuffles of every token, measured ~40% of the
    operator at sf0.1). First-occurrence arbitration stays the ladder's
    skew-splittable packed-key min aggregate.
    """
    from mydumper_spark.util import ensure_min_partitions

    # the sliding-gram hash (one k-token slice hash per token) is the
    # heaviest scan-side work in the corpus ladder — spread a single-row-
    # group source before it (guide §2.5; no-op on well-split tables).
    # Prune to the two consumed columns first: the full-row spread key
    # defeats column pruning through the exchange (guide §2.3; r14)
    df = ensure_min_partitions(df.select(id_col, text_col))
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))  # NULL = empty
    base_cols = [F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n")]
    n = F.col("__n")
    if hash_prejoin:
        # per-position gram hashes from the token slices directly — equal
        # gram text ⇔ equal token slice (tokens cannot contain the joiner
        # whitespace), so slice-hash equality ≡ gram-string-hash equality
        # as a candidate filter
        base_cols.append(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda s: F.xxhash64(F.slice(F.col("__toks"), s + 1, k)),
                ),
            ).otherwise(F.array().cast("array<bigint>")).alias("__hs")
        )
        base = df.select(base_cols[:3]).select("*", base_cols[3])
    else:
        base = df.select(base_cols)
    # materialize tokenize+hash ONCE: five downstream passes (dup-hash agg,
    # candidate probe, two arbiter reads, rebuild) otherwise each re-run
    # the scan→tokenize subtree — Spark never dedupes common non-exchange
    # subplans (guide §5 localCheckpoint; the minhash_lsh_pairs pattern)
    base = base.localCheckpoint(eager=True)
    if hash_prejoin:
        pos_h = base.select(
            F.col(id_col), F.posexplode(F.col("__hs")).alias("pos", "__h")
        )
        dup_hashes = (
            pos_h.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > 1)
            .select("__h")
        )
        cand = pos_h.join(dup_hashes, "__h", "left_semi")
        cand_per_doc = cand.groupBy(id_col).agg(
            F.collect_list("pos").alias("__ps")
        )
        # gram text for the candidate sliver only, built per DOC inside
        # one transform so no per-candidate row ever carries __toks
        grams = (
            base.join(cand_per_doc, id_col)
            .select(
                F.col(id_col),
                F.explode(
                    F.transform(
                        F.col("__ps"),
                        lambda p: F.struct(
                            p.alias("pos"),
                            F.concat_ws(
                                " ", F.slice(F.col("__toks"), p + 1, k)
                            ).alias("gram"),
                        ),
                    )
                ).alias("pg"),
            )
            .select(
                F.col(id_col),
                F.col("pg.pos").alias("pos"),
                F.col("pg.gram").alias("gram"),
            )
        )
    else:
        # sliding k-grams with start positions (0-based); docs with < k
        # tokens contribute no grams and are never excised
        grams = base.where(n >= k).select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda s: F.concat_ws(" ", F.slice(F.col("__toks"), s + 1, k)),
                )
            ).alias("pos", "gram"),
        )
    marked = _mark_first_occurrence(grams, id_col, "gram", arbiter,
                                    keep_blank=False)
    # every non-first occurrence of a duplicated gram covers tokens
    # [pos, pos+k-1]; expansion is bounded by k × (duplicated spans).
    # Aggregated straight to one sorted distinct index array per affected
    # doc — the exchange carries the duplicated sliver only, never the
    # corpus tokens
    covered = marked.where(~F.col("keep")).select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + k - 1)
        ).alias("tok_idx"),
    )
    cov_per_doc = covered.groupBy(id_col).agg(
        F.array_sort(F.collect_set("tok_idx")).alias("__cov")
    )
    # rebuild per doc: surviving indices = [0..n) minus covered (set
    # semantics, order-preserving on the left — identical survivors and
    # order to the pre-r14 anti-join + sort-by-index regroup)
    kept_idx = F.array_except(
        F.when(n > 0, F.sequence(F.lit(0), n - 1))
        .otherwise(F.array().cast("array<int>")),
        F.coalesce(F.col("__cov"), F.array().cast("array<int>")),
    )
    return (
        base.join(cov_per_doc, id_col, "left")
        .select(F.col(id_col), F.col("__toks"), n, kept_idx.alias("__ki"))
        .select(
            F.col(id_col),
            F.concat_ws(
                " ",
                F.transform(
                    F.col("__ki"),
                    lambda i: F.element_at(F.col("__toks"), i + 1),
                ),
            ).alias("clean_text"),
            F.size(F.col("__ki")).cast("bigint").alias("n_tokens_kept"),
            (n.cast("bigint") - F.size(F.col("__ki")))
            .alias("n_tokens_removed"),
        )
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The C4 blocklist gate (Raffel et al. 2020 §2.2 drop any page with a
    word from the "Dirty, Naughty, Obscene" list — the piece
    :func:`c4_line_filter` deliberately leaves to a separate stage):
    per document, ``blocklist_hits`` = how many DISTINCT blocklist entries
    appear, ``blocked`` = hits > 0. Single-word entries match on token
    identity (lowercased, like :func:`~mydumper_spark.operators.dedup.
    tokens`); entries containing whitespace are PHRASES and match on the
    document's word L-grams — whitespace-normalized word-boundary
    matching, same semantics as padded substring search.

    Scale shape: the list is a constant-folded literal (C4's real list is
    ~2.4k entries — KBs in the plan, the broadcast-dict masquerade
    budget) and every match family is ONE ``array_intersect`` against one
    literal array: the words against the token set, and per DISTINCT
    phrase length L the L-word phrases against the document's L-gram
    shingles. NOT a per-entry contains() chain — 2.4k unrolled contains
    would blow whole-stage codegen past the JIT method limit into
    interpreted fallback (the measured SQ8 lesson). Zero joins, zero
    shuffles; grams build once per needed L (real lists use 2-3 lengths)."""
    from mydumper_spark.operators.dedup import shingles, tokens

    words = sorted({w.lower() for w in blocklist if w and " " not in w})
    by_len: dict[int, list[str]] = {}
    for p in blocklist:
        norm = " ".join(p.lower().split())
        if p and " " in norm:
            by_len.setdefault(len(norm.split()), []).append(norm)
    c = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty page
    hits = (
        F.size(F.array_intersect(
            F.array_distinct(tokens(c)),
            F.array(*[F.lit(w) for w in words]),
        )) if words else F.lit(0)
    )
    for length, plist in sorted(by_len.items()):
        # shingles(col, L) returns the full text as one short gram for
        # docs with < L tokens — it can't equal an L-word phrase, harmless
        hits = hits + F.size(F.array_intersect(
            F.array_distinct(shingles(c, length)),
            F.array(*[F.lit(p) for p in sorted(set(plist))]),
        ))
    hits = hits.cast("int")
    return df.select(
        F.col(id_col),
        hits.alias("blocklist_hits"),
        (hits > 0).cast("int").alias("blocked"),
    )


def corpus_datasheet(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Per-group corpus datasheet (Gebru et al. 2021 "Datasheets for
    Datasets", the numbers section): for every (source, lang, ...) cell —
    document count, empty-document count, CORPUS-WIDE exact-duplicate
    membership (a doc mirrored across two sources counts as duplicated
    in both groups — the cross-source leakage signal), duplicate ppm,
    total/mean token counts and total characters. Exact-rational integers
    throughout (ppm floors, DIV means — the repo-wide no-float rule), so
    the report is bit-identical across engines and across runs.

    Scale shape: one fingerprint count-aggregate + null-safe join back
    (soft_dedup_weights' exchange, reused) and then ONE small aggregate
    keyed by the group tuple — group cardinality is sources × languages,
    driver-safe at any corpus size. Nothing else shuffles.
    """
    from mydumper_spark.operators.dedup import soft_dedup_weights, tokens

    t = F.col(text_col)
    weighted = soft_dedup_weights(df, text_col=text_col, id_col=id_col)
    per_doc = weighted.select(
        *[F.col(g) for g in group_cols],
        F.coalesce(F.size(tokens(t)), F.lit(0)).cast("bigint")
        .alias("__toks"),
        F.coalesce(F.length(t), F.lit(0)).cast("bigint").alias("__chars"),
        (t.isNull() | (F.length(F.trim(t)) == 0)).cast("bigint")
        .alias("__empty"),
        (F.col("dup_count") > 1).cast("bigint").alias("__dup"),
    )
    return (
        per_doc.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__empty").alias("n_empty"),
            F.sum("__dup").alias("n_dup_docs"),
            F.sum("__toks").alias("total_tokens"),
            F.sum("__chars").alias("total_chars"),
        )
        .select(
            *group_cols,
            "n_docs", "n_empty", "n_dup_docs",
            F.expr("(n_dup_docs * 1000000) DIV n_docs").alias("dup_ppm"),
            "total_tokens",
            F.expr("total_tokens DIV n_docs").alias("mean_tokens"),
            "total_chars",
        )
    )

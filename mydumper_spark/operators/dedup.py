"""Deduplication operators — exact and near-dup — for training-data pipelines
(north-star extension, SURVEY §7.9).

Scale design (the point of each choice):
- **Exact dedup** is one hash aggregate keyed on a 128-bit fingerprint with
  a min_by(row) arbiter: map-side partial aggregation forwards at most one
  candidate row per fingerprint per task, so the exchange is bounded by the
  unique-document fraction of the corpus and there is no sort.
- **MinHash+LSH** is the classic shingle→minhash→band→bucket-join pipeline.
  Everything is array expressions inside codegen; the only shuffles are the
  band-bucket groupBy and the candidate-pair self-join, both on small keys.
  Band buckets with a single document are dropped *before* the join
  (`count > 1`), which is what keeps the join input sublinear on mostly-
  unique corpora. Skewed buckets (boilerplate docs) are handled by AQE skew
  join; pathological buckets can additionally be capped via `max_bucket`.
- **SimHash** is one explode + one groupBy producing a 64-bit signature;
  near-dup = signatures within small Hamming distance, found by banding the
  64 bits into 4×16-bit keys (signatures within distance ≤3 share ≥1 band).
- **Jaccard verification** re-checks every LSH candidate pair exactly, so LSH
  recall/precision tuning never affects correctness of the output, only cost.

All hashes default to xxhash64 (JVM-side, seedable, deterministic) — runs
are reproducible, which the reference achieves only by being single-source.
SimHash (and winnowing in operators/text.py) also accept
``hash_fn="sha256"`` — the engine-portable 60-bit hash the DuckDB oracle
can replay, turning the sketch itself into an oracle-checked algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mydumper_spark.operators.text import fingerprint, quality_score
from mydumper_spark.util import ensure_min_partitions  # noqa: F401 (re-export)
from mydumper_spark.util import packed_key


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint.

    Shaped as ``groupBy(fp).agg(min_by(row, id))`` rather than a
    row_number window: the hash aggregate gets map-side partial
    aggregation — each task forwards at most ONE candidate row per
    fingerprint, so shuffle volume is bounded by the number of *unique*
    documents (a duplicate-heavy 100 TB corpus exchanges only its unique
    fraction) — and there is no per-partition sort. A window over the
    fingerprint would shuffle and sort every input row."""
    cols = df.columns
    fp = fingerprint(F.col(text_col))
    agg = df.groupBy(fp.alias("__fp")).agg(
        F.min_by(F.struct(*cols), F.col(id_col)).alias("__row")
    )
    return agg.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def exact_dedup_incremental(
    new_docs: DataFrame,
    known_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> tuple[DataFrame, DataFrame]:
    """Rolling-ingest dedup: drop new documents whose fingerprint already
    exists in the accumulated corpus, THEN dedup the batch internally.
    Returns (survivors, updated_fps) — the caller persists updated_fps as
    the state for the next batch (the batch analogue of
    streaming/stateful.streaming_exact_dedup, for pipelines that land data
    in increments rather than a stream).

    Shuffle shape: the anti-join and the state union move 16-byte
    fingerprints only; document payloads shuffle once, inside the batch's
    own exact_dedup."""
    from mydumper_spark.operators.text import fingerprint as _fp

    # eqNullSafe: fingerprint(NULL text) is NULL, and a plain == would
    # evaluate NULL == NULL to NULL — the anti-join would re-admit a
    # NULL-text document on every batch forever
    fresh = new_docs.join(
        known_fps.select(F.col(fp_col).alias("__known")),
        _fp(F.col(text_col)).eqNullSafe(F.col("__known")),
        "left_anti",
    )
    survivors = exact_dedup(fresh, text_col, id_col)
    new_fps = survivors.select(_fp(F.col(text_col)).alias(fp_col))
    return survivors, known_fps.select(fp_col).union(new_fps).distinct()


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SoftDeDup-style frequency reweighting (He et al. 2024: downweight
    duplicated documents instead of dropping them — hard dedup discards
    the signal that a document was common, soft dedup keeps every copy
    but makes the FAMILY's total sampling mass one document's worth).

    Adds ``dup_count`` (how many corpus documents share this document's
    normalized-text fingerprint) and ``weight_ppm`` = floor(1e6 /
    dup_count): a unique document weighs 1.0, each member of a k-copy
    family weighs 1/k, so Σ weight over a family ≈ 1 — the sampling-mass
    conservation the paper's reweighting targets. Integer ppm keeps the
    column engine-exact (the repo-wide float rule).

    Scale shape: ONE exchange — a count aggregate on the 16-byte
    fingerprint (map-side combine forwards one partial per fp per task)
    joined back on the same key; AQE broadcasts the count table when the
    duplicate-family set is small. No sort, no window over the corpus."""
    fp = fingerprint(F.col(text_col))
    with_fp = df.withColumn("__fp", fp)
    counts = with_fp.groupBy("__fp").agg(
        F.count(F.lit(1)).alias("dup_count"))
    # eqNullSafe: fingerprint(NULL text) is NULL, and a plain equi-join
    # would DROP every NULL-text document (NULL == NULL is NULL) — data
    # loss in an operator whose contract is "every document kept". The
    # null-safe join matches the SQL-window oracle: all NULL-text docs
    # form one family (same trap exact_dedup_incremental documents).
    return (
        with_fp.join(counts.withColumnRenamed("__fp", "__fpc"),
                     F.col("__fp").eqNullSafe(F.col("__fpc")))
        .withColumn("weight_ppm",
                    F.expr("1000000 div dup_count").cast("bigint"))
        .drop("__fp", "__fpc")
    )


def cross_group_dup_matrix(
    df: DataFrame,
    pairs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """WHERE is near-duplicate leakage coming from? Aggregate verified
    near-dup pairs into an unordered group×group matrix: ``(group_a,
    group_b, n_pairs)`` with group_a ≤ group_b — the diagnostic that
    tells a curation pipeline whether duplication is intra-source
    (boilerplate within a crawl: dedup within the source) or
    cross-source (mirrors/syndication: dedup globally, and a
    train/holdout split on source is leaking).

    ``pairs`` is any (id_a, id_b) edge set — MinHash+LSH verified pairs,
    SimHash pairs, n-gram Jaccard pairs. Scale shape: the pair set is
    near-dup EDGES (≪ corpus); two joins against the (id, group)
    projection — AQE broadcasts the pair side — then one small-key
    aggregate. The corpus itself is scanned once for the projection and
    never shuffled."""
    g = df.select(F.col(id_col), F.col(group_col))
    j = (
        pairs.select("id_a", "id_b")
        .join(g.select(F.col(id_col).alias("id_a"),
                       F.col(group_col).alias("__ga")), "id_a")
        .join(g.select(F.col(id_col).alias("id_b"),
                       F.col(group_col).alias("__gb")), "id_b")
    )
    return (
        j.groupBy(
            F.least("__ga", "__gb").alias("group_a"),
            F.greatest("__ga", "__gb").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def tokens(col: Column) -> Column:
    t = F.trim(F.lower(col))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-gram shingles (the rolling-hash fingerprint basis).

    Built as a k-1-step zip-fold over shifted views of the token array —
    O(k·n) per document. The previous slice-per-position transform was
    O(k·n) slices each COPYING k elements (effectively O(k²·n) with
    per-element array allocation): measured 3× slower on the sf0.1
    corpus before any of the duplicated-expression costs on top."""
    def build(t: Column) -> Column:
        n = F.size(t)
        acc = t
        for j in range(1, k):
            # zip_with pads the shorter (shifted) side with NULL;
            # concat_ws skips NULLs, so tail entries hold short grams —
            # sliced off below
            acc = F.zip_with(
                acc,
                F.slice(t, j + 1, F.greatest(n - j, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        return F.when(n < k, F.array(F.concat_ws(" ", t))).otherwise(
            F.slice(acc, 1, n - (k - 1))
        )

    # let-bind the token array (no CSE for array expressions): the fold
    # references it k+1 times — unbound, that is k+1 splits per row
    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


_MAXLONG = (1 << 63) - 1


def _minhash_sig(arr: Column, num_hashes: int) -> Column:
    """All ``num_hashes`` minima in ONE traversal of the hashed-shingle
    array: the accumulator carries the per-function running minima and
    each element contributes its ``num_hashes`` reseeded hashes via
    zip_with/least. Value-identical to the per-function
    ``array_min(transform(...))`` form (same hash set, same min — pinned
    in tests), but one pass instead of ``num_hashes`` traversals each
    allocating an intermediate array (r14: 0.80 s → 0.49 s on the sf0.1
    signature projection). Empty input keeps the old form's all-NULL
    signature; NULL input propagates NULL through the outer when()."""
    return F.when(
        F.size(arr) > 0,
        F.aggregate(
            arr,
            F.array(*[F.lit(_MAXLONG).cast("long") for _ in range(num_hashes)]),
            lambda acc, h: F.zip_with(
                acc,
                F.array(*[F.xxhash64(h, F.lit(i)) for i in range(num_hashes)]),
                lambda a, b: F.least(a, b),
            ),
        ),
    ).otherwise(F.array(*[F.lit(None).cast("long") for _ in range(num_hashes)]))


def minhash_signature(col: Column, num_hashes: int = 16, k: int = 3) -> Column:
    """MinHash signature as array<bigint>: min over HASHED distinct
    shingles of xxhash64(h, seed_i) per hash function — one array
    expression, no explode. The two-level hashing (shingle string →
    bigint, then per-function reseed over the bigint) is EXACTLY the batch
    pipeline's formula (minhash_lsh_pairs below), so the streaming intake
    and the batch join produce identical signatures and hence identical
    bucket collisions — a corpus replayed as micro-batches proposes the
    same candidates the batch self-join does."""
    sh = F.array_distinct(F.transform(shingles(col, k), lambda s: F.xxhash64(s)))
    # let-binding via a 1-element array: Catalyst does not CSE array
    # expressions, so referencing `sh` in the signature fold would rebuild
    # shingles+hash per accumulator step; the outer transform evaluates it
    # ONCE and the lambda binds it
    packed = F.transform(F.array(sh), lambda arr: _minhash_sig(arr, num_hashes))
    return F.element_at(packed, 1)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    jaccard_threshold: float = 0.6,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate generation + exact verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Shuffle economics (the 100 TB shape): documents are reduced to an
    array<bigint> of *hashed* distinct shingles (8 bytes each) in one codegen
    pass; text never enters a shuffle. Bands carry only (id, band, bucket);
    candidate pairs are id-pairs, deduped *before* any payload joins back in;
    a cheap signature-agreement prefilter culls most false candidates before
    the exact set intersection. Verification then joins the compact shingle
    arrays — two hash joins on 8-byte keys."""
    rows_per_band = num_hashes // bands
    # prune to the two consumed columns BEFORE the spread: the full-row
    # spread key hashes every input column, so pruning cannot push below
    # the exchange — unpruned, a wide source shuffles its extra columns
    # for nothing (guide §2.3 "project before the exchange"; r14)
    df = ensure_min_partitions(df.select(id_col, text_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), k), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    base = base.withColumn("sig", _minhash_sig(F.col("sh"), num_hashes))
    # Materialize once and cut lineage. localCheckpoint instead of persist():
    # persist() blocks live in the CacheManager until an explicit unpersist,
    # which a lazily-returned DataFrame can never safely issue — repeated
    # per-table calls in a long-lived session would accumulate cached blocks.
    # Checkpoint blocks are reclaimed by the ContextCleaner once the plan is
    # garbage-collected, and the lineage cut also keeps the downstream
    # self-join's Catalyst planning linear.
    base = base.localCheckpoint(eager=True)

    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",", F.slice("sig", b * rows_per_band + 1, rows_per_band)
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # prune singleton + pathological buckets before the join — the
    # sublinearity trick (and the skew guard)
    bucket_sizes = banded.groupBy("band", "bucket").count().where(
        (F.col("count") > 1) & (F.col("count") <= max_bucket)
    )
    live = banded.join(bucket_sizes.select("band", "bucket"), ["band", "bucket"])

    a = live.select("band", "bucket", F.col("id").alias("id_a"))
    b = live.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    side_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a"))
    side_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b"))
    enriched = pairs.join(side_a, "id_a").join(side_b, "id_b")

    # signature-agreement estimate of Jaccard; generous margin (3σ for 16
    # hashes) so the prefilter can't cost recall
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ).cast("double") / F.lit(float(num_hashes))
    margin = 3.0 / (num_hashes ** 0.5)
    est_ok = enriched.where(agree >= jaccard_threshold - margin)

    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    return (
        est_ok.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    arbiter: str = "min_id",
    **kw,
) -> DataFrame:
    """Near-dup removal with a pluggable survivor rule.

    ``arbiter="min_id"`` (default): greedy — drop any doc that has a
    verified near-dup with a smaller id. (Greedy, not transitive closure —
    at worst keeps an extra representative per chain, never loses a
    cluster entirely; the closure variant is connected_components below.)

    ``arbiter="quality"``: cluster-exact — build components over the
    verified pairs and keep each cluster's highest-quality document (ties
    → smallest id), the rule a production crawl pipeline wants (keep the
    cleanest copy, not the earliest). Costs the O(log L) component rounds
    on top of the pair join; the arbiter is :func:`keep_best`'s packed
    argmin, deterministic under any partitioning."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kw)
    if arbiter == "min_id":
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(losers, id_col, "left_anti")
    if arbiter != "quality":
        raise ValueError(f"unknown arbiter: {arbiter!r}")
    kept = keep_best(df, pairs, text_col, id_col).where("kept")
    return df.join(kept.select(id_col), id_col, "left_semi")


def keep_best(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-arbitered survivor of every near-dup cluster →
    (id, cluster_id, keeper_id, kept).

    Clusters are the connected components of the ``(id_a, id_b)`` pairs; a
    document in no pair is its own cluster. The keeper is the min of
    (-quality, id) over a util.packed_key: highest :func:`quality_score`,
    ties → smallest id, NULL quality (NULL text) first as in a struct.
    quality sits on the integer grid q_e7/1e7, so -quality packs as
    1e7 − q_e7, clamped to [0, 1e7] so an out-of-range quality stays
    ordered at the boundary. Pinned equal to the min(struct) form by
    test_keep_best_packed_argmin_matches_struct_min."""
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    qual = quality_score(df.select(id_col, text_col), text_col)
    nq = F.lit(10_000_000) - F.round(F.col("quality") * 1e7).cast("long")
    clustered = (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(id_col, F.coalesce("comp", id_col).alias("cluster_id"))
        .join(qual.select(id_col, "quality"), id_col)
        .withColumn("__nq", F.when(
            nq.isNotNull(),
            F.greatest(F.lit(0), F.least(F.lit(10_000_000), nq))))
    )
    key, decode = packed_key(
        clustered, [("__nq", 0, 10_000_000), (id_col, -2**63, 2**63 - 1)])
    best = clustered.groupBy("cluster_id").agg(F.min(key).alias("__bp"))
    best = best.select("cluster_id", decode(F.col("__bp"))[1].alias("keeper_id"))
    return clustered.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        "keeper_id",
        (F.col(id_col) == F.col("keeper_id")).alias("kept"),
    )


def connected_components(pairs: DataFrame, max_iters: int = 16) -> DataFrame:
    """Min-label components over (id_a, id_b) edges → (id, comp).

    Shiloach–Vishkin-style alternation, logarithmic rounds: each iteration
    does a **hook** (take the min label across neighbors) followed by a
    **jump** (labels join labels: comp(v) ← comp(comp(v)), genuine pointer
    doubling). The hook moves a label one edge; the jump then doubles the
    distance already covered, so a chain of length L converges in
    O(log L) rounds (a 64-node path takes 6, not 63). max_iters=16 covers
    components of diameter ≫ 2^16.

    Each round is two shuffles on (id, comp) longs — no payload columns.
    Lineage is cut per round with localCheckpoint (iterative joins
    otherwise blow up Catalyst planning), and the convergence probe runs
    on the already-checkpointed frame so it costs one cheap job, mirroring
    the reference's worker loop exiting when its queue stops changing."""
    labels, _ = _cc_iterate(pairs, max_iters)
    return labels


def _cc_iterate(pairs: DataFrame, max_iters: int = 16) -> tuple[DataFrame, int]:
    """connected_components body; returns (labels, rounds_used) so tests can
    assert the logarithmic-round bound."""
    edges = pairs.select("id_a", "id_b")
    labels = (
        edges.select(F.col("id_a").alias("id"))
        .union(edges.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    sym = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).localCheckpoint(eager=True)
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # hook: comp(v) <- min(comp(v), min over neighbors u of comp(u))
        neigh_min = (
            sym.join(labels, sym["id_b"] == labels["id"])
            .groupBy("id_a")
            .agg(F.min("comp").alias("ncomp"))
            .withColumnRenamed("id_a", "id")
        )
        hooked = labels.join(neigh_min, "id", "left").select(
            "id", F.least(F.col("comp"), F.coalesce("ncomp", "comp")).alias("comp")
        )
        # jump: comp(v) <- comp(comp(v)). comp always holds a node id of the
        # same component (a min over member ids), so the self-join hits.
        mapping = hooked.select(
            F.col("id").alias("comp"), F.col("comp").alias("jcomp")
        )
        new_labels = (
            hooked.join(mapping, "comp", "left")
            .select("id", F.coalesce("jcomp", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if not changed:
            break
    return labels, rounds


def simhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    num_bits: int = 64,
) -> DataFrame:
    """SimHash per document: explode tokens, hash, per-bit ±1 sums,
    reassemble sign bits. One explode + one groupBy(sum×bits) — fully
    JVM-side, partial-aggregated map-side.

    ``hash_fn="sha256"`` (with ``num_bits=60`` — the portable hash is 60
    bits wide) makes the signature engine-portable so the DuckDB oracle
    can replay it; xxhash64/64-bit stays the fast production default."""
    from mydumper_spark.operators.text import portable_hash64

    # prune to the two consumed columns before the spread (the full-row
    # spread key defeats column pruning through the exchange — r14)
    toked = ensure_min_partitions(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    h = F.xxhash64("tok") if hash_fn == "xxhash64" else portable_hash64(F.col("tok"))
    bit_sums = toked.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(num_bits)
        ]
    )
    sig = sum(
        (F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)).otherwise(F.lit(0).cast("bigint")))
        for b in range(num_bits)
    )
    return bit_sums.select("id", sig.alias("simhash"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           max_hamming: int = 3, hash_fn: str = "xxhash64",
                           num_bits: int = 64) -> DataFrame:
    """Band the signature into 4 equal keys; any pair within Hamming
    distance ≤3 collides on at least one band (pigeonhole). Verify exactly
    with bit_count(xor)."""
    bits_per_band = num_bits // 4
    mask = (1 << bits_per_band) - 1
    sig = simhash_signature(df, text_col, id_col, hash_fn, num_bits)
    banded = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * bits_per_band).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) pairs — the verification
    primitive shared by the LSH pipelines, exposed standalone."""
    docs = df.select(F.col(id_col).alias("id"), F.array_distinct(shingles(F.col(text_col), n)).alias("sh"))
    with_a = candidate_pairs.join(docs.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
    both = with_a.join(docs.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    return both.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def ngram_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination by word-n-gram collision — the GPT-3
    appendix-C / PaLM protocol (Brown et al. 2020): drop every training
    document that shares ANY n-gram with the evaluation set. The
    embedding-space sibling is ``similarity.embedding_decontaminate``;
    this is the exact-overlap one every released-model card reports
    (13-grams is the published default).

    Scale shape: the eval side reduces to a DISTINCT 8-byte gram-hash set
    — a benchmark suite is 1e5-1e7 grams, comfortably broadcastable — so
    with ``broadcast_eval`` the corpus side never shuffles: grams explode
    off the scan as xxhash64 keys (the engine-wide gram identity; strings
    never leave the scan), a broadcast semi-join marks contaminated ids,
    and a broadcast anti-join of THAT id set (smaller still) returns
    survivors. Set ``broadcast_eval=False`` for an eval side too large to
    broadcast (both joins become shuffled hash joins on 8-byte keys).
    Documents shorter than ``n`` tokens contribute their whole text as one
    gram (the ``shingles`` short-doc rule) — short exact copies of eval
    items are still caught, partial overlap below ``n`` tokens is not
    (the protocol's documented floor)."""
    eval_grams = (
        eval_df.select(
            F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    corpus_grams = corpus.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("g"),
    ).select(id_col, F.xxhash64("g").alias("gh"))
    contaminated = (
        corpus_grams.join(eval_grams, "gh", "left_semi").select(id_col).distinct()
    )
    # the contaminated id set is typically a sliver of the corpus but is
    # BOUNDED by it, so no forced broadcast here — AQE converts this anti-
    # join to broadcast at runtime when the set is actually small
    return corpus.join(contaminated, id_col, "left_anti")

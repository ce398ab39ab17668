"""Token-window chunking + corpus-level line dedup (operators/corpus.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mydumper_spark.operators.corpus import (
    chunk_documents,
    dedup_lines_global,
    dedup_paragraphs_global,
    dedup_token_blocks_global,
    pack_sequences,
)


def test_dedup_paragraphs_keeps_first_occurrence(spark):
    """Paragraph granularity: a paragraph (blank-line-separated) repeated
    later in the corpus is removed whole; single newlines inside a
    paragraph do NOT split it."""
    shared = "first line\nsecond line"
    df = spark.createDataFrame(
        [
            (1, f"{shared}\n\nunique one"),
            (2, f"other intro\n\n{shared}"),    # cross-doc duplicate para
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_paragraphs_global(df).collect()}
    assert rows[1]["clean_text"] == f"{shared}\n\nunique one"
    assert rows[1]["n_removed"] == 0
    assert rows[2]["clean_text"] == "other intro"
    assert rows[2]["n_kept"] == 1 and rows[2]["n_removed"] == 1


def test_chunking_windows_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        (r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, max_tokens=4, overlap=1).collect()
    )
    # stride 3, starts bounded at n-1-overlap=8: 0,3,6 -> [0:4),[3:7),[6:10).
    # A start at 9 would emit only "t9" — already chunk 2's overlap tail —
    # so it must NOT appear.
    assert [r[0] for r in rows] == [0, 1, 2]
    assert rows[0][1] == "t0 t1 t2 t3" and rows[0][2] == 4
    assert rows[1][1] == "t3 t4 t5 t6"  # 1-token overlap carried
    assert rows[2] == (2, "t6 t7 t8 t9", 4)  # tail reaches the last token


def test_chunking_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "only two"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    rows = chunk_documents(df, max_tokens=4, overlap=1).collect()
    # empty/whitespace docs vanish; short doc -> single chunk
    assert {r["doc_id"] for r in rows} == {1}
    assert rows[0]["chunk_text"] == "only two" and rows[0]["n_tokens"] == 2


def test_chunking_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_pack_sequences_budget_and_reconstruction(spark):
    """Packing invariants: (a) concatenating all sequences in seq order
    reproduces the chunk stream exactly — nothing lost or duplicated;
    (b) every sequence except possibly the last fills to within one chunk
    of the budget on either side — the boundary chunk attaches to whichever
    bin its pre-sum lands in, so |n - budget| < max chunk tokens;
    (c) counts are consistent."""
    texts = [" ".join(f"d{i}t{j}" for j in range(n))
             for i, n in enumerate((100, 7, 64, 200, 31))]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    chunks = chunk_documents(df, max_tokens=16, overlap=0)
    chunk_rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in chunks.collect()
    )
    budget = 48
    packed = sorted(
        (r["seq_id"], r["text"], r["n_tokens"], r["n_chunks"])
        for r in pack_sequences(chunks, budget_tokens=budget).collect()
    )
    # (a) exact reconstruction
    assert " ".join(t for _, t, _, _ in packed) == " ".join(
        t for _, _, t, _ in chunk_rows
    )
    # (b) fill level: all but the last within one chunk of the budget
    for i, (_, _, n, _) in enumerate(packed):
        if i < len(packed) - 1:
            assert budget - 16 < n < budget + 16, packed[i]
    # (c) token totals agree
    assert sum(n for _, _, n, _ in packed) == sum(n for _, _, _, n in chunk_rows)
    assert sum(c for _, _, _, c in packed) == len(chunk_rows)


def test_pack_sequences_sharded_mode(spark):
    """n_shards: same chunk multiset packed, disjoint seq ids across
    shards, per-shard fill levels hold, and nothing is lost — the parallel
    variant must conserve exactly what the global window conserves."""
    texts = [" ".join(f"d{i}t{j}" for j in range(n))
             for i, n in enumerate((100, 7, 64, 200, 31, 90, 45))]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    chunks = chunk_documents(df, max_tokens=16, overlap=0)
    total_tokens = sum(r["n_tokens"] for r in chunks.collect())
    packed = pack_sequences(chunks, budget_tokens=48, n_shards=3).collect()
    assert sum(r["n_tokens"] for r in packed) == total_tokens
    # shard encoding keeps ids disjoint and recoverable
    shards = {r["seq_id"] >> 40 for r in packed}
    assert shards <= {0, 1, 2} and len(shards) > 1
    # within each shard, at most one sequence underfills the budget
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in packed:
        by_shard[r["seq_id"] >> 40].append(r["n_tokens"])
    for shard, sizes in by_shard.items():
        assert sum(1 for n in sizes if n < 48 - 15) <= 1, (shard, sizes)


def test_dedup_lines_keeps_first_occurrence(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma\nshared line"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_lines_global(df).collect()}
    # doc 1 holds the first occurrence -> untouched
    assert rows[1]["clean_text"] == "alpha\nshared line\nbeta"
    assert rows[1]["n_removed"] == 0
    # doc 2 loses both later occurrences (in-doc repeat included)
    assert rows[2]["clean_text"] == "gamma"
    assert rows[2]["n_kept"] == 1 and rows[2]["n_removed"] == 2


def test_dedup_lines_arbiters_identical_and_plan_shapes(spark, sf_dir):
    """The agg (skew-splittable) and window arbiters must return identical
    results on the fixture, and their plans must have the promised shapes:
    agg has NO Window node and no SortAggregate (its arbiter is a
    partial-aggregatable min over a packed key),
    window has no line-side join."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = dedup_lines_global(df, arbiter="agg")
    win = dedup_lines_global(df, arbiter="window")
    a = {r["doc_id"]: tuple(r)[1:] for r in agg.collect()}
    w = {r["doc_id"]: tuple(r)[1:] for r in win.collect()}
    assert a == w and len(a) > 0
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in agg_plan, agg_plan
    assert "HashAggregate" in agg_plan and "SortAggregate" not in agg_plan, agg_plan
    win_plan = win._jdf.queryExecution().executedPlan().toString()
    assert "Window" in win_plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown arbiter"):
        dedup_lines_global(df, arbiter="nope")


def test_dedup_lines_preserves_empty_lines(spark):
    df = spark.createDataFrame(
        [(1, "para one\n\npara two"), (2, "other\n\nmore")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_lines_global(df).collect()}
    # blank separators survive in BOTH docs (never deduplicated)
    assert rows[1]["clean_text"] == "para one\n\npara two"
    assert rows[2]["clean_text"] == "other\n\nmore"


def test_chunking_reconstructs_token_stream(spark):
    """Algebraic invariant: dropping each non-first chunk's overlap prefix
    and concatenating reconstructs the exact token stream, for any
    (max_tokens, overlap) — chunking must neither lose nor duplicate."""
    texts = [
        " ".join(f"w{i}" for i in range(n)) for n in (1, 5, 7, 8, 9, 63, 64, 65, 200)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for max_tokens, overlap in ((8, 3), (64, 8), (16, 0)):
        stride = max_tokens - overlap
        rows = chunk_documents(df, max_tokens=max_tokens, overlap=overlap).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"]))
        for doc_id, chunks in by_doc.items():
            chunks.sort()
            toks: list[str] = []
            for cid, ctext in chunks:
                parts = ctext.split(" ")
                if cid > 0:
                    # every non-first chunk must contribute ≥1 NEW token —
                    # a chunk that is purely the previous chunk's overlap
                    # tail duplicates training content
                    assert len(parts) > overlap, (doc_id, cid, max_tokens, overlap)
                toks.extend(parts if cid == 0 else parts[overlap:])
            assert toks == texts[doc_id].split(" "), (doc_id, max_tokens, overlap)


def test_dedup_blocks_keeps_first_occurrence(spark):
    """Aligned 4-token blocks: a block value repeated later in the corpus —
    in another doc or later in the same doc — is removed; the survivor is
    the smallest (doc_id, position)."""
    shared = "a b c d"
    df = spark.createDataFrame(
        [
            (1, f"{shared} w x y z"),
            (2, f"p q r s {shared}"),          # cross-doc duplicate block
            (3, f"{shared} {shared}"),          # would-be in-doc repeat
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            dedup_token_blocks_global(df, block_tokens=4).collect()}
    assert rows[1]["clean_text"] == "a b c d w x y z"
    assert rows[1]["n_removed"] == 0
    assert rows[2]["clean_text"] == "p q r s" and rows[2]["n_removed"] == 1
    # doc 3's copies are BOTH later than doc 1's -> both removed
    assert rows[3]["clean_text"] == "" and rows[3]["n_removed"] == 2


def test_dedup_blocks_short_tail_block(spark):
    """The final short block (< block_tokens) participates in dedup like
    any other block value."""
    df = spark.createDataFrame(
        [(1, "a b c d tail"), (2, "e f g h tail")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            dedup_token_blocks_global(df, block_tokens=4).collect()}
    assert rows[1]["clean_text"] == "a b c d tail"
    assert rows[2]["clean_text"] == "e f g h" and rows[2]["n_removed"] == 1


def test_dedup_blocks_idempotent(spark):
    """Re-applying block dedup to its own output removes nothing further
    when surviving blocks stay aligned (clean_text token count stays a
    multiple of the block size until the final block)."""
    df = spark.createDataFrame(
        [(1, "a b c d w x y z"), (2, "a b c d p q r s"), (3, "m n o t")],
        "doc_id long, text string",
    )
    once = dedup_token_blocks_global(df, block_tokens=4).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    twice = dedup_token_blocks_global(once, block_tokens=4)
    for r in twice.collect():
        assert r["n_removed"] == 0, r


def test_dedup_lines_idempotent(spark):
    """Applying global line dedup to its own output changes nothing —
    the survivor set is already duplicate-free."""
    df = spark.createDataFrame(
        [
            (1, "keep\nshared\nkeep too"),
            (2, "shared\nother\nshared"),
            (3, "other\n\nlast"),
        ],
        "doc_id long, text string",
    )
    once = dedup_lines_global(df).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    twice = dedup_lines_global(once)
    got = {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in twice.collect()}
    base = {r["doc_id"]: r["clean_text"] for r in dedup_lines_global(df).collect()}
    for doc_id, (text, n_removed) in got.items():
        assert n_removed == 0, (doc_id, got)
        assert text == base[doc_id]


def test_quality_filters_run_in_streaming(spark, tmp_path, documents):
    """gopher_quality and c4_line_filter are stateless per-row projections,
    so they compose unchanged into a Structured Streaming intake (the ST7
    batch-twin contract): stream the corpus through both, availableNow,
    and the accumulated output must equal the batch run."""
    from mydumper_spark.operators.corpus import c4_line_filter
    from mydumper_spark.operators.text import gopher_quality

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    corpus = documents.limit(50)
    corpus.write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    # stateless maps: select the c4-cleaned line view AND the gopher gates
    # in one streaming projection, exactly as a batch pipeline would
    gated = gopher_quality(stream).withColumnRenamed("doc_id", "g_id")
    q = (
        gated.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    batch = {tuple(r) for r in gopher_quality(corpus)
             .withColumnRenamed("doc_id", "g_id").collect()}
    assert got == batch and len(got) == 50

    out2 = str(tmp_path / "out2")
    ck2 = str(tmp_path / "ck2")
    q2 = (
        c4_line_filter(stream)
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = {tuple(r) for r in spark.read.parquet(out2).collect()}
    batch2 = {tuple(r) for r in c4_line_filter(corpus).collect()}
    assert got2 == batch2 and len(got2) == 50


def test_blocklist_filter_words_and_phrases(spark):
    """Word entries match on token identity (case-folded), phrase entries
    on whitespace-normalized padded text; NULL text is an empty page;
    repeated hits of the SAME entry count once (distinct tokens), distinct
    entries add up."""
    from mydumper_spark.operators.corpus import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "The QUICK fox"),              # 'quick' as a token
            (2, "quickest fox"),               # substring only -> no hit
            (3, "a hot  dog\nstand"),          # phrase across whitespace/nl
            (4, "hotdog stand"),               # fused -> no phrase hit
            (5, "quick quick quick"),          # same word thrice -> 1 hit
            (6, "quick hot dog"),              # word + phrase -> 2 hits
            (7, None),                         # NULL text
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in blocklist_filter(
        df, ["QUICK", "hot dog"]).collect()}
    assert (out[1]["blocklist_hits"], out[1]["blocked"]) == (1, 1)
    assert out[2]["blocked"] == 0
    assert out[3]["blocked"] == 1
    assert out[4]["blocked"] == 0
    assert out[5]["blocklist_hits"] == 1
    assert out[6]["blocklist_hits"] == 2
    assert (out[7]["blocklist_hits"], out[7]["blocked"]) == (0, 0)


def test_first_occurrence_packed_arbiter_matches_struct_min(spark):
    """The r14 DECIMAL radix-packed first-occurrence arbiter must be
    bit-identical to the min(struct(id, pos)) form it replaced — NULL ids
    (struct ordering is nulls-first, and a NULL-min group keeps NOBODY
    because the keep equality propagates NULL), extreme bigint ids and the
    pos upper bound included — while planning as a HashAggregate with no
    Sort/SortAggregate. Non-integral id types keep the generic struct-min
    fallback (and its SortAggregate)."""
    from mydumper_spark.operators.corpus import _mark_first_occurrence

    rows = [
        (None, 5, "g"), (3, 1, "g"), (1, 9, "g"), (None, 2, "g"),
        (-(2**63), 7, "h"), (2**63 - 1, 0, "h"),
        (42, 0, "i"), (42, 3, "i"), (7, 2**31 - 1, "i"),
        (5, 0, "j"),
        (None, 4, "k"),   # singleton NULL id: keep must stay NULL even
                          # though singletons skip the pruned join-back
    ]
    df = spark.createDataFrame(rows, "doc_id long, pos int, unit string")

    def struct_min_ref(d):
        first = d.groupBy("unit").agg(
            F.min(F.struct(F.col("doc_id").alias("d"),
                           F.col("pos").alias("p"))).alias("__first"))
        return d.join(first, "unit").withColumn(
            "keep", (F.col("doc_id") == F.col("__first.d"))
            & (F.col("pos") == F.col("__first.p"))).drop("__first")

    marked = _mark_first_occurrence(df, "doc_id", "unit", "agg",
                                    keep_blank=False)
    key = lambda r: (r["unit"], r["doc_id"], r["pos"])
    got = {key(r): r["keep"] for r in marked.collect()}
    want = {key(r): r["keep"] for r in struct_min_ref(df).collect()}
    assert got == want
    # semantics spelled out, not just mirrored: extreme ids order
    # correctly, pos packs safely at 2^31-1, NULL-min group keeps nobody
    assert want[("h", -(2**63), 7)] is True
    assert want[("h", 2**63 - 1, 0)] is False
    assert want[("i", 7, 2**31 - 1)] is True and want[("i", 42, 0)] is False
    assert all(v is not True for k, v in want.items() if k[0] == "g")
    assert want[("j", 5, 0)] is True        # non-NULL singleton keeps
    assert want[("k", None, 4)] is None     # NULL-id singleton stays NULL
    plan = marked._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan

    # string ids: generic fallback, same answers as its own struct-min ref
    sdf = df.withColumn("doc_id", F.col("doc_id").cast("string"))
    m2 = _mark_first_occurrence(sdf, "doc_id", "unit", "agg",
                                keep_blank=False)
    got2 = {key(r): r["keep"] for r in m2.collect()}
    want2 = {key(r): r["keep"] for r in struct_min_ref(sdf).collect()}
    assert got2 == want2
    assert "SortAggregate" in m2._jdf.queryExecution().executedPlan().toString()

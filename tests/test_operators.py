"""Transform pipeline, text analysis, dedup, similarity, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mydumper_spark.operators.transform import TableTransform, apply_transform
from mydumper_spark.operators import text as tx
from mydumper_spark.operators import dedup as dd
from mydumper_spark.operators import similarity as sim
from mydumper_spark.operators import multimodal as mm


# -- transform (P1-P5) -------------------------------------------------------


def test_where_and_projection(lineitem):
    tt = TableTransform(select_columns=["l_orderkey", "l_quantity"])
    out = apply_transform(lineitem, tt, global_where="l_quantity > 45")
    assert out.columns == ["l_orderkey", "l_quantity"]
    assert out.count() == lineitem.where("l_quantity > 45").count()


def test_select_replace_and_limit(customer):
    tt = TableTransform(
        select_columns=["c_custkey", "c_name"],
        select_replace={"c_name": "upper(c_name)"},
        limit=5,
    )
    out = apply_transform(customer, tt)
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["c_name"] == r["c_name"].upper() for r in rows)


def test_filter_pushdown_reaches_scan(lineitem):
    """The plan must show the predicate pushed into the parquet scan."""
    tt = TableTransform(select_columns=["l_orderkey"])
    out = apply_transform(lineitem, tt, global_where="l_orderkey > 100")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]" in plan


# -- text --------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",), ("one",)], "text string")
    out = df.select(tx.token_count(F.col("text")).alias("n")).collect()
    assert [r["n"] for r in out] == [3, 0, 0, 1]


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("don't stop-me now4",)], "text string")
    n = df.select(tx.bpe_ish_token_count(F.col("text")).alias("n")).first()["n"]
    # don | ' | t | stop | - | me | now | 4
    assert n == 8


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is here",),
            ("der hund und die katze ist hier",),
            ("le chat et la mer est grande",),
            ("xyzzy qwerty",),
        ],
        "text string",
    )
    out = [r[0] for r in df.select(tx.language_id(F.col("text"))).collect()]
    assert out == ["en", "de", "fr", "und"]


def test_fingerprint_whitespace_invariance(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], "text string")
    fps = [r[0] for r in df.select(tx.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]


# -- dedup -------------------------------------------------------------------


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same  Text"), (3, "different")], "doc_id long, text string"
    )
    out = dd.exact_dedup(df)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_exact_dedup_incremental_batches(spark):
    """Rolling ingest: batch 2 drops docs whose fingerprint batch 1
    already registered (including normalization-equal variants), dedups
    itself internally, and the returned state accumulates."""
    from pyspark.sql.types import StringType, StructField, StructType

    empty_fps = spark.createDataFrame([], StructType([StructField("fp", StringType())]))
    b1 = spark.createDataFrame(
        [(1, "first doc"), (2, "second doc")], "doc_id long, text string"
    )
    s1, fps1 = dd.exact_dedup_incremental(b1, empty_fps)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    assert fps1.count() == 2
    b2 = spark.createDataFrame(
        [
            (3, "First  Doc"),        # normalization-dup of doc 1 -> dropped
            (4, "third doc"),
            (5, "third doc"),         # in-batch dup -> dropped
        ],
        "doc_id long, text string",
    )
    s2, fps2 = dd.exact_dedup_incremental(b2, fps1)
    assert sorted(r["doc_id"] for r in s2.collect()) == [4]
    assert fps2.count() == 3


def test_soft_dedup_weights_conserve_family_mass(spark):
    """SoftDeDup reweighting: every document survives, a k-copy family's
    members each weigh floor(1e6/k) ppm (normalization-equal variants
    count as copies), and a unique doc weighs exactly 1e6 — the family's
    total sampling mass stays ≈ one document."""
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same  Text"), (3, "same text"),
         (4, "different")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["dup_count"], r["weight_ppm"])
           for r in dd.soft_dedup_weights(df).collect()}
    assert set(out) == {1, 2, 3, 4}          # nothing dropped
    assert out[1] == out[2] == out[3] == (3, 333333)
    assert out[4] == (1, 1_000_000)


def test_soft_dedup_weights_keeps_null_text_docs(spark):
    """NULL-text documents must SURVIVE reweighting (the operator's
    contract is every-document-kept): fingerprint(NULL) is NULL, and the
    count join-back has to be null-safe or they silently vanish. They
    form one family (the SQL-window oracle's PARTITION BY groups NULLs
    together), distinct from the empty-string family."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None), (5, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["dup_count"], r["weight_ppm"])
           for r in dd.soft_dedup_weights(df).collect()}
    assert set(out) == {1, 2, 3, 4, 5}       # NULL-text docs kept
    assert out[2] == out[4] == (2, 500_000)  # one NULL family
    assert out[5] == (1, 1_000_000)          # '' is its own family


def test_cross_group_dup_matrix(spark):
    """The leakage matrix aggregates an edge set by unordered group pair:
    intra-source edges land on the diagonal, cross-source edges on one
    (least, greatest) cell regardless of edge direction."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "b"), (5, "c")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 3), (1, 2), (4, 1), (2, 4)], "id_a long, id_b long"
    )
    out = {(r["group_a"], r["group_b"]): r["n_pairs"]
           for r in dd.cross_group_dup_matrix(docs, pairs).collect()}
    # (1,3)=a-a; (1,2) and (4,1) both a-b despite opposite direction;
    # (2,4)=b-b
    assert out == {("a", "a"): 1, ("a", "b"): 2, ("b", "b"): 1}


def test_minhash_dedup_quality_arbiter_keeps_best(spark):
    """arbiter='quality': the cluster survivor is the highest-quality copy,
    not the earliest id. Doc 1 is a punctuation-noisy copy (higher
    punct_ppm → lower composite quality); doc 2 is the clean near-dup;
    min_id keeps 1, quality must keep 2."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    noisy = ("!!! " + base.replace("lazy", "sleepy") + " ???!!!;;;###...")
    far = "completely unrelated words about spark engines and parquet files " * 3
    df = spark.createDataFrame(
        [(1, noisy), (2, base), (3, far)], "doc_id long, text string"
    )
    kw = dict(jaccard_threshold=0.5, bands=8, num_hashes=16)
    greedy = sorted(r["doc_id"] for r in
                    dd.minhash_dedup(df, **kw).collect())
    quality = dd.minhash_dedup(df, arbiter="quality", **kw)
    best = sorted(r["doc_id"] for r in quality.collect())
    assert greedy == [1, 3]      # min-id keeps the noisy earlier copy
    assert best == [2, 3]        # quality keeps the clean copy
    # the arbiter is keep_best's packed argmin, not a min(struct) sort
    plan = quality._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.minhash_dedup(df, arbiter="nope", **kw)


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    far = "completely unrelated words about spark engines and parquet files " * 3
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = dd.minhash_lsh_pairs(df, jaccard_threshold=0.5, bands=8, num_hashes=16).collect()
    assert any(p["id_a"] == 1 and p["id_b"] == 2 for p in pairs)
    assert not any(p["id_b"] == 3 or p["id_a"] == 3 for p in pairs)
    deduped = dd.minhash_dedup(df, jaccard_threshold=0.5, bands=8, num_hashes=16)
    assert sorted(r["doc_id"] for r in deduped.collect()) == [1, 3]


def test_simhash_identical_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    pairs = dd.simhash_near_dup_pairs(df, max_hamming=0).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["comp"] for r in dd.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_connected_components_logarithmic_rounds(spark):
    # A planted 64-node path is the worst case for 1-hop propagation
    # (63 rounds); hook+jump must converge in O(log n) — 6 rounds for 64.
    chain = [(i, i + 1) for i in range(63)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    labels, rounds = dd._cc_iterate(pairs, max_iters=16)
    comp = {r["id"]: r["comp"] for r in labels.collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 64
    assert rounds <= 7, f"expected logarithmic convergence, took {rounds} rounds"


def test_connected_components_star_and_cycle(spark):
    # star (hub 100) + 8-cycle + isolated edge, in one pair set
    star = [(100, 100 + i) for i in range(1, 9)]
    cycle = [(200 + i, 200 + (i + 1) % 8) for i in range(8)]
    pairs = spark.createDataFrame(star + cycle + [(300, 301)], "id_a long, id_b long")
    comp = {r["id"]: r["comp"] for r in dd.connected_components(pairs).collect()}
    assert all(comp[100 + i] == 100 for i in range(9))
    assert all(comp[200 + i] == 200 for i in range(8))
    assert comp[300] == comp[301] == 300


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z z z z z")], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dd.ngram_jaccard_pairs(df, cand).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 3)] == 0.0


# -- similarity --------------------------------------------------------------


def test_cosine_topk_exact(embeddings):
    q = embeddings.where("vec_id = 0").first()["embedding"]
    top = sim.cosine_topk(embeddings, [float(v) for v in q], k=3).collect()
    assert top[0]["vec_id"] == 0  # self-similarity = 1.0 wins
    assert abs(top[0]["cosine_sim"] - 1.0) < 1e-6


def test_ann_recalls_self(embeddings):
    q = embeddings.where("vec_id = 7").first()["embedding"]
    top = sim.ann_topk(embeddings, [float(v) for v in q], k=3, num_planes=8).collect()
    assert top and top[0]["vec_id"] == 7


def test_pq_encode_codes_in_range_and_deterministic(embeddings):
    cbs = sim.pq_codebooks_from_ids(embeddings, m=8, ksub=16)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    enc = sim.pq_encode(embeddings.limit(50), cbs)
    rows = {r["vec_id"]: list(r["pq_code"]) for r in enc.collect()}
    assert all(len(c) == 8 and all(0 <= v < 16 for v in c) for c in rows.values())
    # a codebook donor vector must encode to its own code in every subspace
    # (distance 0 to itself beats any other centroid or ties to smaller code)
    assert rows[3] == [3] * 8 or all(
        cbs[j][rows[3][j]] == cbs[j][3] for j in range(8)
    )
    again = {r["vec_id"]: list(r["pq_code"])
             for r in sim.pq_encode(embeddings.limit(50), cbs).collect()}
    assert rows == again


def test_pq_encode_numpy_matches_expression_twin(embeddings):
    """The production numpy encoder and the SQL-replayable expression twin
    must produce bit-identical code arrays — the ordered float64
    accumulation is the contract that keeps the whole PQ pipeline
    oracle-able after the codegen-blowup fix."""
    cbs = sim.pq_codebooks_from_ids(embeddings, m=8, ksub=16)
    fast = {r["vec_id"]: list(r["pq_code"])
            for r in sim.pq_encode(embeddings, cbs).collect()}
    spec = {r["vec_id"]: list(r["pq_code"])
            for r in sim.pq_encode_expr(embeddings, cbs).collect()}
    assert fast == spec


def test_batch_cosine_topk_zero_norm_guard(spark, embeddings):
    """Zero-norm corpus rows must not reach the top-k (their cosine is
    undefined; unguarded NaNs would outrank real neighbors under lexsort),
    and a zero-norm query must raise instead of silently returning NaNs."""
    import pytest as _pytest

    dim = len(embeddings.first()["embedding"])
    zero = spark.createDataFrame(
        [(999_999, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    corpus = embeddings.select("vec_id", "embedding").unionByName(zero)
    qs = embeddings.where("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    got = sim.cosine_topk_batch(corpus, qs, k=5).collect()
    assert got and all(r["vec_id"] != 999_999 for r in got)
    assert all(r["cosine_sim"] == r["cosine_sim"] for r in got)  # no NaN
    zq = spark.createDataFrame(
        [(1, [0.0] * dim)], "query_id long, query_vec array<float>"
    )
    with _pytest.raises(ValueError, match="zero-norm"):
        sim.cosine_topk_batch(corpus, zq, k=5)


def test_string_ids_flow_through_gemm_operators(spark):
    """String doc ids through the GEMM family (round 12 — all three
    previously coerced ids to int64 and crashed): cosine_topk_batch
    ranks and tie-breaks in string order, semantic_dedup_gemm's
    "earlier survivor" rule follows string order, and
    embedding_decontaminate's dropped-id pass-through keeps the type.
    NULL corpus ids are excluded; NULL query ids raise."""
    rows = [
        ("d'1", [1.0, 0.0]), ("d10", [0.9, 0.1]), ("d2", [0.9, 0.1]),
        ("", [0.5, 0.5]), (None, [0.4, 0.6]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>")
    qs = spark.createDataFrame(
        [("q1", [1.0, 0.0])], "query_id string, query_vec array<float>")
    got = sim.cosine_topk_batch(corpus, qs, k=3).collect()
    # ties at 0.9/0.1 break in STRING order: 'd10' < 'd2'
    assert [r["vec_id"] for r in got] == ["d'1", "d10", "d2"]
    assert all(r["query_id"] == "q1" for r in got)
    nullq = spark.createDataFrame(
        [(None, [1.0, 0.0])], "query_id string, query_vec array<float>")
    with pytest.raises(ValueError, match="NULL query_id"):
        sim.cosine_topk_batch(corpus, nullq, k=1)

    # semantic_dedup_batch (the GEMM twin): 'd10' and 'd2' are
    # near-identical; the string-earlier one ('d10') survives
    dd = corpus.where("vec_id IS NOT NULL")
    kept = {r["vec_id"] for r in sim.semantic_dedup_batch(
        dd, threshold=0.999, n_cells=1).collect()}
    assert "d10" in kept and "d2" not in kept

    # decontaminate: eval vec [1,0] removes only 'd'1' (cos 1.0 ≥
    # 0.999; the 0.9/0.1 rows sit at cos ≈ 0.9939 and survive)
    ev = spark.createDataFrame(
        [("e1", [1.0, 0.0])], "vec_id string, embedding array<float>")
    surv = {r["vec_id"] for r in sim.embedding_decontaminate(
        dd, ev, threshold=0.999).collect()}
    assert "d'1" not in surv and "d10" in surv and "" in surv


def test_pq_adc_matches_explicit_reconstruction(embeddings):
    """The ADC score of a candidate equals the python-computed sum of
    per-subspace squared distances from the query to the candidate's
    assigned centroids — the lookup-table plumbing loses nothing."""
    cbs = sim.pq_codebooks_from_ids(embeddings, m=8, ksub=16)
    q = [float(v) for v in embeddings.where("vec_id = 0").first()["embedding"]]
    corpus = embeddings.where("vec_id <> 0 AND vec_id < 40")
    top = sim.pq_topk(corpus, q, cbs, k=5).collect()
    codes = {r["vec_id"]: list(r["pq_code"])
             for r in sim.pq_encode(corpus, cbs).collect()}
    for r in top:
        expect = 0.0
        for j in range(8):
            center = cbs[j][codes[r["vec_id"]][j]]
            qsub = q[j * 8 : (j + 1) * 8]
            acc = 0.0
            for qv, cv in zip(qsub, center):
                d = qv - cv
                acc = acc + d * d
            expect = expect + acc
        assert abs(r["approx_dist"] - round(expect, 6)) < 1e-9, r


def test_batch_cosine_topk_matches_single_query(embeddings):
    """The GEMM batch path must return, per query, the same neighbor set
    as the expression-based single-query cosine_topk (both rank on the
    6-decimal-rounded score with id tie-break)."""
    qs = embeddings.where("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    batch = {}
    for r in sim.cosine_topk_batch(embeddings, qs, k=5).collect():
        batch.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["cosine_sim"])
        )
    for qid in (0, 1):
        qvec = [float(v) for v in
                embeddings.where(f"vec_id = {qid}").first()["embedding"]]
        single = [(r["vec_id"], r["cosine_sim"])
                  for r in sim.cosine_topk(embeddings, qvec, k=5).collect()]
        assert batch[qid] == single, (qid, batch[qid], single)


def test_ivf_pq_full_probe_equals_plain_pq(embeddings):
    """Probing every IVF cell must make IVF-PQ degenerate to plain PQ over
    the whole corpus — the cell pruning loses nothing at the exhaustive
    end, mirroring test_ivf_full_probe_equals_brute_force."""
    cbs = sim.pq_codebooks_from_ids(embeddings, m=8, ksub=16)
    cents = sim.ivf_centroids_from_ids(embeddings, n_cells=4)
    q = [float(v) for v in embeddings.where("vec_id = 0").first()["embedding"]]
    corpus = embeddings.where("vec_id <> 0")
    full = [tuple(r) for r in
            sim.ivf_pq_topk(corpus, q, cbs, cents, k=5, n_probe=4).collect()]
    plain = [tuple(r) for r in sim.pq_topk(corpus, q, cbs, k=5).collect()]
    assert full == plain
    # partial probe returns a subset of the plain-PQ candidate universe
    part = sim.ivf_pq_topk(corpus, q, cbs, cents, k=5, n_probe=1).collect()
    assert 0 < len(part) <= 5


def test_semantic_dedup_drops_exact_copies_keeps_distinct(spark):
    """SemDeDup structural guarantee: an exact duplicate vector lands in
    its twin's cell (same vector → same argmax), so the later copy is
    always dropped; clearly-distinct vectors all survive; the survivor of
    each duplicate group is the smallest id."""
    corpus, bases = _clustered_corpus(spark, per_cluster=20, dim=16)
    n = corpus.count()
    # append exact copies of vec_ids 3 and 41 under later ids
    copies = corpus.where("vec_id IN (3, 41)").selectExpr(
        "vec_id + 1000 AS vec_id", "embedding"
    )
    df = corpus.unionByName(copies)
    out = {r["vec_id"] for r in
           sim.semantic_dedup(df, threshold=0.999, n_cells=4).collect()}
    assert 1003 not in out and 1041 not in out  # later exact copies dropped
    assert 3 in out and 41 in out               # earliest copy survives
    assert len(out) == n                        # nothing else dropped at 0.999


def test_embedding_near_dup_self_join_excludes_diagonal(embeddings):
    pairs = sim.embedding_near_dup_pairs(embeddings.limit(100), threshold=0.0, num_planes=4)
    assert all(r["id_a"] < r["id_b"] for r in pairs.collect())


def _planted_near_dups(spark, n_pairs=30, dim=32):
    """Deterministic corpus: n_pairs (base, perturbed) vector pairs with
    cosine ≥ 0.95, plus unrelated fillers — no RNG state, sha256-derived."""
    import hashlib

    def unit(i):
        v = [
            (hashlib.sha256(f"{i}:{d}".encode()).digest()[0] / 255.0) * 2 - 1
            for d in range(dim)
        ]
        nrm = sum(x * x for x in v) ** 0.5
        return [x / nrm for x in v]

    rows = []
    for i in range(n_pairs):
        base = unit(i)
        noise = unit(1000 + i)
        pert = [b + 0.12 * z for b, z in zip(base, noise)]  # cos ≈ 0.993
        rows.append((2 * i, base))
        rows.append((2 * i + 1, pert))
    for i in range(n_pairs):  # fillers, uncorrelated
        rows.append((10_000 + i, unit(5000 + i)))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup_recall_vs_exact(spark):
    emb = _planted_near_dups(spark)
    exact = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_pairs_exact(emb, threshold=0.95).collect()
    }
    assert len(exact) >= 25  # the planted pairs are really there
    lsh = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_near_dup_pairs(
            emb, threshold=0.95, dim=32, num_planes=16, bands=4
        ).collect()
    }
    # precision is exact by construction (real cosine re-score)
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"banded LSH recall {recall:.2f} < 0.9"


# -- multimodal --------------------------------------------------------------


def _media_df(spark):
    return spark.createDataFrame(
        [(1, b"\x89PNG fake image bytes" * 40), (2, b"RIFF fake wav" * 100), (3, None)],
        "doc_id long, payload binary",
    )


def test_attach_media_meta(spark):
    df = mm.attach_media_meta(_media_df(spark), "payload", "image", "png")
    r = df.where("doc_id = 1").first()
    assert r["payload_meta"]["media_type"] == "image"
    assert r["payload_meta"]["size_bytes"] == len(r["payload"])


def test_extract_features_deterministic(spark):
    df = _media_df(spark)
    a = {r["doc_id"]: r["feature"] for r in mm.extract_features(df).collect()}
    b = {r["doc_id"]: r["feature"] for r in mm.extract_features(df).collect()}
    assert a == b
    assert len(a[1]) == 8
    assert all(0.0 <= v <= 1.0 for v in a[1])


def test_frame_sampling(spark):
    df = _media_df(spark).where("doc_id = 2")
    frames = mm.sample_frames(df, every_n_bytes=256).collect()
    payload_len = len(b"RIFF fake wav" * 100)
    assert len(frames) == payload_len // 256
    assert all(len(f["frame_bytes"]) <= 256 for f in frames)


def test_resize_media_deterministic(spark):
    from mydumper_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"")), (3, None)],
        "doc_id long, payload binary",
    )
    out = resize_media(df, width=4, height=2).orderBy("doc_id").collect()
    assert [len(bytes(r["payload"])) for r in out] == [8, 8, 8]  # exact target size
    assert bytes(out[0]["payload"]) == b"abcabcab"  # deterministic cycle
    assert all(r["resize_ok"] for r in out)
    # re-run → identical (the plumbing contract for exactness tests)
    again = resize_media(df, width=4, height=2).orderBy("doc_id").collect()
    assert [bytes(r["payload"]) for r in again] == [bytes(r["payload"]) for r in out]


def test_ivf_full_probe_equals_brute_force(embeddings):
    from mydumper_spark.operators.similarity import cosine_topk, ivf_topk

    qvec = [float(v) for v in embeddings.where("vec_id = 0").first()["embedding"]]
    corpus = embeddings.where("vec_id <> 0")
    exact = [r["vec_id"] for r in cosine_topk(corpus, qvec, k=5).collect()]
    # probing every cell must recover the exact answer
    full = [
        r["vec_id"]
        for r in ivf_topk(corpus, qvec, k=5, n_cells=4, n_probe=4).collect()
    ]
    assert full == exact
    # a partial probe returns a subset ranking consistent with exact scoring
    part = ivf_topk(corpus, qvec, k=5, n_cells=4, n_probe=2).collect()
    assert len(part) >= 1
    sims = [r["cosine_sim"] for r in part]
    assert sims == sorted(sims, reverse=True)


def _clustered_corpus(spark, per_cluster=40, dim=16, n_clusters=4):
    """Deterministic corpus with planted clusters: vectors scattered around
    n_clusters sha256-derived base directions (no RNG state)."""
    import hashlib

    def unit(i):
        v = [
            (hashlib.sha256(f"{i}:{d}".encode()).digest()[0] / 255.0) * 2 - 1
            for d in range(dim)
        ]
        nrm = sum(x * x for x in v) ** 0.5
        return [x / nrm for x in v]

    bases = [unit(9000 + c) for c in range(n_clusters)]
    rows, vid = [], 0
    for c, b in enumerate(bases):
        for j in range(per_cluster):
            noise = unit(c * 1000 + j)
            rows.append((vid, [x + 0.25 * z for x, z in zip(b, noise)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), bases


def test_ann_and_ivf_recall_on_clustered_corpus(spark):
    """Pin approximate-search recall@10 vs exact brute force on a corpus
    with REAL near neighbors (planted clusters). The sf fixture embeddings
    are near-random (max pairwise cosine ≈ 0.5) — no LSH can recall there,
    by geometry, so quality is asserted where the operator is designed to
    work; the fixture queries remain rows-only sanity."""
    corpus, bases = _clustered_corpus(spark, per_cluster=50, dim=16)
    qvec = [float(x) for x in bases[1]]
    exact = {r["vec_id"] for r in sim.cosine_topk(corpus, qvec, k=10).collect()}
    ann = {
        r["vec_id"]
        for r in sim.ann_topk(
            corpus, qvec, k=10, dim=16, num_planes=12, probe_hamming=3
        ).collect()
    }
    assert len(ann & exact) / 10 >= 0.8, sorted(ann & exact)
    cents = sim.train_ivf_centroids(corpus, n_cells=4, sample_n=5000)
    ivf = {
        r["vec_id"]
        for r in sim.ivf_topk(
            corpus, qvec, k=10, n_cells=4, n_probe=2, centroids=cents
        ).collect()
    }
    assert len(ivf & exact) / 10 >= 0.9, sorted(ivf & exact)


def test_ivf_trained_centroids_recall(spark):
    """KMeans-trained centroids must not lose recall vs the hash-sampled
    fallback, and must probe the right cell on a clustered corpus
    (VERDICT r1 task #6)."""
    corpus, bases = _clustered_corpus(spark)
    cents = sim.train_ivf_centroids(corpus, n_cells=4, sample_n=1000)
    assert len(cents) == 4
    recalls = {}
    for variant, kw in (("trained", {"centroids": cents}), ("sampled", {})):
        hits = total = 0
        for c in range(4):
            q = [float(x) for x in bases[c]]
            exact = {r["vec_id"] for r in sim.cosine_topk(corpus, q, k=10).collect()}
            got = {
                r["vec_id"]
                for r in sim.ivf_topk(
                    corpus, q, k=10, n_cells=4, n_probe=1, **kw
                ).collect()
            }
            hits += len(got & exact)
            total += len(exact)
        recalls[variant] = hits / total
    assert recalls["trained"] >= recalls["sampled"]
    assert recalls["trained"] >= 0.9, f"trained recall {recalls['trained']:.2f}"


def test_pq_trained_codebooks_beat_id_derived(spark):
    """KMeans-trained PQ codebooks must (a) reduce quantization distortion
    vs the id-derived oracle twin — distortion is exactly what Lloyd's
    minimizes, so this is the guaranteed win — and (b) not lose ADC top-k
    recall on a corpus with real neighbor structure (VERDICT r5 task #6,
    the PQ mirror of test_ivf_trained_centroids_recall)."""
    corpus, bases = _clustered_corpus(spark, per_cluster=50, dim=16)
    trained = sim.train_pq_codebooks(corpus, m=8, ksub=32, sample_n=1000)
    derived = sim.pq_codebooks_from_ids(corpus, m=8, ksub=32)
    assert len(trained) == 8 and len(trained[0]) == 32 and len(trained[0][0]) == 2
    d_tr = sim.pq_distortion(corpus, trained)
    d_id = sim.pq_distortion(corpus, derived)
    # KMeans minimizes exactly this; on the clustered corpus it wins by >2x
    # (measured ~150x — id-derived donors all come from cluster 0)
    assert d_tr < 0.5 * d_id, (d_tr, d_id)
    # ground truth in the metric ADC approximates: exact squared-EUCLIDEAN
    # top-k (cosine top-k would be a metric mismatch — corpus vectors are
    # base + noise with norms > 1)
    import numpy as np

    rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([[float(v) for v in r["embedding"]] for r in rows])
    hits = {"trained": 0, "derived": 0}
    total = 0
    for c in range(4):
        q = [float(x) for x in bases[c]]
        d2 = ((mat - np.array(q)[None, :]) ** 2).sum(axis=1)
        exact = set(ids[np.argsort(d2, kind="stable")[:10]].tolist())
        total += len(exact)
        for name, cbs in (("trained", trained), ("derived", derived)):
            got = {r["vec_id"] for r in sim.pq_topk(corpus, q, cbs, k=10).collect()}
            hits[name] += len(got & exact)
    # intra-cluster top-10 of 50 near-equidistant members is genuinely hard
    # for 8×2-dim quantizers — the pin is trained ≥ derived plus a floor
    # above the ~0.2 random-member baseline (measured: 13/40 vs 5/40)
    assert hits["trained"] >= hits["derived"], hits
    assert hits["trained"] / total >= 0.25, hits


def test_token_histogram_buckets(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "one two three four five six seven eight nine ten eleven"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["bucket"]: r for r in tx.token_histogram(df, bucket_width=10).collect()}
    assert out[0]["n_docs"] == 2  # 3 tokens + 0 tokens
    assert out[1]["n_docs"] == 1  # 11 tokens
    assert out[1]["lo"] == 10 and out[1]["hi"] == 19


def test_group_quantiles_exact_rank_pick(spark):
    rows = [(i, "g") for i in range(1, 101)]  # values 1..100
    df = spark.createDataFrame(rows, "v long, g string")
    out = {r["q"]: r["value"] for r in tx.group_quantiles(df, "v", "g").collect()}
    assert out[0.5] == 50  # ceil(0.5*100) = 50
    assert out[0.9] == 90  # 0.9*100 rounds to exactly 90.0 in IEEE
    assert out[0.99] == 99


# -- as-of join --------------------------------------------------------------


def _asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 200), (3, 1, 50), (4, 2, 100), (5, 3, 10)],
        "id long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0), (1, 150, 2.0), (2, 90, 3.0)],
        "k long, ts long, v double",
    )
    return left, right


def test_asof_backward_inclusive_ties(spark):
    from mydumper_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    out = {
        r["id"]: (r["ts_r"], r["v_r"])
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", right_cols=["v"]
        ).collect()
    }
    assert out[1] == (100, 1.0)   # coincident ts matches (inclusive)
    assert out[2] == (150, 2.0)   # latest prior wins
    assert out[3] == (None, None) # nothing at or before ts=50
    assert out[4] == (90, 3.0)    # per-key isolation
    assert out[5] == (None, None) # key with no right rows survives (left join)


def test_asof_forward_and_tolerance(spark):
    from mydumper_spark.operators.asof import asof_join

    left, right = _asof_frames(spark)
    fwd = {
        r["id"]: r["ts_r"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_cols=["v"], direction="forward",
        ).collect()
    }
    assert fwd[3] == 100   # next upcoming
    assert fwd[2] is None  # nothing at or after 200
    tol = {
        r["id"]: r["ts_r"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_cols=["v"], tolerance=10,
        ).collect()
    }
    assert tol[1] == 100   # |100-100| <= 10
    assert tol[2] is None  # |200-150| > 10 → nulled, row kept


def test_range_join_exact_vs_bruteforce(spark):
    """The banded equi-join must produce exactly the brute-force pair set,
    incl. band-boundary pairs, each exactly once."""
    from mydumper_spark.operators.rangejoin import range_join

    left = spark.createDataFrame(
        [(i, 1, 10 * i) for i in range(20)], "id long, k long, ts long"
    )
    right = spark.createDataFrame(
        [(100 + i, 1, 7 * i) for i in range(30)], "id long, k long, ts long"
    )
    lo, up = 3, 25  # awkward band width on purpose
    got = sorted(
        (r["id_l"], r["id_r"])
        for r in range_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", lower=lo, upper=up
        ).collect()
    )
    want = sorted(
        (i, 100 + j)
        for i in range(20)
        for j in range(30)
        if lo <= 7 * j - 10 * i <= up
    )
    assert got == want and len(got) == len(set(got))


def test_snapshot_diff_statuses(spark):
    from mydumper_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "pk long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.5), (3, "c", None), (4, "d", 4.0), (5, "e", 5.0)],
        "pk long, s string, v double",
    )
    got = {r["pk"]: r["status"] for r in snapshot_diff(old, new, ["pk"]).collect()}
    # 1 deleted, 2 changed, 3 unchanged (null-safe digest), 4 unchanged, 5 added
    assert got == {1: "deleted", 2: "changed", 5: "added"}
    # null → value transition is a change, not a silent equality
    new2 = new.withColumn("v", F.when(F.col("pk") == 3, 3.0).otherwise(F.col("v")))
    got2 = {r["pk"]: r["status"] for r in snapshot_diff(old, new2, ["pk"]).collect()}
    assert got2[3] == "changed"


def test_approx_distinct_within_tolerance(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    approx = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n), (k, n, approx[k])


def test_ngram_topk_and_doc_frequency(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "")], "doc_id long, text string"
    )
    top = [(r["ngram"], r["n_occurrences"]) for r in tx.ngram_topk(df, n=2, top=3).collect()]
    assert top[0] == ("a b", 3)  # two in doc1, one in doc2
    dfreq = {r["word"]: r["doc_freq"] for r in tx.doc_frequency(df, top=10).collect()}
    assert dfreq["a"] == 2 and dfreq["b"] == 2 and dfreq["x"] == 1
    assert "" not in dfreq  # empty doc → empty token array → explode drops it


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@ex-ample.co.uk now"),
            (2, "call +1 (415) 555-0199 today"),
            (3, "ssn 123-45-6789 card 4111 1111 1111 1111"),
            (4, "clean text stays clean"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["t"] for r in df.select("id", tx.redact_pii(F.col("text")).alias("t")).collect()}
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "call <PHONE> today"
    assert out[3] == "ssn <SSN> card <CARD>"
    assert out[4] == "clean text stays clean"


def test_fk_orphans_planted(spark):
    """The integrity auditor must flag planted orphans and respect NULL-FK
    semantics (a NULL FK is absent, not dangling)."""
    from mydumper_spark.operators.integrity import fk_orphans, integrity_report

    parent = spark.createDataFrame([(1,), (2,)], "pid long")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, None)], "cid long, fk long"
    )
    orphans = fk_orphans(child, parent, "fk", "pid").collect()
    assert [r["cid"] for r in orphans] == [12]  # 99 dangles; NULL is not an orphan
    rep = integrity_report([("child->parent", child, "fk", parent, "pid")]).first()
    assert rep["n_rows"] == 4 and rep["n_orphans"] == 1


# -- sampling ----------------------------------------------------------------


def test_bernoulli_sample_deterministic_and_layout_stable(spark):
    from mydumper_spark.operators import sampling as sp

    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    a = {r["k"] for r in sp.bernoulli_sample(df, "k", 0.2).collect()}
    # membership must not depend on partition layout
    b = {r["k"] for r in sp.bernoulli_sample(df.repartition(13), "k", 0.2).collect()}
    assert a == b
    # fraction lands near the target (Lehmer is uniform on [1, M-1])
    assert abs(len(a) / 10_000 - 0.2) < 0.02


def test_split_train_holdout_disjoint_exhaustive(spark):
    from mydumper_spark.operators import sampling as sp

    df = spark.range(0, 5_000).withColumnRenamed("id", "k")
    train, hold = sp.split_train_holdout(df, "k", holdout_fraction=0.1)
    t = {r["k"] for r in train.collect()}
    h = {r["k"] for r in hold.collect()}
    assert t.isdisjoint(h)
    assert len(t) + len(h) == 5_000


def test_cluster_safe_split_never_straddles_clusters(spark):
    """The leakage invariant: every near-dup cluster lands wholly on one
    side of the split, and the assignment is exhaustive over the corpus
    with singletons hashed on their own id (identical to the plain split
    for unclustered docs)."""
    from mydumper_spark.operators import sampling as sp

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    # plant clusters: docs 0-9 share cluster 0, docs 10-14 share cluster 10
    clusters = spark.createDataFrame(
        [(i, 0) for i in range(10)] + [(i, 10) for i in range(10, 15)],
        "doc_id long, cluster_id long",
    )
    out = sp.cluster_safe_split(df, clusters, holdout_fraction=0.3).collect()
    assert len(out) == 200
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values()), by_cluster
    # singleton assignment matches the plain key split (same hash, same cut)
    train, hold = sp.split_train_holdout(
        df.where("doc_id >= 15"), "doc_id", holdout_fraction=0.3
    )
    plain_hold = {r["doc_id"] for r in hold.collect()}
    ours_hold = {r["doc_id"] for r in out
                 if r["doc_id"] >= 15 and r["split"] == "holdout"}
    assert plain_hold == ours_hold


def test_stratified_fixed_exact_counts(spark):
    from mydumper_spark.operators import sampling as sp

    rows = [(i, "g%d" % (i % 3)) for i in range(300)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "k long, g string")
    out = sp.stratified_fixed(df, ["g"], 7, "k")
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"g0": 7, "g1": 7, "g2": 7, "tiny": 1}  # min(n, stratum size)
    # deterministic: same rows both runs
    again = sp.stratified_fixed(df, ["g"], 7, "k")
    assert {r["k"] for r in out.collect()} == {r["k"] for r in again.collect()}


def test_stratified_fractions_per_group_gates(spark):
    from mydumper_spark.operators import sampling as sp

    rows = [(i, "keep" if i % 2 else "drop") for i in range(2_000)]
    df = spark.createDataFrame(rows, "k long, g string")
    out = sp.stratified_fractions(df, "g", {"keep": 1.0, "drop": 0.0}, "k")
    got = out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    assert {r["g"]: r["n"] for r in got} == {"keep": 1_000}


def test_cap_per_group_counts_order_and_determinism(spark):
    from mydumper_spark.operators import sampling as sp

    rows = [(i, "g%d" % (i % 2), float(i % 7)) for i in range(100)] + [
        (1000, "tiny", 0.0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double")
    out = sp.cap_per_group(df, "source", n=5, id_col="doc_id")
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"g0": 5, "g1": 5, "tiny": 1}
    again = sp.cap_per_group(df, "source", n=5, id_col="doc_id")
    assert ({r["doc_id"] for r in out.collect()}
            == {r["doc_id"] for r in again.collect()})
    # quality-ordered variant keeps the top-q docs, not the hash lottery
    best = sp.cap_per_group(df, "source", n=3, order_col="q", id_col="doc_id")
    assert all(r["q"] == 6.0 for r in best.where("source = 'g0'").collect())


def test_mix_corpus_budget_fill_and_drop(spark):
    """Per group: selected docs' tokens reach the budget (first doc to
    cross included) unless the group runs dry; unbudgeted groups drop."""
    from mydumper_spark.operators import sampling as sp

    rows = [(i, "a" if i < 40 else ("b" if i < 60 else "c"),
             "tok " * (5 + i % 11)) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"a": 90, "b": 1_000_000}
    out = sp.mix_corpus(df, budgets)
    got = out.select("source", "doc_id", "n_tokens", "__pre").collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"a", "b"}          # 'c' has no budget -> dropped
    a_total = sum(r["n_tokens"] for r in by_src["a"])
    a_max = max(r["n_tokens"] for r in by_src["a"])
    assert 90 <= a_total < 90 + a_max          # fills budget, overshoot < 1 doc
    assert len(by_src["b"]) == 20              # runs dry: whole group
    # deterministic membership
    again = {r["doc_id"] for r in sp.mix_corpus(df, budgets).collect()}
    assert again == {r["doc_id"] for r in got}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one group"):
        sp.mix_corpus(df, {})


def test_winnowing_guarantee(spark):
    """Documents sharing a long token run must share >=1 winnow fingerprint;
    disjoint documents share none."""
    from pyspark.sql import functions as F

    from mydumper_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, f"PREFIX one two {shared}"),
            (2, f"{shared} SUFFIX three four five"),
            (3, "completely different words with zero overlap whatsoever here"),
        ],
        "id long, text string",
    )
    rows = {
        r["id"]: set(r["fp"])
        for r in df.select("id", winnow_fingerprints(F.col("text")).alias("fp")).collect()
    }
    assert rows[1] & rows[2]          # shared run → shared fingerprint
    assert not (rows[1] & rows[3])    # disjoint → no collision
    assert len(rows[1]) < 12          # sketch, not the full hash list


def test_apply_diff_roundtrip(spark):
    """old + diff(old→new) == new, for every status class at once — the
    incremental-restore property."""
    from mydumper_spark.operators.diff import apply_diff, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "pk long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, "d"), (5, "e")], "pk long, v string"
    )
    d = snapshot_diff(old, new, ["pk"])
    merged = {(r["pk"], r["v"]) for r in apply_diff(old, new, d, ["pk"]).collect()}
    assert merged == {(r["pk"], r["v"]) for r in new.collect()}


def test_ann_index_pruned_query_matches_inline(spark, embeddings, tmp_path):
    """The persisted-ANN layout: partitioned write, pruned read. The indexed
    query must equal the inline ann_topk exactly (band pruning is lossless
    for the same probe budget), and the scan must actually prune — fewer
    input files than the full index, PartitionFilters in the plan."""
    from mydumper_spark.operators.similarity import ann_topk, ann_topk_indexed, write_ann_index

    path = str(tmp_path / "ann_idx")
    dim = len(embeddings.first()["embedding"])
    write_ann_index(embeddings, path, dim=dim, num_planes=16, band_bits=4)
    qvec = [float(v) for v in embeddings.where("vec_id = 0").first()["embedding"]]

    inline = ann_topk(embeddings, qvec, k=10, num_planes=16, probe_hamming=2).collect()
    indexed_df = ann_topk_indexed(spark, path, qvec, k=10, num_planes=16,
                                  band_bits=4, probe_hamming=2)
    indexed = indexed_df.collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in indexed] == [
        (r["vec_id"], r["cosine_sim"]) for r in inline
    ]

    # pruning proof: the scan's PartitionFilters must enumerate exactly the
    # 11-of-16 bands within Hamming 2 of the query band (sum C(4,i), i<=2)
    # — inputFiles() reflects the unpruned relation, so assert on the plan
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [sig_band" in plan, plan
    inset = plan.split("PartitionFilters: [sig_band")[1].split("]")[0]
    n_bands = len(inset.split("INSET")[1].split(","))
    assert n_bands == 11, (n_bands, inset)


def test_ivf_index_pruned_query_matches_inline(spark, embeddings, tmp_path):
    """Persisted IVF: partitioned by cell, query reads only probed cells,
    result identical to the inline ivf_topk over the same centroids."""
    from mydumper_spark.operators.similarity import (
        ivf_topk, ivf_topk_indexed, train_ivf_centroids, write_ivf_index,
    )

    corpus = embeddings.where("vec_id <> 0")
    qvec = [float(v) for v in embeddings.where("vec_id = 0").first()["embedding"]]
    cents = train_ivf_centroids(corpus, n_cells=4, sample_n=5000)
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(corpus, path, n_cells=4, centroids=cents)

    inline = ivf_topk(corpus, qvec, k=10, n_cells=4, n_probe=2, centroids=cents).collect()
    indexed_df = ivf_topk_indexed(spark, path, cents, qvec, k=10, n_probe=2)
    assert [(r["vec_id"], r["cosine_sim"]) for r in indexed_df.collect()] == [
        (r["vec_id"], r["cosine_sim"]) for r in inline
    ]
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [__cell" in plan, plan
    inset = plan.split("PartitionFilters: [__cell")[1].split("]")[0]
    n_cells_read = len(inset.split("(")[-1].split(","))
    assert n_cells_read == 2, (n_cells_read, inset)


def test_ivf_pq_index_pruned_query_matches_inline(spark, embeddings, tmp_path):
    """Persisted IVF-PQ: code arrays partitioned by cell (no embedding
    column stored at all), query reads only probed cells and scores codes,
    result identical to the inline ivf_pq_topk."""
    from mydumper_spark.operators.similarity import (
        ivf_centroids_from_ids,
        ivf_pq_topk,
        ivf_pq_topk_indexed,
        pq_codebooks_from_ids,
        write_ivf_pq_index,
    )

    corpus = embeddings.where("vec_id <> 0")
    qvec = [float(v) for v in embeddings.where("vec_id = 0").first()["embedding"]]
    cents = ivf_centroids_from_ids(embeddings, n_cells=4)
    cbs = pq_codebooks_from_ids(embeddings, m=8, ksub=16)
    path = str(tmp_path / "ivfpq_idx")
    write_ivf_pq_index(corpus, path, cbs, cents)

    stored_cols = set(spark.read.parquet(path).columns)
    assert stored_cols == {"vec_id", "pq_code", "__cell"}  # vectors absent

    inline = ivf_pq_topk(corpus, qvec, cbs, cents, k=10, n_probe=2).collect()
    indexed_df = ivf_pq_topk_indexed(spark, path, qvec, cbs, cents, k=10, n_probe=2)
    assert [(r["vec_id"], r["approx_dist"]) for r in indexed_df.collect()] == [
        (r["vec_id"], r["approx_dist"]) for r in inline
    ]
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [__cell" in plan, plan


def test_ngram_novelty_planted(spark):
    """Planted values: a doc fully copied as another doc's prefix has zero
    novel grams; the doc that extends it keeps only its unshared grams
    novel; an unrelated doc is fully novel."""
    shared = "alpha beta gamma delta epsilon"          # 3 distinct 3-grams
    df = spark.createDataFrame(
        [
            (1, shared),                               # all grams shared w/ 2
            (2, shared + " zeta eta"),                 # 5 grams, 3 shared
            (3, "one two three four"),                 # 2 grams, all novel
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.ngram_novelty(df).collect()}
    assert rows[1]["n_grams"] == 3 and rows[1]["n_novel"] == 0
    assert rows[1]["novelty_ppm"] == 0
    assert rows[2]["n_grams"] == 5 and rows[2]["n_novel"] == 2
    assert rows[2]["novelty_ppm"] == 400_000
    assert rows[3]["n_grams"] == 2 and rows[3]["novelty_ppm"] == 1_000_000


def test_token_frequency_score_planted(spark):
    # corpus: 10 tokens total; "common" appears 5x, rares once each
    df = spark.createDataFrame(
        [
            (1, "common common common common common"),   # all high-freq
            (2, "rare1 rare2 rare3 rare4 rare5"),        # all 1/10 freq
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.token_frequency_score(df).collect()}
    # common: 5/10 = 500000000 ppb; rare: 1/10 = 100000000 ppb
    assert rows[1]["mean_token_freq_ppb"] == 500_000_000
    assert rows[2]["mean_token_freq_ppb"] == 100_000_000
    assert rows[1]["n_tokens"] == rows[2]["n_tokens"] == 5


def test_token_frequency_vocab_cap_renormalizes(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "b b c d")], "doc_id long, text string"
    )
    # cap to top-1 vocab (a: 3 occurrences of 8 -> but renormalized over
    # retained vocab: 3/3); words outside cap score 0
    rows = {r["doc_id"]: r for r in tx.token_frequency_score(df, vocab_top=1).collect()}
    assert rows[1]["mean_token_freq_ppb"] == 750_000_000  # (3*1e9 + 0) DIV 4
    assert rows[2]["mean_token_freq_ppb"] == 0


def test_dsir_importance_ranks_target_like_docs(spark):
    """A document sharing the target slice's vocabulary must outrank
    documents with disjoint vocabulary, and dsir_select must surface it
    first (deterministically)."""
    from mydumper_spark.operators.text import dsir_select, importance_weights

    target = spark.createDataFrame(
        [(100, "quantum flux capacitor resonance cascade"),
         (101, "flux resonance quantum entanglement cascade")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "quantum flux resonance cascade in the lab"),
         (2, "the cat sat on the mat all day long"),
         (3, "stock prices fell sharply on tuesday morning"),
         (4, "flux capacitor resonance measured with quantum probes")],
        "doc_id long, text string",
    )
    w = {r["doc_id"]: r["score_avg"]
         for r in importance_weights(corpus, target).collect()}
    assert w[1] > w[2] and w[1] > w[3]
    assert w[4] > w[2] and w[4] > w[3]
    top = [r["doc_id"] for r in dsir_select(corpus, target, n=2).collect()]
    assert set(top) == {1, 4}
    again = [r["doc_id"] for r in dsir_select(corpus, target, n=2).collect()]
    assert top == again


def test_dsir_target_pred_matches_target_dataframe(spark, documents):
    """r15: when the target is an id-predicate slice of the corpus, the
    target_pred fast path (target grams filtered out of the corpus gram
    checkpoint — no second corpus pass) must produce byte-identical
    weights to passing the slice as a target DataFrame."""
    from mydumper_spark.operators.text import importance_weights

    docs = documents.select("doc_id", "text")
    via_df = importance_weights(
        docs, docs.where("doc_id % 17 = 0"), hash_fn="sha256").collect()
    via_pred = importance_weights(
        docs, None, hash_fn="sha256",
        target_pred="doc_id % 17 = 0").collect()
    assert sorted(map(tuple, via_df)) == sorted(map(tuple, via_pred))


def test_table_profile_values_and_approx_mode(spark):
    """Profile counters on a table with known nulls/dupes; the approx
    (HLL) mode returns the same shape with near-exact cardinalities."""
    from mydumper_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "a", None), (3, "b", 1.25), (4, None, 1.25)],
        "id long, s string, v double",
    )
    prof = {r["column_name"]: r for r in
            table_profile(df, approx_distinct=False).collect()}
    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_nulls"] == 0
    assert prof["id"]["n_distinct"] == 4
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["s"]["min_str"] == "a" and prof["s"]["max_str"] == "b"
    assert prof["v"]["n_distinct"] == 2
    assert prof["v"]["min_str"] == "1.250000"   # canonical decimal form
    assert prof["v"]["max_str"] == "2.500000"
    approx = {r["column_name"]: r for r in
              table_profile(df, approx_distinct=True).collect()}
    # HLL is exact at this cardinality; the contract is "close", the pin
    # here is just that the sketch path runs and agrees at tiny scale
    assert approx["id"]["n_distinct"] == 4
    # complex columns: profiled with NULL bounds, not an error
    arr = spark.createDataFrame([(1, [1.0, 2.0])], "id long, e array<double>")
    p2 = {r["column_name"]: r for r in table_profile(arr).collect()}
    assert p2["e"]["min_str"] is None and p2["e"]["n_rows"] == 1


def test_shuffle_corpus_deterministic_sharded_consistency(spark):
    """Same seed → same permutation; different seed → different order;
    sharded mode contains exactly the same rows with shard-ascending keys
    consistent with consuming shards in order."""
    from mydumper_spark.operators.sampling import shuffle_corpus

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = [r["doc_id"] for r in shuffle_corpus(df, seed=1).collect()]
    b = [r["doc_id"] for r in shuffle_corpus(df, seed=1).collect()]
    c = [r["doc_id"] for r in shuffle_corpus(df, seed=2).collect()]
    assert a == b
    assert a != c and sorted(a) == sorted(c) == list(range(500))
    sharded = shuffle_corpus(df, seed=1, n_shards=8)
    rows = sharded.collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(500))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["__shard"], []).append(r["shuffle_key"])
    assert set(by_shard) <= set(range(8))
    for keys in by_shard.values():   # sorted within each shard
        assert keys == sorted(keys)
    # RANGE buckets: shard intervals are disjoint and ordered, so
    # concatenating shards 0..n-1 reproduces the exact global order
    ordered_shards = sorted(by_shard)
    for lo, hi in zip(ordered_shards, ordered_shards[1:]):
        assert max(by_shard[lo]) < min(by_shard[hi])
    concat = [k for s in ordered_shards for k in by_shard[s]]
    assert concat == sorted(r["shuffle_key"] for r in rows)


def test_embedding_decontaminate_drops_eval_and_near(spark):
    """Eval members drop themselves (self-cosine 1.0), a near-copy of an
    eval vector drops at high threshold, unrelated vectors survive; empty
    or all-zero eval sets drop nothing."""
    corpus, bases = _clustered_corpus(spark, per_cluster=10, dim=16)
    ev = corpus.where("vec_id IN (0, 15)")
    near = corpus.where("vec_id = 0").selectExpr(
        "900 AS vec_id",
        "transform(embedding, x -> float(x * 1.0001)) AS embedding",
    )
    df = corpus.unionByName(near)
    out = {r["vec_id"] for r in
           sim.embedding_decontaminate(df, ev, threshold=0.999).collect()}
    assert 0 not in out and 15 not in out    # eval members removed
    assert 900 not in out                    # scaled copy: cosine 1.0
    assert len(out) == df.count() - 3        # everyone else survives
    zero_ev = spark.createDataFrame(
        [(1, [0.0] * 16)], "vec_id long, embedding array<float>"
    )
    assert sim.embedding_decontaminate(df, zero_ev).count() == df.count()
    empty_ev = ev.where("vec_id < 0")
    assert sim.embedding_decontaminate(df, empty_ev).count() == df.count()


def test_null_text_documents_pinned_behavior(spark):
    """NULL-text docs through the dedup/hygiene ops — pinned so the
    composition contract stays explicit: exact dedup keeps the null doc
    (its own fingerprint group), line dedup keeps it as an empty page
    (NULL text = empty page, the repo-wide rule — round 10 closed the
    inconsistency where '' survived but NULL silently vanished), and
    quality is NULL (so a --min-quality floor drops it — no text, no
    quality)."""
    from mydumper_spark.operators.corpus import dedup_lines_global
    from mydumper_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "hello world")],
        "doc_id long, text string",
    )
    assert sorted(r["doc_id"] for r in exact_dedup(df).collect()) == [1, 2]
    lines = {r["doc_id"]: r["clean_text"]
             for r in dedup_lines_global(df).collect()}
    assert sorted(lines) == [1, 2, 3] and lines[2] == ""
    q = {r["doc_id"]: r["quality"] for r in tx.quality_score(df).collect()}
    assert q[2] is None and q[1] is not None


def test_semantic_dedup_batch_twin_identical(spark):
    """The GEMM applyInPandas production path must drop exactly the same
    set as the expression-join spec over identical cells/threshold."""
    corpus, _ = _clustered_corpus(spark, per_cluster=25, dim=16)
    cents = sim.ivf_centroids_from_ids(corpus, n_cells=4)
    a = sorted(r["vec_id"] for r in
               sim.semantic_dedup(corpus, 0.9, 4, centroids=cents).collect())
    b = sorted(r["vec_id"] for r in
               sim.semantic_dedup_batch(corpus, 0.9, 4, centroids=cents).collect())
    assert a == b and 0 < len(a) <= corpus.count()


def test_shuffle_corpus_sharded_file_order_is_permutation(spark, tmp_path):
    """ADVICE r6: physical layout must match the contract. Sharded output
    written as-is (no consumer-side ORDER BY) and read back file-by-file in
    filename order reproduces the exact global permutation — the range
    exchange lays partitions out in shard order, unlike a hash
    repartition which scatters shards across files."""
    import glob as _glob

    from mydumper_spark.operators.sampling import shuffle_corpus

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    total = [r["doc_id"] for r in shuffle_corpus(df, seed=3).collect()]
    out = str(tmp_path / "shards")
    shuffle_corpus(df, seed=3, n_shards=8).write.parquet(out)
    got = []
    for f in sorted(_glob.glob(f"{out}/part-*.parquet")):
        got.extend(r["doc_id"] for r in spark.read.parquet(f).collect())
    assert got == total


def test_semantic_dedup_max_cell_guard_splits_hot_cell(spark):
    """r6 verdict scale-killer fix: a planted hot cell (one dense region far
    larger than max_cell) is hyperplane-sub-split until every group fits
    the bound, while exact twins are never separated and both twins stay
    pinned identical under the guard."""
    from mydumper_spark.operators import similarity as sim

    # hot region: 120 points in a tight ball around one base direction;
    # cold regions: 10 points each — max_cell=32 forces splitting the ball
    import hashlib

    dim = 16

    def unit(i):
        v = [(hashlib.sha256(f"{i}:{d}".encode()).digest()[0] / 255.0) * 2 - 1
             for d in range(dim)]
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    bases = [unit(9100 + c) for c in range(3)]
    rows, vid = [], 0
    for j in range(120):
        noise = unit(5000 + j)
        rows.append((vid, [x + 0.15 * z for x, z in zip(bases[0], noise)]))
        vid += 1
    for c in (1, 2):
        for j in range(10):
            noise = unit(c * 1000 + j)
            rows.append((vid, [x + 0.15 * z for x, z in zip(bases[c], noise)]))
            vid += 1
    # planted exact twin inside the hot region: must stay together
    rows.append((900, rows[0][1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = bases

    assigned = sim._semantic_cells(df, 3, "vec_id", "embedding", cents,
                                  max_cell=32)
    sizes = [r["count"] for r in assigned.groupBy("__cell").count().collect()]
    assert max(sizes) <= 32  # the bound holds after splitting
    assert len(sizes) > 3  # the hot cell really did split
    twin_cells = assigned.where(F.col("vec_id").isin(0, 900)) \
        .select("__cell").distinct().count()
    assert twin_cells == 1  # identical vectors share every hyperplane bit

    spec = sorted(r["vec_id"] for r in sim.semantic_dedup(
        df, 0.999, 3, centroids=cents, max_cell=32).collect())
    batch = sorted(r["vec_id"] for r in sim.semantic_dedup_batch(
        df, 0.999, 3, centroids=cents, max_cell=32).collect())
    assert spec == batch  # twins pinned identical with the guard on
    assert 900 not in spec and 0 in spec  # exact dup still caught


def test_semantic_dedup_batch_chunked_gemm_exact(spark, monkeypatch):
    """The chunked GEMM (bounded similarity buffer) is exact: forcing a
    tiny chunk size changes nothing vs the spec twin."""
    from mydumper_spark.operators import similarity as sim

    corpus, _ = _clustered_corpus(spark, per_cluster=25, dim=16)
    cents = [[float(x) for x in r["embedding"]]
             for r in corpus.orderBy("vec_id").limit(4).collect()]
    monkeypatch.setattr(sim, "_GEMM_CHUNK", 7)
    spec = sorted(r["vec_id"] for r in
                  sim.semantic_dedup(corpus, 0.9, 4, centroids=cents).collect())
    batch = sorted(r["vec_id"] for r in
                   sim.semantic_dedup_batch(corpus, 0.9, 4,
                                            centroids=cents).collect())
    assert spec == batch


def test_ngram_decontaminate_drops_overlapping_docs(spark):
    """GPT-3-style n-gram decontamination: exact eval copies, docs sharing
    any single n-gram, and short-doc exact copies are dropped; docs with
    no n-gram overlap survive."""
    from mydumper_spark.operators.dedup import ngram_decontaminate

    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (101, "tiny doc")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # exact eval copy
            (2, "intro words then alpha beta gamma delta epsilon and on"),
            (3, "totally disjoint text with no overlap at all here"),
            (4, "tiny doc"),                               # short exact copy
            (5, "tiny document"),  # shares tokens but not the whole-doc gram
            (6, "zeta epsilon delta gamma beta alpha"),    # reversed: no gram
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in ngram_decontaminate(corpus, eval_df, n=5).collect()
    )
    assert kept == [3, 5, 6]
    # the non-broadcast path returns the identical verdicts
    kept2 = sorted(
        r["doc_id"]
        for r in ngram_decontaminate(corpus, eval_df, n=5,
                                     broadcast_eval=False).collect()
    )
    assert kept2 == kept


def test_repetition_stats_planted_values(spark):
    """Hand-computed Gopher repetition signals on a planted doc: 4 lines
    with one duplicated pair, a dominant repeated 2-gram, and a repeated
    5-gram block."""
    from mydumper_spark.operators.text import repetition_stats

    text = "ab ab ab ab\nunique line one\nab ab ab ab\nfinal bit"
    # doc 3: a cyclic 6-token stream — 5-gram windows 1 and 7 (and 2 and 8)
    # coincide, so exactly those two grams are duplicated (cnt=2 each)
    cyc = "one two three four five six one two three four five six"
    df = spark.createDataFrame([(1, text), (2, "clean text no repeats"),
                                (3, cyc)],
                               "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    r1 = out[1]
    assert r1["n_lines"] == 4
    # 4 lines, 3 distinct -> 1/4 duplicated
    assert r1["dup_line_ppm"] == 250000
    # chars in the duplicated line (11+11) over total line chars (11+15+11+9)
    assert r1["dup_line_char_ppm"] == 22 * 1000000 // 46
    # top 2-gram "ab ab" occurs 6 times (3 per ab-line), len 5 -> 30 chars
    total = len(text)
    assert r1["top_2gram_char_ppm"] == 30 * 1000000 // total
    # tokens cross newlines (\s+ split), and every 5-token window of doc 1
    # is distinct — a doc full of SHORT repeats has zero 5-gram repetition
    assert r1["dup_5gram_char_ppm"] == 0
    r2 = out[2]
    assert (r2["dup_line_ppm"], r2["dup_line_char_ppm"],
            r2["dup_5gram_char_ppm"]) == (0, 0, 0)
    r3 = out[3]
    # the two duplicated 5-grams each cover 2 × 23 chars
    assert r3["dup_5gram_char_ppm"] == (2 * 23 + 2 * 23) * 1000000 // len(cyc)


def test_bm25_topk_ranking_and_saturation(spark):
    """BM25 integer ranking: a doc matching both query terms outranks a
    doc spamming one term (idf weighting + tf saturation), and the length
    normalization penalizes a padded doc vs an identical shorter one."""
    from mydumper_spark.operators.text import bm25_topk

    pad = " ".join(["filler"] * 40)
    df = spark.createDataFrame(
        [
            (1, "spark shuffle " + pad),            # both terms, padded
            (2, "spark shuffle"),                    # both terms, short
            (3, "spark spark spark spark spark"),    # one term spammed
            (4, "unrelated words entirely"),
            (5, "shuffle of cards"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, "spark shuffle", k=5)
    rows = out.collect()
    assert out.columns == ["doc_id", "score"]
    ranked = [r["doc_id"] for r in rows]
    scores = {r["doc_id"]: r["score"] for r in rows}
    assert ranked[0] == 2            # both terms, shortest -> top
    assert scores[2] > scores[1]     # length normalization
    # at comparable length, two distinct terms beat one spammed term
    # (tf saturates at k1+1; a second term adds a whole new idf·tf block)
    assert scores[2] > scores[3]
    assert 4 not in scores           # no query term -> absent
    # empty query: empty result, stable schema
    empty = bm25_topk(df, "   ")
    assert empty.columns == ["doc_id", "score"] and empty.count() == 0


def test_gopher_quality_gates(spark):
    """Each Gopher rule (Rae et al. 2021 §A1.1) trips on its planted doc."""
    from mydumper_spark.operators.text import gopher_quality

    good = ("the quick brown fox jumps over that lazy dog and runs to "
            "town with a friend of mine ") * 4          # 72 words, all gates
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "too short to pass the word count and that is all of it"),
            (3, "### " + "the cat and " * 30),           # symbol-heavy
            (4, ("- the bullet one of them\n" * 4) + "plain final line"),
            (5, good.replace("the", "123").replace("and", "456")
                    .replace("that", "789").replace("of", "000")
                    .replace("to", "111").replace("with", "222")),  # no stopwords
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_quality(df).collect()}
    assert out[1]["gopher_pass"] == 1
    assert out[1]["n_words"] == 72
    assert out[1]["stopword_hits"] >= 2
    assert out[2]["gopher_pass"] == 0          # < 50 words
    assert out[3]["symbol_word_ppm"] > 0
    assert out[4]["bullet_line_ppm"] == 800000  # 4 of 5 lines bulleted
    assert out[5]["stopword_hits"] < 2 and out[5]["gopher_pass"] == 0
    assert out[6]["n_words"] == 0 and out[6]["gopher_pass"] == 0


def test_gopher_keep_cols_passthrough(spark):
    """keep_cols carries payload columns through unchanged and leaves all
    metric values byte-identical to the plain form (the r14 x_text_curate
    gate-fusion contract)."""
    from mydumper_spark.operators.text import gopher_quality

    good = ("the quick brown fox jumps over that lazy dog and runs to "
            "town with a friend of mine ") * 4
    df = spark.createDataFrame(
        [(1, good, 72), (2, "too short", 2)],
        "doc_id long, text string, n_tokens_kept long",
    )
    plain = {r["doc_id"]: r.asDict() for r in gopher_quality(df).collect()}
    kept = {r["doc_id"]: r.asDict()
            for r in gopher_quality(
                df, keep_cols=["text", "n_tokens_kept"]).collect()}
    for i, (txt, n) in ((1, (good, 72)), (2, ("too short", 2))):
        assert kept[i].pop("text") == txt
        assert kept[i].pop("n_tokens_kept") == n
        assert kept[i] == plain[i]


def test_c4_line_filter_rules(spark):
    """C4 §2.2: terminal-punct + ≥5-word line retention, ≥3-line page gate,
    lorem-ipsum / curly-brace page kills."""
    from mydumper_spark.operators.corpus import c4_line_filter

    keep = "This line has five good words."
    df = spark.createDataFrame(
        [
            (1, f"{keep}\nshort one.\n{keep}\nno terminal punct here\n{keep}"),
            (2, f"Lorem Ipsum dolor sit amet here.\n{keep}\n{keep}\n{keep}"),
            (3, f"code {{ brace }}\n{keep}\n{keep}\n{keep}"),
            (4, f"{keep}\n{keep}"),                    # only 2 kept lines
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in c4_line_filter(df).collect()}
    assert out[1]["n_lines_kept"] == 3 and out[1]["page_ok"] == 1
    assert out[1]["clean_text"] == "\n".join([keep] * 3)
    assert out[2]["page_ok"] == 0                      # lorem ipsum
    assert out[2]["n_lines_kept"] == 4                 # lines still counted
    assert out[3]["page_ok"] == 0                      # curly brace
    assert out[4]["n_lines_kept"] == 2 and out[4]["page_ok"] == 0


def test_exact_substring_dedup_sliding_spans(spark):
    """Lee et al. 2021 ExactSubstr semantics: a duplicated k-gram is excised
    at every occurrence but the globally-first, at ANY token offset —
    including a second occurrence inside the SAME document."""
    from mydumper_spark.operators.corpus import exact_substring_dedup

    span = "a b c d e f g h i j"                       # the 10-token span
    df = spark.createDataFrame(
        [
            (1, f"{span} one1 two1"),                   # first occurrence
            (2, f"lead2 {span} tail2"),                 # shifted copy
            (3, f"{span} mid3 {span}"),                 # twice in one doc
            (4, "totally different words with no overlap at all here"),
            (5, "short doc"),                           # < k tokens
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in exact_substring_dedup(df, k=10).collect()}
    assert out[1]["clean_text"] == f"{span} one1 two1"  # keeper untouched
    assert out[2]["clean_text"] == "lead2 tail2"
    assert out[2]["n_tokens_removed"] == 10
    # doc 3: both its occurrences lose to doc 1's -> only 'mid3' survives
    assert out[3]["clean_text"] == "mid3"
    assert out[3]["n_tokens_removed"] == 20
    assert out[4]["n_tokens_removed"] == 0
    assert out[5]["clean_text"] == "short doc"          # passthrough

    # window arbiter pins identical results (the ladder's twin contract)
    alt = {r["doc_id"]: r.asDict()
           for r in exact_substring_dedup(df, k=10,
                                          arbiter="window").collect()}
    assert alt == out

    # the production 8-byte hash prejoin is EXACT (hash only prunes
    # candidates; text still arbitrates) — pinned identical to the
    # no-prejoin spec path
    spec = {r["doc_id"]: r.asDict()
            for r in exact_substring_dedup(df, k=10,
                                           hash_prejoin=False).collect()}
    assert spec == out


def test_redact_pii_patterns(spark):
    """Every PII pattern redacts; ordering keeps SSN/card out of the greedy
    phone pattern's mouth."""
    from pyspark.sql import functions as F

    from mydumper_spark.operators.text import redact_pii

    raw = ("mail me at jane.doe+x@example.co.uk or call +1 (555) 010-2345, "
           "ssn 123-45-6789, card 4111 1111 1111 1111, done")
    df = spark.createDataFrame([(1, raw)], "id long, t string")
    got = df.select(redact_pii(F.col("t")).alias("c")).collect()[0]["c"]
    assert "<EMAIL>" in got and "<PHONE>" in got
    assert "<SSN>" in got and "<CARD>" in got
    assert "example.co.uk" not in got and "123-45-6789" not in got
    assert "4111" not in got and "555" not in got


def test_round7_operators_null_text_is_empty_doc(spark):
    """NULL text must behave as an empty document in the round-7 quality/
    dedup family — a dump of a nullable TEXT column must not propagate
    NULL verdicts into gates (a NULL gopher_pass would silently fall out
    of both `pass=1` and `pass=0` filters)."""
    from mydumper_spark.operators.corpus import (
        c4_line_filter, exact_substring_dedup,
    )
    from mydumper_spark.operators.text import gopher_quality

    df = spark.createDataFrame([(1, None), (2, "the fine text here")],
                               "doc_id long, text string")
    g = gopher_quality(df).where("doc_id = 1").collect()[0]
    assert g["n_words"] == 0 and g["gopher_pass"] == 0
    c = c4_line_filter(df).where("doc_id = 1").collect()[0]
    assert c["clean_text"] == "" and c["page_ok"] == 0
    s = {r["doc_id"]: r for r in exact_substring_dedup(df, k=3).collect()}
    assert s[1]["clean_text"] == "" and s[1]["n_tokens_removed"] == 0

    from mydumper_spark.operators.text import repetition_stats

    r = {row["doc_id"]: row for row in repetition_stats(df).collect()}
    assert 1 in r, "NULL-text doc must not vanish from repetition_stats"
    assert r[1]["dup_line_ppm"] == 0 and r[1]["dup_5gram_char_ppm"] == 0


def test_bpe_train_and_encode(spark):
    """Trained BPE: the merge loop learns the planted corpus's dominant
    subwords, encoding is lossless (tokens re-join to the source words),
    and compression beats character-level on repeated vocabulary."""
    from mydumper_spark.operators.tokenizer import (
        EOW, bpe_encode, fit_bpe, train_bpe_merges,
    )

    # hand-checkable classic example: 'low'/'lower'/'lowest' share 'low'
    wf = [("low", 50), ("lower", 30), ("lowest", 20), ("big", 5)]
    merges = train_bpe_merges(wf, num_merges=10)
    # 'low' is learned as a single unit (tie-break picks the merge path —
    # ('o','w')+('l','ow') here — but the learned unit is what matters)
    assert ("l", "ow") in merges or ("lo", "w") in merges

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low big"), (3, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    # lossless: strip EOW, re-join → original lowered words
    words = "".join(got[1]["bpe_tokens"]).replace(EOW, " ").split()
    assert words == ["low", "lower", "lowest"]
    assert got[1]["n_bpe"] < sum(len(w) + 1 for w in words)  # compresses
    # 'low' is a single learned token
    assert got[2]["bpe_tokens"][0] in ("low" + EOW, "low")
    assert got[3]["n_bpe"] == 0 and got[3]["bpe_tokens"] == []

    # end-to-end fit on a distributed frame is deterministic
    m1 = fit_bpe(df, num_merges=8)
    m2 = fit_bpe(df.repartition(7), num_merges=8)
    assert m1 == m2


def test_feature_hash_embedding_similarity_bridge(spark):
    """Feature-hashed embeddings behave like embeddings: identical texts →
    identical vectors, near-duplicate texts → high cosine, unrelated →
    low; the vectors compose with the similarity stack after a float
    cast. Both hash variants agree structurally."""
    import math

    from pyspark.sql import functions as F

    from mydumper_spark.operators.similarity import feature_hash_embedding

    near = ("the quick brown fox jumps over the lazy dog and then naps "
            "in the warm afternoon sun near the old barn door")
    df = spark.createDataFrame(
        [(1, near), (2, near + " extra tail words here"),
         (3, "completely unrelated vocabulary about databases and shuffles"
             " with zero overlap whatsoever in any token"),
         (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["embedding"]
           for r in feature_hash_embedding(df, dim=64).collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    assert cos(out[1], out[2]) > 0.8          # near-dup → near-parallel
    assert cos(out[1], out[3]) < 0.5          # unrelated → far
    assert all(v == 0 for v in out[4])        # NULL → zero vector
    # composes with the similarity stack (float arrays)
    emb = feature_hash_embedding(df, dim=64).select(
        F.col("doc_id").alias("vec_id"),
        F.transform("embedding",
                    lambda v: v.cast("float")).alias("embedding"),
    )
    from mydumper_spark.operators.similarity import cosine_topk

    top = cosine_topk(emb, [float(x) for x in out[1]], k=2).collect()
    assert {r["vec_id"] for r in top} == {1, 2}


def test_text_semantic_dedup_composition(spark):
    """The model-free curation path end-to-end: raw text → feature-hashed
    embeddings → SemDeDup — near-duplicate documents collapse to the
    earliest id, distinct topics all survive, with no external model."""
    from pyspark.sql import functions as F

    from mydumper_spark.operators.similarity import (
        feature_hash_embedding, semantic_dedup_batch,
    )

    a = ("the quick brown fox jumps over the lazy dog near the old barn "
         "while the farmer watches from the porch in the evening light")
    b = ("spark executors shuffle partitioned data across the cluster "
         "network while the driver coordinates stages and task retries")
    docs = spark.createDataFrame(
        [(1, a), (2, a + " tail"), (3, a.replace("fox", "fox quickly")),
         (4, b), (5, b + " with adaptive query execution enabled")],
        "doc_id long, text string",
    )
    emb = feature_hash_embedding(docs, dim=128).select(
        F.col("doc_id").alias("vec_id"),
        F.transform("embedding", lambda v: v.cast("float")).alias("embedding"),
    )
    # n_cells=1: within-cell dedup is exact; cell assignment splitting a
    # near-dup pair across cells is the documented SemDeDup approximation
    # and not what this composition test is about
    kept = {r["vec_id"] for r in semantic_dedup_batch(
        emb, threshold=0.9, n_cells=1).collect()}
    assert 1 in kept and 4 in kept          # earliest of each topic kept
    assert kept.isdisjoint({2, 3})          # paraphrases of doc 1 collapse
    assert len(kept) <= 3


def test_quality_classifier_distills_rule_gate(spark):
    """FineWeb-Edu-pattern distillation: train logistic regression on
    rule-gate labels over feature-hashed text, then score with the PURE
    EXPRESSION inference path — the classifier must separate the planted
    good/bad populations, and expression scoring must agree with MLlib's
    own predictions on the training frame."""
    from pyspark.sql import functions as F

    from mydumper_spark.operators.classifier import (
        score_quality, train_quality_classifier,
    )

    good = ("the project report covers the budget and that plan we have "
            "agreed to deliver with the partner teams this quarter ")
    bad = "$$$ ### !!! 000 111 ### $$$ !!! ### 000 "
    rows = [(i, good + f"extra{i} tokens here") for i in range(40)]
    rows += [(100 + i, bad * (i % 3 + 2) + f"x{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    labeled = df.withColumn(
        "label", F.when(F.col("doc_id") < 100, 1).otherwise(0))

    # pin the conf the fit depends on: a prior test in the session-scoped
    # suite may have changed shuffle partitions, perturbing LBFGS's
    # reduction order enough to move borderline scores
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    model = train_quality_classifier(labeled, dim=32, max_iter=30)
    assert len(model.coefficients) == 32

    scored = {r["doc_id"]: r["quality_prob"]
              for r in score_quality(df, model, threshold=0.5).collect()}
    good_scores = [scored[i] for i in range(40)]
    bad_scores = [scored[100 + i] for i in range(40)]
    # count-based separation (a strict min/max split is brittle to LBFGS
    # reduction-order jitter across session states)
    assert sum(s > 0.5 for s in good_scores) >= 38, sorted(good_scores)[:3]
    assert sum(s < 0.5 for s in bad_scores) >= 38, sorted(bad_scores)[-3:]
    assert (sum(good_scores) / 40) - (sum(bad_scores) / 40) > 0.5

    # expression inference == MLlib transform probabilities for the SAME
    # fitted model (two separate LBFGS fits may differ past 1e-6 depending
    # on warm-up/partitioning, so the agreement check must share one fit)
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from mydumper_spark.operators.classifier import LinearQualityModel
    from mydumper_spark.operators.similarity import feature_hash_embedding

    feats = feature_hash_embedding(labeled, dim=32).join(
        labeled.select("doc_id", "label"), "doc_id")
    train = feats.select(
        F.col("doc_id"),
        F.col("label").cast("double").alias("label"),
        array_to_vector(
            F.transform("embedding", lambda v: v.cast("double"))
        ).alias("features"),
    )
    m = LogisticRegression(maxIter=30, regParam=0.01).fit(train)
    same = LinearQualityModel(dim=32, intercept=float(m.intercept),
                              coefficients=[float(c) for c in m.coefficients])
    expr_probs = {r["doc_id"]: r["quality_prob"]
                  for r in score_quality(df, same).collect()}
    # driver-side predictProbability, NOT m.transform: a prior test's
    # df.observe() leaves an ObservationManager in the shared session and
    # Spark 4.1's ML transform closure then fails serialization (observed
    # only in full-suite order) — and the driver call is the cleaner
    # same-model comparison anyway
    feats_local = train.select("doc_id", "features").collect()
    probs = {r["doc_id"]: float(m.predictProbability(r["features"])[1])
             for r in feats_local}
    for i in list(probs)[:10]:
        assert abs(probs[i] - expr_probs[i]) < 1e-6


def test_ngram_lm_score_planted(spark):
    """Bigram stupid-backoff scoring, hand-checked: ref "a b a b a c" gives
    c(a)=3 c(b)=2 c(c)=1 total=6; bigrams (a,b)=2 (b,a)=2 (a,c)=1.
    - "a b": known bigram -> 1e6*2 div 3 = 666666
    - "z a": unknown bigram, known w2 -> 400000*3 div 6 = 200000
    - "q q": fully OOV -> 0
    - "a": no transitions -> n_transitions 0, score 0
    - vocab_top=1 keeps ONLY (a,b) (count tie with (b,a), w1 tie-break):
      "b a" then scores through backoff, not the bigram branch."""
    from mydumper_spark.operators.text import ngram_lm_score, train_bigram_lm

    ref = spark.createDataFrame([(0, "a b a b a c")], "doc_id long, text string")
    lm = train_bigram_lm(ref)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "z a"), (3, "q q"), (4, "a")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_lm_score(docs, lm).collect()}
    assert out[1]["lm_score_ppm"] == 666_666 and out[1]["n_transitions"] == 1
    assert out[2]["lm_score_ppm"] == 200_000
    assert out[3]["lm_score_ppm"] == 0
    assert out[4]["lm_score_ppm"] == 0 and out[4]["n_transitions"] == 0

    uni1, bi1, _ = train_bigram_lm(ref, vocab_top=1)
    kept = bi1.collect()
    assert [(r["w1"], r["w2"]) for r in kept] == [("a", "b")]
    lm1 = (uni1, bi1, _)
    # "b a": bigram capped away; backoff on w2='a' needs uni('a') — but
    # vocab_top=1 also capped unigrams to just 'a' (count 3 beats b/c)
    out1 = {r["doc_id"]: r["lm_score_ppm"] for r in ngram_lm_score(
        spark.createDataFrame([(9, "b a")], "doc_id long, text string"),
        lm1).collect()}
    assert out1[9] == 200_000  # backoff path: 400000*3 div 6


def test_sq8_topk_recall_and_encode(spark, embeddings):
    """SQ8 integer ranking: (a) top-10 by quantized dot has high overlap
    with the EXACT dot-product top-10 (the thing SQ8 approximates — a
    positive rescale plus bounded quantization noise), (b) encode
    materializes smallint codes in [-127,127], (c) the Python query-side
    quantizer agrees with the Spark expression on the same vector (the
    cross-engine exactness hinge)."""
    import numpy as np

    from mydumper_spark.operators.similarity import (
        sq8_encode, sq8_quantize, sq8_topk, train_sq8_scale,
    )

    scale = train_sq8_scale(embeddings)
    rows = embeddings.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    q = vecs[0]
    exact = {vid for vid, _ in sorted(
        ((vid, float(v @ q)) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-t[1], t[0]))[:10]}

    rest = embeddings.where("vec_id <> 0")
    sq = {r["vec_id"] for r in sq8_topk(
        rest, [float(v) for v in q], k=10, scale=scale).collect()}
    assert len(sq & exact) >= 8, (sq, exact)

    enc = sq8_encode(embeddings.limit(20), scale)
    out = enc.select("vec_id", "sq8_code", "embedding").collect()
    assert dict(enc.dtypes)["sq8_code"] == "array<smallint>"
    for r in out:
        codes = list(r["sq8_code"])
        assert all(-127 <= c <= 127 for c in codes)
        # the Python twin reproduces the Spark expression bit-exactly
        assert codes == sq8_quantize(
            [float(v) for v in r["embedding"]], scale)


def test_sq8_degenerate_scale(spark):
    """An all-zero corpus (scale 0) codes to 0 everywhere instead of
    dividing by zero; negative components clamp at -127."""
    from mydumper_spark.operators.similarity import (
        sq8_quantize, sq8_topk, train_sq8_scale,
    )

    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<float>")
    assert train_sq8_scale(zeros) == 0.0
    assert sq8_quantize([1.0, -1.0], 0.0) == [0, 0]

    df = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [1.0, -1.0]), (3, [0.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    s = train_sq8_scale(df)
    assert s == 1.0
    assert sq8_quantize([1.0, -1.0], s) == [127, -127]
    top = sq8_topk(df, [1.0, 1.0], k=3, scale=s).collect()
    assert [r["vec_id"] for r in top] == [1, 3, 2]


def test_sq8_indexed_equals_inline(spark, embeddings, tmp_path):
    """The persisted SQ8 index returns the identical ranking to the inline
    operator, its scan carries only (vec_id, sq8_code) — float vectors
    never load — and the sidecar round-trips the scale."""
    from mydumper_spark.operators.similarity import (
        sq8_topk, sq8_topk_indexed, train_sq8_scale, write_sq8_index,
    )

    scale = train_sq8_scale(embeddings)
    qvec = [float(v) for v in embeddings.where("vec_id = 0")
            .first()["embedding"]]
    idx = str(tmp_path / "sq8idx")
    returned = write_sq8_index(embeddings.where("vec_id <> 0"), idx)
    assert returned == scale  # scale trains on what was written

    inline = sq8_topk(embeddings.where("vec_id <> 0"), qvec,
                      k=10, scale=scale).collect()
    indexed = sq8_topk_indexed(spark, idx, qvec, k=10).collect()
    assert [(r["vec_id"], r["sq8_score"]) for r in inline] == \
           [(r["vec_id"], r["sq8_score"]) for r in indexed]

    plan = sq8_topk_indexed(spark, idx, qvec, k=10)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "embedding" not in plan  # codes-only scan


def test_sq8_index_append_equals_inline_union(spark, embeddings, tmp_path):
    """Incremental index maintenance: appending a delta encoded with the
    FROZEN scale makes the persisted index answer exactly like the inline
    operator over base ∪ delta at that scale — the daemon/incremental
    steady state never rebuilds the base. The sidecar keeps the frozen
    scale (bumping only the append counter), and re-training on the union
    is measurably a DIFFERENT scale when the delta carries outliers (the
    drift the staleness probe is for)."""
    import json

    from pyspark.sql import functions as F

    from mydumper_spark.operators.similarity import (
        append_sq8_index, sq8_index_staleness, sq8_topk, sq8_topk_indexed,
        train_sq8_scale, write_sq8_index,
    )

    base = embeddings.where("vec_id < 300")
    delta = embeddings.where("vec_id >= 300")
    qvec = [float(v) for v in embeddings.where("vec_id = 0")
            .first()["embedding"]]
    idx = str(tmp_path / "sq8grow")
    frozen = write_sq8_index(base, idx)

    appended_scale = append_sq8_index(delta, idx)
    assert appended_scale == frozen  # never retrained on append
    meta = json.load(open(f"{idx}/_sq8_meta.json"))
    assert meta["scale"] == frozen and meta["appends"] == 1

    inline = sq8_topk(embeddings, qvec, k=10, scale=frozen).collect()
    indexed = sq8_topk_indexed(spark, idx, qvec, k=10).collect()
    assert [(r["vec_id"], r["sq8_score"]) for r in inline] == \
           [(r["vec_id"], r["sq8_score"]) for r in indexed]

    # staleness probe: the scale was trained on the base, so the union
    # shows only the delta's genuine (mild) drift — components past the
    # frozen scale register as clip_ppm, utilization sits near 1, and
    # neither crosses its retrain threshold
    st = sq8_index_staleness(embeddings, path=idx)
    assert st["frozen_scale"] == frozen
    assert st["current_scale"] == train_sq8_scale(embeddings)
    assert 0 <= st["clip_ppm"] < 1000
    assert 0.9 < st["range_utilization"] < 1.5
    assert not st["retrain_recommended"]

    # a drifted corpus (components beyond the frozen range) trips the gate
    drifted = embeddings.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(3.0)))
    st2 = sq8_index_staleness(drifted, path=idx)
    assert st2["clip_ppm"] > 0 and st2["retrain_recommended"]
    # and a shrunken corpus wastes the int8 range → also retrain
    shrunk = embeddings.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(0.1)))
    st3 = sq8_index_staleness(shrunk, path=idx)
    assert st3["range_utilization"] < 0.5 and st3["retrain_recommended"]


def test_ivf_and_ann_index_append_equal_inline_union(spark, embeddings,
                                                     tmp_path):
    """The IVF and hyperplane-ANN persisted indexes take deltas the same
    way: frozen centroids / deterministic planes assign the delta into the
    existing partition layout, and the indexed query over base+delta
    equals the inline query over the union with the same parameters."""
    from mydumper_spark.operators.similarity import (
        ann_topk, ann_topk_indexed, append_ann_index, append_ivf_index,
        ivf_topk, ivf_topk_indexed, train_ivf_centroids, write_ann_index,
        write_ivf_index,
    )

    base = embeddings.where("vec_id < 300")
    delta = embeddings.where("vec_id >= 300")
    first = embeddings.where("vec_id = 0").first()
    qvec = [float(v) for v in first["embedding"]]
    dim = len(qvec)

    cents = train_ivf_centroids(base, n_cells=4)
    ivf_path = str(tmp_path / "ivfgrow")
    write_ivf_index(base, ivf_path, n_cells=4, centroids=cents)
    append_ivf_index(delta, ivf_path, cents)
    inline = ivf_topk(embeddings, qvec, k=10, n_cells=4, n_probe=2,
                      centroids=cents).collect()
    indexed = ivf_topk_indexed(spark, ivf_path, cents, qvec, k=10,
                               n_probe=2).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in inline] == \
           [(r["vec_id"], r["cosine_sim"]) for r in indexed]

    ann_path = str(tmp_path / "anngrow")
    write_ann_index(base, ann_path, dim=dim)
    append_ann_index(delta, ann_path, dim=dim)
    inline_a = ann_topk(embeddings, qvec, k=10, dim=dim).collect()
    indexed_a = ann_topk_indexed(spark, ann_path, qvec, k=10).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in inline_a] == \
           [(r["vec_id"], r["cosine_sim"]) for r in indexed_a]


def test_bpe_save_load_roundtrip(spark, tmp_path):
    """A persisted tokenizer encodes identically to the freshly-trained
    one — the frozen-artifact contract."""
    from mydumper_spark.operators.tokenizer import (
        bpe_encode, fit_bpe, load_bpe, save_bpe,
    )

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(20)],
        "doc_id long, text string",
    )
    merges = fit_bpe(df, num_merges=40, vocab_top=100)
    p = str(tmp_path / "bpe.json")
    save_bpe(merges, p)
    loaded = load_bpe(p)
    assert loaded == merges
    a = {r["doc_id"]: list(r["bpe_tokens"])
         for r in bpe_encode(df, merges).collect()}
    b = {r["doc_id"]: list(r["bpe_tokens"])
         for r in bpe_encode(df, loaded).collect()}
    assert a == b


def test_temperature_mix_flattens_distribution(spark):
    """α-temperature rebalancing: a 20:1 head/tail corpus flattens toward
    sqrt shares — the head group's acceptance drops well below 1 while
    the tail keeps ~everything; membership is a pure function of the key
    (re-run identical); α=1 is a no-op (target = observed)."""
    from mydumper_spark.operators.sampling import temperature_mix

    rows = ([(i, "en") for i in range(2000)]
            + [(10_000 + i, "sw") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, "lang", "doc_id", alpha=0.5)
    got = {r["lang"]: 0 for r in out.select("lang").distinct().collect()}
    for r in out.groupBy("lang").count().collect():
        got[r["lang"]] = r["count"]
    # sqrt weights: w_en≈44.7→44, w_sw=10; q_en≈0.815 vs observed 0.952 →
    # en accepts ~85%; q_sw≈0.185 vs observed 0.048 → sw caps at 1.0
    assert got["sw"] == 100                     # tail keeps everything
    assert 0.75 * 2000 < got["en"] < 0.95 * 2000  # head downsampled
    again = {r["doc_id"] for r in out.collect()}
    assert again == {r["doc_id"] for r in temperature_mix(
        df, "lang", "doc_id", alpha=0.5).collect()}

    # α=1: thresholds all cap at 1 → identity
    assert temperature_mix(df, "lang", "doc_id", alpha=1.0).count() == 2100


def test_temperature_mix_rational_alpha_exact():
    """The α=p/q path is big-int exact: _int_kth_root is floor((x)^(1/k))
    for every x across perfect powers and off-by-one neighborhoods (the
    float-seed correction must never be trusted raw), and _small_rational
    reads the user's decimal spelling, not the float's binary expansion."""
    from mydumper_spark.operators.sampling import (
        _int_kth_root, _small_rational,
    )

    for base in [1, 2, 3, 7, 63, 64, 1000, 10**6]:
        for k in [1, 2, 3, 10]:
            x = base**k
            assert _int_kth_root(x, k) == base
            if x > 1:
                assert _int_kth_root(x - 1, k) == base - 1
            if k > 1:  # for k=1 the root of x+1 is x+1 itself
                assert _int_kth_root(x + 1, k) == base
    assert _int_kth_root(0, 10) == 0
    assert _small_rational(0.3) == (3, 10)
    assert _small_rational(0.25) == (1, 4)
    assert _small_rational(1.0) == (1, 1)
    assert _small_rational(2 / 3) is None       # no short decimal spelling
    assert _small_rational(-0.5) is None


def test_temperature_mix_null_group(spark):
    """NULL group values are common in real corpora (un-identified lang/
    domain). They must be a group like any other: no driver crash sorting
    a None key, and NULL-group rows receive a real threshold instead of
    silently vanishing through a never-true `col == NULL` predicate.
    Both the α=0.5 integer-exact path and the float-pow path."""
    from mydumper_spark.operators.sampling import temperature_mix

    rows = ([(i, "en") for i in range(1000)]
            + [(10_000 + i, None) for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    for alpha in (0.5, 0.3):
        out = temperature_mix(df, "lang", "doc_id", alpha=alpha)
        got = {r["lang"]: r["count"]
               for r in out.groupBy("lang").count().collect()}
        # the NULL tail group's target share exceeds its observed share →
        # threshold caps at 1.0 → every NULL-group doc survives
        assert got.get(None) == 50, (alpha, got)
        assert 0 < got["en"] < 1000, (alpha, got)


def test_budget_select_exact_prefix_and_edges(spark):
    """budget_select == the naive global-window prefix, including the hard
    edges: one score shared by EVERYTHING (the whole budget resolves
    through the id-bucket machinery), zero/tiny budgets, a budget the
    corpus fits inside, and NULL scores ranking last."""
    from mydumper_spark.operators.sampling import budget_select

    rows = [(i, (i * 7) % 5, 10 + (i % 4)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, score long, toks long")

    def naive(budget, data=rows):
        order = sorted(data, key=lambda r: (-(r[1] if r[1] is not None
                                              else -10**9), r[0]))
        out, cum = set(), 0
        for i, s, t in order:
            if cum + t > budget:
                break
            cum += t
        # inclusive-prefix semantics: every row whose running sum fits
        out, cum = set(), 0
        for i, s, t in order:
            cum += t
            if cum > budget:
                break
            out.add(i)
        return out

    for budget in (0, 5, 117, 2000, 10**9):
        got = {r["doc_id"] for r in
               budget_select(df, "score", "toks", budget).collect()}
        assert got == naive(budget), budget

    # all-ties: a single score group, split purely by id buckets
    ties = spark.createDataFrame(
        [(i, 1, 10) for i in range(300)], "doc_id long, score long, toks long")
    got = {r["doc_id"] for r in
           budget_select(ties, "score", "toks", 1005, id_buckets=8).collect()}
    assert got == set(range(100))  # 100 docs × 10 tokens ≤ 1005

    # NULL scores come last and can be the boundary group
    withnull = spark.createDataFrame(
        [(1, 5, 10), (2, None, 10), (3, None, 10), (4, 7, 10)],
        "doc_id long, score long, toks long")
    got = {r["doc_id"] for r in
           budget_select(withnull, "score", "toks", 25).collect()}
    assert got == {4, 1}  # both NULLs don't fit; 2 (lower id) would at 30
    got = {r["doc_id"] for r in
           budget_select(withnull, "score", "toks", 30).collect()}
    assert got == {4, 1, 2}


def test_budget_select_by_group_matches_naive(spark):
    """budget_select_by_group == per-group naive prefix across budgets and
    fractions, including a skewed group holding most rows (resolved through
    its own bucket machinery), a group whose corpus fully fits, absolute
    per-group budgets with a missing group (budget 0 → nothing kept), and
    NULL group values."""
    from mydumper_spark.operators.sampling import budget_select_by_group

    rows = ([(i, "en", (i * 13) % 7, 10) for i in range(400)]      # skewed
            + [(1000 + i, "fr", i % 3, 5) for i in range(30)]
            + [(2000 + i, None, 1, 8) for i in range(20)])
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, score long, toks long")

    def naive(budgets):
        out = set()
        for gv in {r[1] for r in rows}:
            grp = sorted((r for r in rows if r[1] == gv),
                         key=lambda r: (-r[2], r[0]))
            cum = 0
            for i, _, _, t in grp:
                cum += t
                if cum > budgets.get(gv, 0):
                    break
                out.add(i)
        return out

    for p, q in ((1, 4), (1, 2), (9, 10)):
        budgets = {}
        for gv in {r[1] for r in rows}:
            budgets[gv] = sum(r[3] for r in rows if r[1] == gv) * p // q
        got = {r["doc_id"] for r in budget_select_by_group(
            df, "lang", "score", "toks", budget_fraction=(p, q),
            id_buckets=16).collect()}
        assert got == naive(budgets), (p, q)

    # absolute budgets: fr generous (fully fits), en tight, NULL absent
    budgets = {"en": 95, "fr": 10**6}
    got = {r["doc_id"] for r in budget_select_by_group(
        df, "lang", "score", "toks", budgets=budgets,
        id_buckets=8).collect()}
    assert got == naive(budgets)
    assert not any(2000 <= i < 2020 for i in got)  # no budget → dropped


def test_budget_select_by_group_null_boundary_score(spark):
    """A group whose budget runs out inside its NULL-score tail still keeps
    every non-NULL-score doc (they sort first and fit) plus the id-prefix
    of the NULL-score docs — matching the naive NULLS-LAST prefix."""
    from mydumper_spark.operators.sampling import budget_select_by_group

    rows = [(1, "g", 9, 10), (2, "g", 5, 10),
            (3, "g", None, 10), (4, "g", None, 10), (5, "g", None, 10)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, score long, toks long")
    got = {r["doc_id"] for r in budget_select_by_group(
        df, "lang", "score", "toks", budgets={"g": 35}).collect()}
    # 1,2 (scored, 20 tokens) + NULL tail by id: 3 fits (30), 4 bursts
    assert got == {1, 2, 3}


def test_budget_select_zero_token_boundary_docs(spark):
    """Budget exhausted EXACTLY at a score-group boundary: the naive
    running-sum oracle still keeps the boundary group's leading zero-token
    docs (their cumulative sum never advances past the budget) — the
    remaining==0 case must not early-return selected_above."""
    from mydumper_spark.operators.sampling import (
        budget_select, budget_select_by_group,
    )

    rows = [(1, 5, 10), (2, 5, 10),                     # 20 tokens, fit
            (10, 3, 0), (11, 3, 0), (12, 3, 7), (13, 3, 0)]
    df = spark.createDataFrame(rows, "doc_id long, score long, toks long")
    got = {r["doc_id"] for r in
           budget_select(df, "score", "toks", 20).collect()}
    # 12 bursts; 13 sits AFTER the burst (cumsum 27) so it is out too
    assert got == {1, 2, 10, 11}

    gdf = spark.createDataFrame(
        [(i, "g", s_, t) for i, s_, t in rows],
        "doc_id long, lang string, score long, toks long")
    got = {r["doc_id"] for r in budget_select_by_group(
        gdf, "lang", "score", "toks", budgets={"g": 20}).collect()}
    assert got == {1, 2, 10, 11}


def test_budget_select_string_ids(spark):
    """String doc_ids (UUIDs, URL hashes) work end-to-end: range buckets
    derive from the monotone 8-byte-prefix integer, the edge window orders
    by the true id, and the result equals the naive (score DESC, id ASC)
    prefix — including mixed-length ids where unpadded prefixes would
    break monotonicity ('b' vs 'abc')."""
    from mydumper_spark.operators.sampling import budget_select

    ids = (["b", "ab", "abc", "a", "zz-0", "zz"]
           + [f"{x:08x}-4dea-{x % 97:04d}" for x in range(200)])
    rows = [(i, (n * 7) % 5, 10 + (n % 4)) for n, i in enumerate(ids)]
    df = spark.createDataFrame(rows, "doc_id string, score long, toks long")

    def naive(budget):
        order = sorted(rows, key=lambda r: (-r[1], r[0]))
        out, cum = set(), 0
        for i, s_, t in order:
            cum += t
            if cum > budget:
                break
            out.add(i)
        return out

    for budget in (0, 37, 460, 10**9):
        got = {r["doc_id"] for r in
               budget_select(df, "score", "toks", budget,
                             id_buckets=8).collect()}
        assert got == naive(budget), budget

    # all-ties: the whole budget resolves through string id buckets
    ties = spark.createDataFrame([(i, 1, 10) for i in ids],
                                 "doc_id string, score long, toks long")
    got = {r["doc_id"] for r in
           budget_select(ties, "score", "toks", 305, id_buckets=4).collect()}
    assert got == set(sorted(ids)[:30])


def test_budget_select_by_group_string_ids(spark):
    """String ids through the per-group form: every split group's bucket
    histogram uses the prefix integer, result equals per-group naive."""
    from mydumper_spark.operators.sampling import budget_select_by_group

    rows = ([(f"en-{i:05d}", "en", (i * 13) % 7, 10) for i in range(120)]
            + [(f"fr-{i:05d}", "fr", i % 3, 5) for i in range(30)])
    df = spark.createDataFrame(
        rows, "doc_id string, lang string, score long, toks long")

    def naive(budgets):
        out = set()
        for gv in {r[1] for r in rows}:
            grp = sorted((r for r in rows if r[1] == gv),
                         key=lambda r: (-r[2], r[0]))
            cum = 0
            for i, _, _, t in grp:
                cum += t
                if cum > budgets.get(gv, 0):
                    break
                out.add(i)
        return out

    budgets = {"en": 333, "fr": 62}
    got = {r["doc_id"] for r in budget_select_by_group(
        df, "lang", "score", "toks", budgets=budgets,
        id_buckets=8).collect()}
    assert got == naive(budgets)


def test_int_kth_root_huge_values():
    """x past float range (~1.8e308) must not raise OverflowError — the
    ADVICE repro: temperature_mix alpha=63/64 with group counts >= 1e5
    computes N^63 > 10^315. Newton-from-bit-length path stays exact."""
    from mydumper_spark.operators.sampling import _int_kth_root

    for base, k in ((10**5, 63), (123_456_789, 64), (2**61 - 1, 17)):
        x = base**k
        assert x.bit_length() >= 1000  # genuinely the overflow regime
        assert _int_kth_root(x, k) == base
        assert _int_kth_root(x - 1, k) == base - 1
        assert _int_kth_root(x + 1, k) == base


# -- diversity stats + weighted-epoch materialization (round 10) -------------


def test_diversity_stats_char_hand_values(spark):
    df = spark.createDataFrame(
        [(1, "banana"), (2, ""), (3, None), (4, "aaab"), (5, "x x x yy")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in
            tx.diversity_stats(df, unit="char").collect()}
    # banana: counts a=3 b=1 n=2 → sumsq 14, n=6
    assert rows[1]["n_units"] == 6
    assert rows[1]["distinct_units"] == 3
    assert rows[1]["distinct_ppm"] == 500_000
    assert rows[1]["top_unit_ppm"] == 500_000
    assert rows[1]["simpson_ppm"] == 14 * 1_000_000 // 36
    assert rows[1]["max_run"] == 1
    # aaab: longest run 3, sumsq 9+1
    assert rows[4]["max_run"] == 3
    assert rows[4]["simpson_ppm"] == 10 * 1_000_000 // 16
    # empty and NULL text: n_units 0, every metric NULL
    for d in (2, 3):
        assert rows[d]["n_units"] == 0
        assert rows[d]["distinct_units"] is None
        assert rows[d]["simpson_ppm"] is None
        assert rows[d]["max_run"] is None


def test_diversity_stats_simpson_no_bigint_wrap(spark):
    """simpson_ppm stays exact past the bigint wrap point (round 11):
    for a one-character document of n units, sumsq = n², and n²·10⁶
    crosses 2⁶³ near n ≈ 3.04M — plain bigint arithmetic wrapped to a
    negative ppm while the DuckDB oracle promoted to HUGEINT. The
    decimal(38,0) path returns the exact floor. Tested against the
    extracted finalize stage (materializing a 3M-element unit array per
    case would dominate the suite for no extra arithmetic coverage; the
    end-to-end path at that size is exercised standalone in SCALE.md
    notes), plus one end-to-end doc just past the wrap point."""
    from mydumper_spark.operators.text import _diversity_finalize

    n = 3_100_000  # n²·10⁶ ≈ 9.6e18 > 2⁶³−1 ≈ 9.22e18
    staged = spark.createDataFrame(
        [
            (1, n, 1, n, n * n, n),          # single repeated unit
            (2, n, 2, n - 1, (n - 1) ** 2 + 1, n - 1),  # near-degenerate
            (3, 4, 2, 3, 10, 3),              # 'aaab' hand value
        ],
        "doc_id int, n_units bigint, distinct_units bigint, "
        "__top bigint, __sumsq bigint, max_run bigint",
    )
    rows = {r["doc_id"]: r for r in
            _diversity_finalize(staged, "doc_id").collect()}
    assert rows[1]["simpson_ppm"] == 1_000_000
    assert rows[2]["simpson_ppm"] == ((n - 1) ** 2 + 1) * 10**6 // (n * n)
    assert rows[2]["simpson_ppm"] > 0  # the wrapped bigint went negative
    assert rows[3]["simpson_ppm"] == 10 * 1_000_000 // 16

    # end-to-end just past the wrap point (one doc, bounded memory).
    # NON-foldable text on purpose: a literal repeat('a', m) constant-folds
    # into a 3M-element array literal referenced several times in the plan,
    # and once diversity_stats' r14 parallelism spread fans the stage out,
    # EVERY concurrent task deserializes its own copies of those constants
    # (~GBs of heap) — a synthetic-input artifact no storage-backed corpus
    # can produce (column-sourced text never constant-folds).
    m = 3_040_000
    df = spark.range(1).coalesce(1).select(
        F.lit(1).alias("doc_id"),
        # id + m (id = 0), NOT id*0 + m: the optimizer simplifies *0 and
        # then folds the whole repeat/split chain into giant literals
        F.repeat(F.lit("a"), (F.col("id") + m).cast("int")).alias("text"))
    row = tx.diversity_stats(df, unit="char").collect()[0]
    assert row["n_units"] == m and row["simpson_ppm"] == 1_000_000


def test_repeat_by_weight_null_weight_loud(spark):
    """A NULL weight_ppm is rejected with its own message (round 11) —
    previously the NULL propagated into the max_copies assert, which
    failed with a blank, misleading 'copy count exceeds' diagnosis."""
    from mydumper_spark.operators.sampling import repeat_by_weight

    w = spark.createDataFrame(
        [(1, 1_000_000), (2, None)], "doc_id int, weight_ppm bigint")
    with pytest.raises(Exception, match="NULL weight_ppm"):
        repeat_by_weight(w, seed=7).collect()


def test_repeat_by_weight_negative_weight_named(spark):
    """A negative weight_ppm names its own offense (round 12) — it used
    to share the max_copies branch, whose 'copy count exceeds' message
    misdiagnosed a sign error as a fan-out overflow."""
    from mydumper_spark.operators.sampling import repeat_by_weight

    w = spark.createDataFrame(
        [(1, 1_000_000), (2, -5)], "doc_id int, weight_ppm bigint")
    with pytest.raises(Exception, match="negative weight_ppm=-5"):
        repeat_by_weight(w, seed=7).collect()


def test_diversity_stats_token_unit_and_plan(spark):
    df = spark.createDataFrame(
        [(1, "x x x yy"), (2, "the quick fox")], "doc_id int, text string")
    out = tx.diversity_stats(df, unit="token")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_units"] == 4 and rows[1]["max_run"] == 3
    assert rows[1]["top_unit_ppm"] == 750_000
    assert rows[2]["distinct_ppm"] == 1_000_000
    # zero-shuffle contract: per-row expressions only
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repeat_by_weight_deterministic_fanout(spark):
    from mydumper_spark.operators.sampling import repeat_by_weight

    w = spark.createDataFrame(
        [(1, 2_500_000), (2, 1_000_000), (3, 400_000), (4, 0)],
        "doc_id int, weight_ppm bigint",
    )
    out1 = repeat_by_weight(w, seed=7).collect()
    out2 = repeat_by_weight(w, seed=7).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # pure fn
    by_id: dict[int, list[int]] = {}
    for r in out1:
        by_id.setdefault(r["doc_id"], []).append(r["epoch"])
    # integer part always materializes; epochs are 1..n
    assert sorted(by_id[1])[:2] == [1, 2] and len(by_id[1]) in (2, 3)
    assert by_id[2] == [1]          # exactly 1.0 → one copy, no coin
    assert 4 not in by_id           # weight 0 → dropped
    assert len(by_id.get(3, [])) in (0, 1)  # fractional coin
    # the coin is seed-sensitive: across seeds the fractional doc flips
    picks = {s: len(repeat_by_weight(
        w.where("doc_id = 3"), seed=s).collect()) for s in range(12)}
    assert set(picks.values()) == {0, 1}


def test_repeat_by_weight_max_copies_guard(spark):
    import pytest as _pytest

    from mydumper_spark.operators.sampling import repeat_by_weight

    w = spark.createDataFrame([(1, 99_000_000)], "doc_id int, weight_ppm bigint")
    with _pytest.raises(Exception, match="max_copies"):
        repeat_by_weight(w, max_copies=8).collect()
    assert len(repeat_by_weight(w, max_copies=99).collect()) == 99


def test_budget_select_randomized_vs_naive_all_edges(spark):
    """Seeded randomized sweep of BOTH budget selectors against a
    driver-side naive running-sum oracle, with every edge class the
    individual tests cover SEPARATELY composed together: string AND
    numeric ids, NULL scores, NULL groups, zero-token docs, zero budgets,
    duplicate scores. Catches interaction bugs between the edge
    handlers (the round-9/10 defect class: each edge was right alone)."""
    import random
    import uuid

    from mydumper_spark.operators.sampling import (
        budget_select,
        budget_select_by_group,
    )

    def naive(rows, budget):
        o = sorted(rows, key=lambda r: (
            -(r[1] if r[1] is not None else -(10 ** 18)), r[0]))
        out, cum = [], 0
        for r in o:
            cum += r[2]
            if cum <= budget:
                out.append(r)
        return sorted(out)

    rng = random.Random(0)
    for trial in range(6):
        string_ids = trial % 2 == 0
        rows, seen = [], set()
        for _ in range(rng.randint(8, 80)):
            did = (uuid.UUID(int=rng.getrandbits(128)).hex if string_ids
                   else rng.randint(0, 10 ** 9))
            if did in seen:
                continue
            seen.add(did)
            rows.append((did, rng.choice([None, 0, 1, 2, 3, 4, 5]),
                         rng.choice([0, 0, 1, 2, 5, 17]),
                         rng.choice(["en", "fr", None])))
        schema = (("doc_id string" if string_ids else "doc_id bigint")
                  + ", score bigint, n_tokens bigint, lang string")
        df = spark.createDataFrame(rows, schema)
        budget = rng.randint(0, max(sum(r[2] for r in rows), 1))
        got = sorted(tuple(r) for r in budget_select(
            df, "score", "n_tokens", budget=budget).collect())
        assert got == [tuple(r) for r in naive(rows, budget)], (
            trial, budget)

        budgets = {g: rng.randint(
            0, max(sum(r[2] for r in rows if r[3] == g), 1))
            for g in {r[3] for r in rows}}
        got2 = sorted(tuple(r) for r in budget_select_by_group(
            df, "lang", "score", "n_tokens", budgets=budgets).collect())
        want2 = sorted(
            t for g, b in budgets.items()
            for t in naive([r for r in rows if r[3] == g], b))
        assert got2 == [tuple(r) for r in want2], (trial, budgets)


def test_corpus_datasheet_planted_values(spark):
    """Datasheet numbers against a hand-computed fixture: corpus-wide dup
    membership lands in BOTH groups of a cross-source mirror, NULL/empty
    docs count as empty with zero tokens, and the ppm/mean arithmetic is
    exact-integer."""
    from mydumper_spark.operators.corpus import corpus_datasheet

    df = spark.createDataFrame(
        [
            (1, "one two three", "crawl", "en"),
            (2, "one two three", "books", "en"),   # cross-source mirror
            (3, "uno dos", "crawl", "es"),
            (4, None, "crawl", "es"),               # NULL text → empty
            (5, "  ", "books", "en"),               # blank → empty
            (6, "four five six seven", "books", "en"),
        ],
        "doc_id long, text string, source string, lang string",
    )
    out = {(r["source"], r["lang"]): r
           for r in corpus_datasheet(df).collect()}
    ce = out[("crawl", "en")]
    assert (ce["n_docs"], ce["n_dup_docs"], ce["dup_ppm"]) == (1, 1, 1_000_000)
    assert ce["total_tokens"] == 3 and ce["mean_tokens"] == 3
    be = out[("books", "en")]
    # books/en: mirror doc (dup), blank doc (empty), 4-token doc
    assert (be["n_docs"], be["n_empty"], be["n_dup_docs"]) == (3, 1, 1)
    assert be["dup_ppm"] == 1_000_000 // 3
    assert be["total_tokens"] == 7 and be["mean_tokens"] == 7 // 3
    cs = out[("crawl", "es")]
    assert (cs["n_docs"], cs["n_empty"], cs["n_dup_docs"]) == (2, 1, 0)
    assert cs["total_chars"] == 7  # 'uno dos' only; NULL counts 0 chars


def test_dedup_lines_and_paragraphs_keep_null_text_docs(spark):
    """NULL text = empty page (the repo-wide rule): the line/paragraph
    dedup rebuilders must keep a NULL-text document as an empty-text row
    — posexplode over a NULL split silently dropped it while an ''-text
    sibling survived (found by this round's NULL-composition sweep).
    dedup_token_blocks_global documents the opposite contract (empty
    docs yield no row) and treats NULL and '' alike under it."""
    from mydumper_spark.operators.corpus import (
        dedup_lines_global,
        dedup_paragraphs_global,
        dedup_token_blocks_global,
    )

    df = spark.createDataFrame(
        [(1, "a\nshared"), (2, None), (3, ""), (4, "shared\nb")],
        "doc_id long, text string",
    )
    for fn in (dedup_lines_global, dedup_paragraphs_global):
        out = {r["doc_id"]: r["clean_text"] for r in fn(df).collect()}
        assert set(out) == {1, 2, 3, 4}, fn.__name__
        assert out[2] == "" and out[3] == ""
    blocks = {r["doc_id"] for r in dedup_token_blocks_global(df).collect()}
    assert blocks == {1, 4}  # documented: empty/NULL docs yield no row


def test_corpus_datasheet_plan_shape(spark):
    """Scale pin: the datasheet is one fingerprint count-aggregate
    (broadcast-joined back) + one group-tuple aggregate — no sorts, no
    sort-merge join, and no more than three exchanges ever appear."""
    import re

    from mydumper_spark.operators.corpus import corpus_datasheet

    df = spark.createDataFrame(
        [(i, f"text {i % 7}", "s", "en") for i in range(200)],
        "doc_id long, text string, source string, lang string",
    )
    out = corpus_datasheet(df)
    out.collect()  # run so AQE finalizes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # structural guarantees at any stats: no window over the corpus, no
    # cartesian, and only the fp-count/join/group-tuple exchanges — the
    # join itself is broadcast when stats allow (parquet sources, AQE)
    # and a 16-byte-key SMJ otherwise; both are the right 100 TB shape
    final = plan.split("== Initial Plan ==")[0]  # adaptive dumps both
    assert "Window" not in final and "Cartesian" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 4


# -- centroid pruning + hard-negative mining (round 11) ----------------------


def test_centroid_prune_semantics(spark):
    """Hand-checkable geometry: two labels, one with an obvious prototype
    cluster. The vector closest to its label mean prunes first; the
    outlier survives; prune count = floor(n·ppm/1e6) per label."""
    rows = [
        # label 0: three near-identical + one opposite-direction outlier
        (1, [1.0, 0.0], 0), (2, [0.99, 0.01], 0), (3, [0.98, 0.02], 0),
        (4, [-1.0, 0.0], 0),
        # label 1: two vectors, floor(2·0.5) = 1 pruned
        (10, [0.0, 1.0], 1), (11, [1.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in
           sim.centroid_prune(df, prune_ppm=500_000).collect()}
    l0_pruned = [v for v in (1, 2, 3, 4) if not out[v]["keep"]]
    assert len(l0_pruned) == 2  # floor(4·0.5)
    assert 4 not in l0_pruned   # the outlier always survives
    assert out[4]["centroid_cos"] < 0 < out[2]["centroid_cos"]
    assert sum(not out[v]["keep"] for v in (10, 11)) == 1

    # determinism under repartition (the exact-integer centroid's point)
    a = sorted(map(tuple, sim.centroid_prune(df.repartition(7)).collect()))
    b = sorted(map(tuple, sim.centroid_prune(df.coalesce(1)).collect()))
    assert a == b


def test_hard_negative_topk_masks_before_ranking(spark):
    """The label mask applies BEFORE the local top-k: a same-label vector
    more similar than every off-label one must not consume a slot, and
    each anchor gets exactly min(k, #off-label) rows."""
    rows = [
        (0, [1.0, 0.0], 0),            # anchor
        (1, [0.999, 0.001], 0),        # same label, nearest overall
        (2, [0.9, 0.1], 1),
        (3, [0.5, 0.5], 1),
        (4, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = sim.hard_negative_topk(df, df.where("vec_id = 0"), k=2).collect()
    got = [(r["anchor_id"], r["vec_id"]) for r in out]
    assert got == [(0, 2), (0, 3)]  # ranked off-label; vec 1 never appears
    # k larger than the off-label pool: all 3, no padding
    out3 = sim.hard_negative_topk(df, df.where("vec_id = 0"), k=9).collect()
    assert [r["vec_id"] for r in out3] == [2, 3, 4]


def test_centroid_and_hard_negative_zero_norm_rows(spark):
    """Zero-norm corpus rows (no defined cosine) behave identically on
    both engines: centroid_distance emits NULL for them (and for an
    all-zero centroid) and they rank least prototypical (NULLS LAST);
    hard_negative_topk drops them from candidacy — both guards are
    mirrored verbatim in the oracle SQL."""
    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),
        (3, [0.0, 0.0], 0),               # zero vector
        (10, [0.0, 0.0], 1), (11, [0.0, 0.0], 1),  # all-zero centroid
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r["vec_id"]: r for r in sim.centroid_distance(df).collect()}
    assert got[3]["centroid_cos"] is None
    assert got[10]["centroid_cos"] is None  # zero centroid: NULL too
    assert got[1]["centroid_cos"] is not None
    pruned = {r["vec_id"]: r for r in
              sim.centroid_prune(df, prune_ppm=500_000).collect()}
    assert pruned[3]["keep"]  # NULLS LAST: the zero row never prunes

    # anchor vec 1 (label 0); the only off-label candidate is the zero
    # vector vec 10 — the operator (and the oracle's mirrored filter)
    # drop it rather than rank a NaN cosine, so no negatives come back
    hn = sim.hard_negative_topk(
        df.where("label <> 1 or vec_id = 10"),
        df.where("vec_id = 1"), k=5).collect()
    assert hn == []


def test_hard_negative_topk_zero_norm_anchor_raises(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int")
    with pytest.raises(ValueError, match="zero-norm anchor"):
        sim.hard_negative_topk(df, df.where("vec_id = 0"), k=1)


def test_centroid_prune_approx_parity_and_plan(spark):
    """centroid_prune(exact=False) — the approximate score-quantile
    cutoff the round-11 docstring promised for skewed labels (round 12;
    threshold walk fully distributed round 13): on tie-free cosines it
    agrees with the exact arm row-for-row; with ties it under-prunes by
    at most the boundary bucket (pruned set is a SUBSET of the exact
    arm's); prune_ppm=1e6 prunes every non-NULL cosine while zero-norm
    rows survive both arms; every Window in the plan reads HISTOGRAM
    rows (never corpus rows); and constructing the plan performs no
    driver-side collect (round-12 verdict #1)."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1)],
             i % 3) for i in range(120)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")

    exact = {r["vec_id"]: r["keep"]
             for r in sim.centroid_prune(df, prune_ppm=400_000).collect()}
    approx = {r["vec_id"]: r["keep"]
              for r in sim.centroid_prune(
                  df, prune_ppm=400_000, exact=False).collect()}
    assert set(exact) == set(approx)
    # random floats → tie-free at 1e-6 ppm granularity → exact agreement
    assert exact == approx

    # tie case: every same-label cosine identical → ONE boundary bucket;
    # the approx arm keeps it whole (prunes nothing), exact prunes by id
    tied = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int")
    e2 = {r["vec_id"]: r["keep"]
          for r in sim.centroid_prune(tied, prune_ppm=500_000).collect()}
    a2 = {r["vec_id"]: r["keep"]
          for r in sim.centroid_prune(
              tied, prune_ppm=500_000, exact=False).collect()}
    assert sum(not k for k in e2.values()) == 5   # exact: 5 pruned
    assert all(a2.values())                       # approx: bucket kept
    pruned_a2 = {v for v, k in a2.items() if not k}
    assert pruned_a2 <= {v for v, k in e2.items() if not k}

    # prune_ppm=1e6: the approx arm prunes every non-NULL cosine and
    # keeps zero-norm rows; the exact arm's rank REACHES the NULLS-LAST
    # tail at this extreme — the one documented divergence beyond the
    # boundary bucket (centroid_prune docstring, round 12)
    withzero = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int")
    a3 = {r["vec_id"]: r["keep"]
          for r in sim.centroid_prune(
              withzero, prune_ppm=1_000_000, exact=False).collect()}
    assert a3 == {1: False, 2: False, 3: True}
    e3 = {r["vec_id"]: r["keep"]
          for r in sim.centroid_prune(
              withzero, prune_ppm=1_000_000).collect()}
    assert e3 == {1: False, 2: False, 3: False}  # exact prunes the tail

    # driver-materialization pin: constructing the approx plan must not
    # collect anything (the round-12 implementation collected the whole
    # (label × cos_ppm) histogram — millions of Rows of driver heap on
    # a few-dominant-labels corpus, the exact case the arm targets)
    from pyspark.sql import DataFrame as _DF

    _orig_collect = _DF.collect

    def _boom(self):
        raise AssertionError(
            "centroid_prune(exact=False) collected on the driver "
            "during plan construction")

    _DF.collect = _boom
    try:
        approx_df = sim.centroid_prune(df, exact=False)
    finally:
        _DF.collect = _orig_collect

    # plan pin: windows exist (the distributed threshold walk) but every
    # one of them reads histogram rows — its spec references the
    # histogram count __c, never the corpus sort (centroid_cos, vec_id)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, "expected the histogram cumulative-sum windows"
    # every window FUNCTION is a sum over the histogram count __c —
    # "sum(__c#", not the looser "__c" (which "__cppm" would satisfy):
    # a corpus-scale window ordered by __cppm must not slip past this
    assert all("sum(__c#" in ln for ln in win_lines)
    assert not any("vec_id" in ln for ln in win_lines)
    exact_plan = (sim.centroid_prune(df)
                  ._jdf.queryExecution().executedPlan().toString())
    assert "Window" in exact_plan  # the exact arm's corpus window remains


def test_centroid_prune_approx_twin_keeps_null_label_group(spark, tmp_path):
    """r13 verdict #2: the DuckDB twin of x_centroid_prune_approx joined
    its walk/threshold CTEs with plain equi-joins — a latent divergence
    from the operator's NULL-tolerant walk (window partitioning +
    eqNullSafe join). The twin's joins are now IS NOT DISTINCT FROM; this
    pins operator == twin on a corpus WITH a NULL-label group so the
    oracle can never silently diverge if the graded fixture grows NULL
    labels. (Both sides today exclude NULL-label rows at the SCORING
    step — centroid_distance's label join and the twin's scored CTE agree
    on that — so the pinned joint semantics is: NULL-label rows absent
    from the output, and every downstream walk join null-robust.)"""
    import duckdb

    import __spark_entry__ as entry

    rows = [
        # tie-free cosines so the approx walk genuinely prunes
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.5, 0.5], 0),
        (4, [-1.0, 0.0], 0),
        (10, [0.0, 1.0], None), (11, [0.05, 1.0], None),
        (12, [1.0, 1.0], None), (13, [-0.5, 1.0], None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    p = str(tmp_path)
    df.coalesce(1).write.parquet(f"{p}/embeddings.parquet")

    got = entry.x_centroid_prune_approx(spark, p)
    scols = got.columns
    smulti = sorted(
        tuple(str(r[c]) for c in sorted(scols)) for r in got.collect()
    )

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * "
            f"FROM '{p}/embeddings.parquet/*.parquet'")
    rel = con.sql(entry._CENTROID_PRUNE_APPROX_SQL)
    dcols = rel.columns
    dmulti = sorted(
        tuple(str(v) for _, v in sorted(zip(dcols, row)))
        for row in rel.fetchall()
    )
    assert sorted(scols) == sorted(dcols)
    assert smulti == dmulti
    # the labeled group survives scoring; pruning genuinely happened
    keeps = {r["vec_id"]: r["keep"] for r in got.collect()}
    assert len(keeps) == 4 and not all(keeps.values())


def test_gemm_null_exclusion_is_declarative_for_int_columns(spark):
    """Review fix (round 12): a nullable INT id/label column reaches the
    Arrow closure as float64 with NaN — an `is None` check passes NaN,
    certifying an unknown label as off-label and round-tripping large
    ids lossily. NULL exclusion therefore happens in the Spark plan, and
    these pin the int path: a NULL int label never mines as a negative,
    a NULL bigint corpus id never reaches the top-k, and a large id
    (> 2^53, unrepresentable in float64) survives exactly."""
    big = (1 << 60) + 7  # would corrupt through float64
    rows = [(big, [1.0, 0.0], 1), (2, [0.9, 0.1], 2),
            (3, [0.8, 0.2], None),      # NULL label
            (None, [0.95, 0.05], 2)]    # NULL id
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    anchors = df.where(f"vec_id = {big}")
    got = [(r["vec_id"], r["cosine_sim"]) for r in
           sim.hard_negative_topk(df, anchors, k=5).collect()]
    assert got and [g[0] for g in got] == [2]  # NULL id+label excluded

    qs = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id long, query_vec array<float>")
    topk = [r["vec_id"] for r in
            sim.cosine_topk_batch(df, qs, k=4).collect()]
    assert None not in topk and big in topk  # exact id, no NaN row
    assert topk[0] == big                    # big id ranks first intact


def test_dedup_and_decontaminate_null_ids_raise_loudly(spark):
    """Review fix (round 12): semantic_dedup's duplicate drop and
    embedding_decontaminate's contaminated drop are id anti-joins, which
    never match NULL — a NULL-id duplicate/contaminated row would
    silently SURVIVE. Both operators fail loudly and name the contract
    instead (both twins share semantic_dedup's scan-side assert)."""
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), (None, [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<float>")
    with pytest.raises(Exception, match="semantic_dedup: NULL vec_id"):
        sim.semantic_dedup(df, threshold=0.99, n_cells=1).collect()
    with pytest.raises(Exception, match="semantic_dedup: NULL vec_id"):
        sim.semantic_dedup_batch(df, threshold=0.99, n_cells=1).collect()
    ev = spark.createDataFrame(
        [("e", [1.0, 0.0])], "vec_id string, embedding array<float>")
    with pytest.raises(Exception,
                       match="embedding_decontaminate: NULL vec_id"):
        sim.embedding_decontaminate(df, ev, threshold=0.9).collect()
    # int ids with NULL (the NaN-through-Arrow shape) raise too
    dfi = spark.createDataFrame(
        [(1, [1.0, 0.0]), (None, [1.0, 0.0])],
        "vec_id long, embedding array<float>")
    with pytest.raises(Exception,
                       match="embedding_decontaminate: NULL vec_id"):
        sim.embedding_decontaminate(dfi, ev, threshold=0.9).collect()


def test_embedding_ops_hostile_label_fuzz(spark):
    """Seeded randomized campaign over the string-id/string-label
    embedding surface (round 12 — the pattern that caught the CSV and
    NULL-text corruption classes in r10): hostile ids and labels
    (quotes, backslashes, high bytes, emoji, empty strings) with NULLs
    and zero-norm vectors mixed in. hard_negative_topk is checked
    against a brute-force python ranking; centroid_prune's approx arm
    must agree with the exact arm on tie-free cosines (hostile labels
    exercise the eqNullSafe broadcast join and the NULL label group);
    repartitioning must not change either result."""
    import math
    import random

    pool = ["L'q", 'L"d', "L\\b", "Lβ中", "L🙂", ""]
    rng = random.Random(12)

    for trial in range(2):
        rows = []
        for i in range(60):
            vid = rng.choice(["d'", 'd"', "dβ", "d\\", "d🙂"]) + str(i)
            lab = rng.choice(pool + [None])
            vec = [rng.uniform(-1, 1) for _ in range(3)]
            if rng.random() < 0.05:
                vec = [0.0, 0.0, 0.0]
            rows.append((vid, vec, lab))
        rows.append((None, [1.0, 0.0, 0.0], pool[0]))  # NULL id row
        df = spark.createDataFrame(
            rows, "vec_id string, embedding array<float>, label string")

        # --- hard_negative_topk vs brute force ---
        valid = [(i, v, l) for i, v, l in rows
                 if i is not None and l is not None
                 and any(x != 0.0 for x in v)]
        anchors_py = valid[:4]
        anchors = df.where(
            F.col("vec_id").isin([a[0] for a in anchors_py]))
        got = {}
        for r in sim.hard_negative_topk(df, anchors, k=3).collect():
            got.setdefault(r["anchor_id"], []).append(
                (r["vec_id"], r["cosine_sim"]))

        def cos(a, b):
            num = sum(float(x) * float(y) for x, y in zip(a, b))
            den = (math.sqrt(sum(float(x)**2 for x in a))
                   * math.sqrt(sum(float(x)**2 for x in b)))
            return round(num / den, 6)

        for aid, avec, alab in anchors_py:
            cand = sorted(
                ((cid, cos(avec, cv)) for cid, cv, cl in valid
                 if cl != alab),
                key=lambda t: (-t[1], t[0]))[:3]
            assert got.get(aid, []) == cand, (trial, aid)

        # repartitioning must not move the ranking (ties break by id)
        got2 = {}
        for r in sim.hard_negative_topk(
                df.repartition(7), anchors, k=3).collect():
            got2.setdefault(r["anchor_id"], []).append(
                (r["vec_id"], r["cosine_sim"]))
        assert got == got2

        # --- centroid_prune: approx == exact on tie-free cosines ---
        exact = {r["vec_id"]: r["keep"] for r in sim.centroid_prune(
            df, prune_ppm=300_000).collect()}
        approx = {r["vec_id"]: r["keep"] for r in sim.centroid_prune(
            df.repartition(5), prune_ppm=300_000, exact=False).collect()}
        assert exact == approx, trial


def test_hard_negative_topk_anchor_cap_raises(spark):
    """The driver-side anchor collect is guarded (round 12): an anchors
    frame past max_anchors fails loudly instead of silently OOMing the
    driver — the 'anchors are a training batch' contract moved from the
    docstring into code."""
    df = spark.createDataFrame(
        [(i, [1.0, float(i)], i % 2) for i in range(20)],
        "vec_id long, embedding array<float>, label int")
    with pytest.raises(ValueError, match="max_anchors"):
        sim.hard_negative_topk(df, df, k=1, max_anchors=10)
    # at or under the cap: runs
    assert sim.hard_negative_topk(
        df, df.limit(10), k=1, max_anchors=10).count() == 10


def test_hard_negative_topk_hostile_string_ids_and_labels(spark):
    """String/hostile ids and labels (round 12 — the int64 coercion this
    replaces crashed on them): quotes, high bytes, empty strings, and
    NULLs flow through the Arrow closure; NULL-label corpus rows are
    excluded (unknown label can't be certified off-label), NULL-label
    anchors raise, and ties break in string order, verified against a
    brute-force python computation."""
    import itertools
    import math

    rows = [
        ("d'quote", [1.0, 0.0], "L\"a"),
        ("d2", [0.9, 0.1], "Lβ"),          # high-byte label
        ("d10", [0.9, 0.1], "Lβ"),         # tie with d2: string order
        ("", [0.5, 0.5], "L\"a"),          # empty id
        ("dnull", [0.4, 0.6], None),       # NULL label: excluded
        (None, [0.3, 0.7], "Lβ"),          # NULL id: excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>, label string")
    anchors = df.where("vec_id = 'd''quote'")
    out = sim.hard_negative_topk(df, anchors, k=3).collect()
    got = [(r["anchor_id"], r["vec_id"], r["cosine_sim"]) for r in out]

    # brute force: off-label, non-null, cosine desc then id asc
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(x * x for x in b))
        return round(num / den, 6)

    expect = sorted(
        ((cand_id, cos([1.0, 0.0], v))
         for cand_id, v, lab in rows
         if cand_id is not None and lab is not None and lab != "L\"a"),
        key=lambda t: (-t[1], t[0]))[:3]
    assert got == [("d'quote", cid, s) for cid, s in expect]
    assert [g[1] for g in got] == ["d10", "d2"]  # string-order tie-break

    # schema follows the inputs: string ids in, string ids out
    out_df = sim.hard_negative_topk(df, anchors, k=1)
    assert dict(out_df.dtypes) == {
        "anchor_id": "string", "vec_id": "string", "cosine_sim": "double"}

    # NULL-label anchors violate the caller contract loudly
    with pytest.raises(ValueError, match="NULL id/label"):
        sim.hard_negative_topk(df, df.where("vec_id = 'dnull'"), k=1)


def test_keep_best_packed_argmin_matches_struct_min(spark, tmp_path):
    """x_dedup_keep_best's r14 DECIMAL radix-packed argmin must pick the
    same keepers as the min(struct(-quality, doc_id)) arbiter it replaced,
    on planted clusters: a quality-differentiated near-dup pair (keeper =
    higher quality, NOT smaller id), an exact-tie pair (keeper = smaller
    id), and a NULL-text singleton (NULL quality exercises the nulls-first
    packing branch)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from mydumper_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs,
    )
    from mydumper_spark.operators.text import quality_score

    long_a = ("clean shared prose tokens " * 6).strip()
    rows = [
        # near-dup pair, different punctuation density -> different quality
        (1, long_a + " tail one", "en", "s", 1),
        (2, long_a + " tail one!!!!!!!!!!!!!!!!!!!!", "en", "s", 1),
        # exact duplicate pair -> equal quality, id tie-break
        (10, long_a + " other block", "en", "s", 1),
        (11, long_a + " other block", "en", "s", 1),
        # NULL text -> NULL quality singleton
        (20, None, "en", "s", 1),
        (30, "completely different standalone document text here", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int")
    d = str(tmp_path / "planted")
    df.coalesce(1).write.parquet(d + "/documents.parquet")

    got = {r["cluster_id"]: r["keeper_id"]
           for r in entry.x_dedup_keep_best(spark, d).collect()}

    # reference: the pre-r14 struct-min arbiter over the same operators
    docs = spark.read.parquet(d + "/documents.parquet")
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.4)
    comp = connected_components(pairs).withColumnRenamed("id", "doc_id")
    qual = quality_score(docs.select("doc_id", "text")).select("doc_id", "quality")
    clustered = (
        docs.select("doc_id").join(comp, "doc_id", "left")
        .select("doc_id", F.coalesce("comp", "doc_id").alias("cluster_id"))
        .join(qual, "doc_id")
    )
    want = {r["cluster_id"]: r["keeper_id"] for r in clustered.groupBy(
        "cluster_id").agg(
        F.min(F.struct((-F.col("quality")).alias("nq"),
                       F.col("doc_id").alias("id")))["id"].alias("keeper_id")
    ).collect()}
    assert got == want and len(got) > 0
    # the planted semantics, spelled out
    assert want[10] == 10                      # tie -> smaller id
    assert want[20] == 20                      # NULL-quality singleton
    q = {r["doc_id"]: r["quality"] for r in qual.collect()}
    assert q[1] != q[2]                        # quality really differs
    assert want[1] == (1 if q[1] > q[2] else 2)  # keeper = higher quality
    # and the new arbiter is hash-aggregated (no corpus sort)
    plan = entry.x_dedup_keep_best(spark, d)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert "SortAggregate" not in plan

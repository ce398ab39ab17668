"""Property-based tests (hypothesis) for driver-side planner/protocol logic.

The chunk-planner's contract — every row matches exactly one predicate — is
checked here against DuckDB over arbitrary integer multisets (including
NULLs and duplicates), independently of Spark. The reference proves the same
property indirectly via roundtrip checksums (test_mydumper.sh:248-249).
"""

from __future__ import annotations

import io

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st

from mydumper_spark.planner.chunks import _ranges_to_predicates


@st.composite
def values_and_bounds(draw):
    vals = draw(
        st.lists(
            st.one_of(st.integers(-10_000, 10_000), st.none()),
            min_size=1,
            max_size=200,
        )
    )
    nonnull = sorted({v for v in vals if v is not None})
    if len(nonnull) < 2:
        return vals, []
    n_bounds = draw(st.integers(0, 6))
    idxs = {
        draw(st.integers(0, len(nonnull) - 1), label=f"bound{i}")
        for i in range(n_bounds)
    }
    idxs |= {0, len(nonnull) - 1}
    bounds = sorted({nonnull[i] for i in idxs})
    return vals, bounds


@settings(max_examples=200, deadline=None)
@given(values_and_bounds())
def test_chunk_predicates_partition_exactly(vb):
    vals, bounds = vb
    if len(bounds) < 2:
        return
    has_null = any(v is None for v in vals)
    preds = _ranges_to_predicates("c", bounds, include_null_first=has_null)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(c INTEGER)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    total = con.execute("SELECT count(*) FROM t").fetchone()[0]
    per_chunk = [
        con.execute(f"SELECT count(*) FROM t WHERE {p}").fetchone()[0] for p in preds
    ]
    # disjoint AND covering: counts add up to the table size exactly
    assert sum(per_chunk) == total == len(vals)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet="abcdefXYZ0123456789_.-% ü",
                min_size=1,
                max_size=40,
            ),
            st.binary(max_size=2048),
        ),
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
def test_stream_protocol_roundtrip(frames):
    from mydumper_spark.streaming.protocol import read_frames, write_frame

    buf = io.BytesIO()
    for name, payload in frames:
        write_frame(buf, name, payload)
    buf.seek(0)
    assert list(read_frames(buf)) == [(n, p) for n, p in frames]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=64))
def test_checksum_fold_order_independent(hashes):
    """The manifest checksum must be invariant under any row order — xor fold
    modeled directly."""
    import random

    fold = 0
    for h in hashes:
        fold ^= h
    shuffled = list(hashes)
    random.shuffle(shuffled)
    fold2 = 0
    for h in shuffled:
        fold2 ^= h
    assert fold == fold2


# -- INSERT-dump parser: escape→parse inversion ------------------------------

_ESCAPES = (
    ("\\", "\\\\"), ("'", "\\'"), ("\x00", "\\0"),
    ("\n", "\\n"), ("\r", "\\r"), ("\x1a", "\\Z"),
)


def _mysql_escape(s: str) -> str:
    """mysql_real_escape_string forward map (the writer's matrix,
    sinks/writers.py:_sql_literal)."""
    for raw, esc in _ESCAPES:
        s = s.replace(raw, esc)
    return s


@st.composite
def insert_rows(draw):
    width = draw(st.integers(1, 5))
    cell = st.one_of(
        st.none(),
        st.integers(-(10**9), 10**9),
        st.text(max_size=40),  # arbitrary unicode incl. quotes/commas/parens
    )
    rows = draw(st.lists(st.lists(cell, min_size=width, max_size=width),
                         min_size=1, max_size=6))
    return rows


@settings(max_examples=300, deadline=None)
@given(insert_rows())
def test_insert_parser_inverts_escaping(rows):
    """For ANY cell values, writer-style escaping → parse_tuples recovers
    them exactly: the parser must invert the escaping matrix, tolerate
    quotes/commas/parens inside strings, and keep NULL vs '' distinct."""
    from mydumper_spark.sources.insert_parser import parse_tuples

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + _mysql_escape(v) + "'"

    stmt = (
        "INSERT INTO `t` VALUES "
        + ",".join("(" + ",".join(lit(v) for v in row) + ")" for row in rows)
        + ";"
    )
    assert "\n" not in stmt  # the line-parallelism invariant itself
    got = parse_tuples(stmt)
    want = [[v if v is None else str(v) for v in row] for row in rows]
    assert got == want

    # the with_quoted variant is the same parse plus a flag — stripping
    # the flags must reproduce the default output exactly, and the flag
    # must be True iff the literal was rendered quoted (strings; ints
    # and NULL are bare)
    flagged = parse_tuples(stmt, with_quoted=True)
    assert [[v for v, _ in tup] for tup in flagged] == want
    for row, tup in zip(rows, flagged):
        for v, (_, q) in zip(row, tup):
            assert q == isinstance(v, str)


# -- MySQL lexer: statement and trigger splitting -----------------------------
#
# Each region draws its body from tokens that are legal inside it and hostile
# outside it (terminators, the other quotes, comment markers, newlines).

_HOSTILE = [";", "--", "# ", "/* */", "a", " ", "\n", "CREATE TRIGGER "]


def _region(opener, body_tokens, closer):
    return st.lists(st.sampled_from(body_tokens), max_size=8).map(
        lambda toks: opener + "".join(toks) + closer)


_sql_piece = st.one_of(
    _region("'", _HOSTILE + ['"', "\\'", "''", "\\\\", "`"], "'"),
    _region('"', _HOSTILE + ["'", '\\"', '""', "\\\\", "`"], '"'),
    _region("`", [t for t in _HOSTILE if t != "\n"]
            + ["'", '"', "``", "\\"], "`"),
    # no "*/" can form inside: the only '*' is the opener's, never before '/'
    _region("/*", [t.replace("/* */", "/* ") for t in _HOSTILE]
            + ["'", '"', "`", "\\"], " */"),
    # code: '--' before a non-space is double negation; a version comment's
    # body is code, so a '*/' inside its literal does not close it
    st.sampled_from(["1", "1--1", "x", ",", "/*!40101 @x := '*/;' */"]),
)


#: comments around a statement: before its head, on its own line(s) or
#: the head's, and after its terminator on the terminator's line
_HEAD_COMMENT = st.sampled_from(
    ["", "/* ; ' */ ", "/*a*/", "/* a\n ; */ ", "# x;\n", "-- ' ;\n"])
_TAIL_COMMENT = st.sampled_from(
    ["", " -- ;'", " # x;", "/* ; */", " /* ' */ -- ;", " /* a\n ; */"])


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_HEAD_COMMENT,
                          st.lists(_sql_piece, min_size=1, max_size=6),
                          _TAIL_COMMENT),
                min_size=1, max_size=5))
def test_statements_split_exactly_at_toplevel_terminators(stmts):
    """A ';' or quote inside a literal, identifier or comment, on the same
    line or a later one, neither ends nor opens anything, and comments
    before a statement's head or after its terminator are not part of
    it: every statement comes back exactly as written."""
    from mydumper_spark.sources.mysqldump_reader import _statements

    want = ["SELECT " + " ".join(pieces) for _, pieces, _ in stmts]
    text = "".join(head + w + ";" + tail + "\n"
                   for (head, _, tail), w in zip(stmts, want))
    assert [st_ for st_, _ in _statements(io.StringIO(text))] == want


@settings(max_examples=100, deadline=None)
@given(st.lists(
    st.tuples(st.text(st.sampled_from("ab `;'\"#-/*"), min_size=1,
                      max_size=12),
              st.lists(_sql_piece, max_size=4)),
    min_size=1, max_size=4))
def test_split_trigger_artifact_names_every_trigger(triggers):
    """Only a top-level CREATE TRIGGER starts a trigger, however its
    name and body quote or comment the phrase."""
    from mydumper_spark.engine import _split_trigger_artifact

    raw = "".join(
        f"CREATE TRIGGER `{name.replace('`', '``')}` BEFORE INSERT ON `t` "
        f"FOR EACH ROW SET @x = {' '.join(body) or '1'};\n"
        for name, body in triggers)
    assert [n for n, _ in _split_trigger_artifact(raw)] == [
        name for name, _ in triggers]


# -- corpus chunking/packing boundary arithmetic ------------------------------
#
# The Spark expressions in operators/corpus.py are pure integer arithmetic
# over (n, max_tokens, overlap, budget); these properties check the same
# formulas across the whole parameter space, Spark-free. Both round-5 bug
# classes lived exactly here: a start past n-1-overlap emitted a
# pure-overlap duplicate chunk, and the packing fill-level claim was
# asymmetric in the wrong direction.


def _chunk_spans(n: int, max_tokens: int, overlap: int) -> list[tuple[int, int]]:
    """Mirror of chunk_documents' start sequence: [start, end) spans."""
    stride = max_tokens - overlap
    upper = max(n - 1 - overlap, 0)
    starts = list(range(0, upper + 1, stride))
    return [(s, min(s + max_tokens, n)) for s in starts]


@given(
    st.integers(1, 500),
    st.integers(2, 64),
    st.integers(0, 62),
)
@settings(max_examples=300, deadline=None)
def test_chunk_spans_cover_exactly_once_with_overlap(n, max_tokens, overlap):
    if overlap >= max_tokens:
        overlap = max_tokens - 1
    spans = _chunk_spans(n, max_tokens, overlap)
    # coverage: dropping each non-first span's overlap prefix tiles [0, n)
    rebuilt = []
    for i, (s, e) in enumerate(spans):
        lo = s if i == 0 else s + overlap
        assert lo < e, (n, max_tokens, overlap, spans)  # no pure-overlap chunk
        rebuilt.extend(range(lo, e))
    assert rebuilt == list(range(n)), (n, max_tokens, overlap, spans)
    # every span is a genuine window: ≤ max_tokens tokens, > 0
    assert all(0 < e - s <= max_tokens for s, e in spans)


@given(
    st.lists(st.integers(1, 64), min_size=1, max_size=300),
    st.integers(8, 4096),
)
@settings(max_examples=300, deadline=None)
def test_pack_binning_fill_bounds_and_conservation(sizes, budget):
    max_chunk = max(sizes)
    pre = 0
    bins: dict[int, int] = {}
    for sz in sizes:
        b = pre // budget
        bins[b] = bins.get(b, 0) + sz
        pre += sz
    # conservation
    assert sum(bins.values()) == sum(sizes)
    # bin ids are contiguous from 0 (no empty bins skipped... except when a
    # single chunk is larger than the budget, which may jump bins)
    if max_chunk <= budget:
        assert sorted(bins) == list(range(len(bins)))
    # fill bounds: every non-last bin within one chunk of the budget
    last = max(bins)
    for b, total in bins.items():
        if b != last and max_chunk <= budget:
            assert budget - max_chunk < total < budget + max_chunk, (
                b, total, budget, max_chunk)


# -- DDL mapping round-trip (restore-side CREATE <-> dump-side schema parse) --

_DDL_TYPES = {
    "tinyint": None, "smallint": None, "int": None, "bigint": None,
    "float": None, "double": None, "string": None, "binary": None,
    "timestamp": None, "date": None, "decimal(12,2)": None,
    "decimal(38,0)": None,
}


def _mk_type(name):
    from pyspark.sql import types as T

    simple = {
        "tinyint": T.ByteType(), "smallint": T.ShortType(),
        "int": T.IntegerType(), "bigint": T.LongType(),
        "float": T.FloatType(), "double": T.DoubleType(),
        "string": T.StringType(), "binary": T.BinaryType(),
        "timestamp": T.TimestampType(), "date": T.DateType(),
    }
    if name in simple:
        return simple[name]
    p, s = name[len("decimal("):-1].split(",")
    return T.DecimalType(int(p), int(s))


@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
            st.sampled_from(sorted(_DDL_TYPES)),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=60, deadline=None)
def test_create_table_ddl_roundtrips_through_schema_parser(cols):
    """create_table_ddl(mysql) output must parse back to the same Spark
    types via schema_from_create_table -- the dump-side parser and the
    restore-side generator are inverse maps on the common type set (the
    parser maps MySQL FLOAT->float, TEXT->string, LONGBLOB->binary,
    DATETIME->timestamp, DECIMAL(p,s) verbatim)."""
    from pyspark.sql.types import StructField, StructType

    from mydumper_spark.plans.ddl import create_table_ddl, schema_from_create_table

    schema = StructType([StructField(n, _mk_type(t), True) for n, t in cols])
    ddl = create_table_ddl("t", schema, dialect="mysql")
    parsed = schema_from_create_table(ddl)
    got = {}
    for part in parsed.split(", "):
        name, typ = part.split("` ", 1)
        got[name.lstrip("`")] = typ
    assert got == dict(cols), (ddl, parsed)


# --- round 7: driver-side BPE merge-loop properties (no Spark needed) ---

_words = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=8),
    min_size=1, max_size=30,
)


@given(_words)
@settings(max_examples=60, deadline=None)
def test_bpe_encode_is_lossless_and_deterministic(words):
    """For ANY corpus: encoding then stripping the end-of-word marker
    reconstructs the words exactly (BPE merges only ever concatenate
    adjacent units), and training is a pure function of the frequency
    dict."""
    from collections import Counter

    from mydumper_spark.operators.tokenizer import (
        EOW, _encode_word, train_bpe_merges,
    )

    freqs = sorted(Counter(words).items(), key=lambda kv: (-kv[1], kv[0]))
    merges = train_bpe_merges(freqs, num_merges=20)
    assert merges == train_bpe_merges(list(freqs), num_merges=20)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in set(words):
        toks = _encode_word(w, ranks)
        assert "".join(toks) == w + EOW      # lossless
        assert all(t for t in toks)          # no empty units


@st.composite
def _corpus(draw):
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    docs = draw(st.lists(
        st.lists(st.sampled_from(vocab), min_size=0, max_size=25),
        min_size=1, max_size=12))
    return [" ".join(d) for d in docs]


@given(_corpus())
@settings(max_examples=15, deadline=None)
def test_substring_dedup_conservation_properties(texts):
    """For ANY corpus: per doc, kept + removed == total tokens; surviving
    tokens are a subsequence of the original; the globally-first
    occurrence of every duplicated k-gram is never excised (some doc
    retains each gram's text); and token mass never grows."""
    from mydumper_spark.operators.corpus import exact_substring_dedup
    from mydumper_spark.session import get_session

    spark = get_session("tests", master="local[*]", shuffle_partitions=32)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in exact_substring_dedup(df, k=3).collect()}
    assert set(out) == set(range(len(texts)))
    for i, t in enumerate(texts):
        orig = t.split()
        kept = out[i]["clean_text"].split()
        assert out[i]["n_tokens_kept"] + out[i]["n_tokens_removed"] == len(orig)
        assert len(kept) == out[i]["n_tokens_kept"]
        # subsequence check
        it = iter(orig)
        assert all(any(o == k for o in it) for k in kept)


_I64 = st.one_of(st.none(), st.sampled_from([-2**63, 2**63 - 1, 0, 2**31 - 1]),
                 st.integers(-2**63, 2**63 - 1))
_I31 = st.one_of(st.none(), st.sampled_from([0, 2**31 - 1]),
                 st.integers(0, 2**31 - 1))
#: layout → (fields, the key type the bounds call for)
_PACKED_LAYOUTS = {
    "decimal": ([("a", -2**63, 2**63 - 1), ("b", 0, 2**31 - 1)],
                "decimal(38,0)"),
    "bigint": ([("c", -3, 3), ("b", 0, 2**31 - 1), ("c", -3, 3)], "bigint"),
    "fallback": ([("s", 0, 0), ("a", -2**63, 2**63 - 1)], "struct"),
}


# one Spark job per example (~1 s), so each example carries many groups
@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 7), _I64, _I31,
                          st.one_of(st.none(), st.integers(-3, 3)),
                          st.one_of(st.none(), st.text("ab", max_size=2))),
                min_size=1, max_size=40))
@example([(0, None, None, None, None), (0, -2**63, 0, -3, "a"),
          (0, 2**63 - 1, 2**31 - 1, 3, "b"), (1, 0, 2**31 - 1, None, ""),
          (1, None, 0, 3, None), (2, 2**31 - 1, None, -3, "ab")])
def test_packed_key_min_max_match_struct(rows):
    """For ANY groups of tuples, NULLs in every field and the BIGINT
    bounds included: min and max of util.packed_key, decoded, equal
    min(struct) and max(struct) — for a BIGINT-width key, a
    DECIMAL(38,0)-width key, and a string field's struct fallback."""
    from pyspark.sql import functions as F

    from mydumper_spark.session import get_session
    from mydumper_spark.util import packed_key

    spark = get_session("tests", master="local[*]", shuffle_partitions=32)
    df = spark.createDataFrame(
        rows, "g int, a long, b int, c int, s string")
    aggs, decoded = [], []
    for name, (fields, key_type) in _PACKED_LAYOUTS.items():
        key, decode = packed_key(df, fields)
        assert df.select(key).schema[0].dataType.simpleString().startswith(
            key_type), name
        ref = F.struct(*[F.col(c).alias(f"r{i}")
                         for i, (c, _, _) in enumerate(fields)])
        for agg in (F.min, F.max):
            col = f"{name}_{agg.__name__}"
            aggs += [agg(key).alias(col), agg(ref).alias(col + "_ref")]
            decoded += [F.struct(*decode(F.col(col))).alias(col),
                        col + "_ref"]
    for row in df.groupBy("g").agg(*aggs).select("g", *decoded).collect():
        for col in row.asDict():
            if col.endswith("_ref"):
                assert tuple(row[col[:-4]]) == tuple(row[col]), (
                    col, row[col[:-4]], row[col])


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False, width=32),
             min_size=1, max_size=64),
    st.floats(1e-6, 1e6, allow_nan=False),
)
def test_sq8_quantize_properties(vec, scale):
    """The SQ8 quantizer (the Python query-side twin the cross-engine
    exactness hinges on): codes stay in [-127,127]; quantization is
    monotone per component; signs are preserved; inside the clamp region
    the reconstruction error is at most half a bucket; near-odd symmetry
    holds (round-half-up differs from odd symmetry by at most one code)."""
    from mydumper_spark.operators.similarity import sq8_quantize

    codes = sq8_quantize(vec, scale)
    assert all(-127 <= c <= 127 for c in codes)
    for v, c in zip(vec, codes):
        if v > 0:
            assert c >= 0
        if v < 0:
            assert c <= 0
        if abs(v) <= scale:  # un-clamped region: half-bucket error bound
            assert abs(c - v * 127.0 / scale) <= 0.5 + 1e-9
    neg = sq8_quantize([-v for v in vec], scale)
    assert all(abs(c + n) <= 1 for c, n in zip(codes, neg))
    # monotone: sorting the inputs sorts the codes
    s = sorted(vec)
    cs = sq8_quantize(s, scale)
    assert cs == sorted(cs)
    # degenerate scale: all zeros
    assert sq8_quantize(vec, 0.0) == [0] * len(vec)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=120),
    st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
    st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
)
def test_retarget_database_properties(body, old, new):
    """The -B DDL rewrite: idempotent (retargeting twice = once), total
    (never raises), and complete — no word-boundary `old.` qualifier
    survives in the output when old is not a prefix-free collision with
    the replacement."""
    import re

    from mydumper_spark.plans.ddl import retarget_database

    if old == new or old in new:
        return  # replacement containing the needle re-introduces matches
    out = retarget_database(body, old, new, "ansi")
    assert retarget_database(out, old, new, "ansi") == out  # idempotent
    # completeness: no unquoted word-boundary old. remains
    assert not re.search(rf'(?<![\w`"]){re.escape(old)}\.', out)
    assert f"`{old}`." not in out and f'"{old}".' not in out


# -- LoaderDag retry/resume invariants under random failure injection --------


def test_loader_dag_randomized_retry_resume_invariants():
    """Seeded random DAGs with injected failures: a job that fails more
    times than its retry budget must end failed (never falsely ok), one
    within budget must end ok; the persisted resume log must make a
    second run re-execute EXACTLY the failures (completed jobs never
    re-run, failed jobs never skipped)."""
    import random
    import threading

    from mydumper_spark.plans.loader_dag import LoadJob, LoaderDag, Phase

    rng = random.Random(11)
    for _ in range(60):
        tables = [f"t{i}" for i in range(rng.randint(1, 10))]
        fail_counts: dict = {}
        always_failed: set = set()
        lock = threading.Lock()

        def make_action(key, always):
            def action():
                with lock:
                    rem = fail_counts.get(key, 0)
                    if always or rem > 0:
                        if rem > 0:
                            fail_counts[key] = rem - 1
                        raise RuntimeError(f"boom {key}")
            return action

        dag = LoaderDag(parallelism=rng.choice([1, 2, 4]))
        for t in tables:
            for ph in (Phase.SCHEMA, Phase.DATA):
                key = (t, ph.name)
                k, r = rng.choice([0, 0, 0, 1, 2, 3]), rng.randint(0, 2)
                always = rng.random() < 0.08
                fail_counts[key] = 0 if always else k
                if always or k > r:
                    always_failed.add(key)
                dag.add(LoadJob(table=t, phase=ph,
                                action=make_action(key, always), retries=r))
        results = dag.run(fail_fast=False)
        for t in tables:
            for ph in (Phase.SCHEMA, Phase.DATA):
                if ph == Phase.DATA and (t, "SCHEMA") in always_failed:
                    continue  # dependent job — its own verdict is moot
                res = results[(t, ph)]
                assert res.ok == ((t, ph.name) not in always_failed), (
                    t, ph, res.error)
        # resume: only failures re-run
        log = set(dag.resume_log)
        reran: dict = {}
        dag2 = LoaderDag(resume_log=set(log))
        for t in tables:
            for ph in (Phase.SCHEMA, Phase.DATA):
                dag2.add(LoadJob(
                    table=t, phase=ph,
                    action=(lambda k=(t, ph.name):
                            reran.__setitem__(k, reran.get(k, 0) + 1))))
        dag2.run(fail_fast=False)
        for (t, phn), cnt in reran.items():
            assert f"{t}:{phn}" not in log, (t, phn)  # completed never re-ran
        for t in tables:
            for phn in ("SCHEMA", "DATA"):
                if f"{t}:{phn}" not in log:
                    assert (t, phn) in reran, (t, phn)  # failures always re-ran


# -- stream protocol: frame roundtrip under hostile payloads/names -----------


def test_stream_protocol_randomized_roundtrip(tmp_path):
    """Seeded random directories (binary payloads — including ones that
    embed fake frame markers — unicode/space/hidden filenames) must
    stream → read_frames → restore_directory byte-identically, with the
    INI metadata file framed dead last (the reference's dump-complete
    signal)."""
    import io
    import os
    import random

    from mydumper_spark.streaming.protocol import (
        read_frames,
        restore_directory,
        stream_directory,
    )

    rng = random.Random(13)
    for trial in range(8):
        src = tmp_path / f"src{trial}"
        src.mkdir()
        names = set()
        for i in range(rng.randint(1, 8)):
            name = rng.choice([
                f"db.t{i}.{i:05d}.sql", f"t{i}.parquet", "metadata",
                f"weird name {i}.sql", f"uni_ключ_{i}.dat",
                f"a-b_{i}.sql.gz", f".hidden{i}",
            ])
            if name in names:
                continue
            names.add(name)
            payload = bytes(rng.getrandbits(8)
                            for _ in range(rng.randint(0, 4000)))
            if rng.random() < 0.5:  # embed a fake frame marker
                payload += b"\n-- fakefile 123\n" + payload
            (src / name).write_bytes(payload)
        buf = io.BytesIO()
        stream_directory(buf, str(src))
        buf.seek(0)
        frames = list(read_frames(buf))
        got = [n for n, _ in frames]
        assert set(got) == names
        if "metadata" in names:
            assert got[-1] == "metadata", got
        for n, payload in frames:
            assert payload == (src / n).read_bytes(), n
        buf.seek(0)
        tgt = tmp_path / f"tgt{trial}"
        restore_directory(buf, str(tgt))
        for n in names:
            assert (tgt / n).read_bytes() == (src / n).read_bytes(), n

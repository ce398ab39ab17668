"""INSERT-statement dump parser (SURVEY §2.1 S12) — restore a reference-style
``.sql`` dump (multi-row ``INSERT INTO … VALUES (…),(…);``) into a DataFrame.

The reference streams each dump file and executes its INSERT statements
against MySQL (/root/reference/src/myloader/myloader_restore.c:193-199;
filename routing myloader_process_filename.c). Spark-first re-expression:
the dump is *data*, not statements — parse the VALUES tuples back into rows
and let any sink re-emit them.

Scale shape: ``spark.read.text`` splits the dump across tasks by line, and
the MySQL escaping matrix (mysql_real_escape_string — our writer mirrors it
in sinks/writers.py:_sql_literal) guarantees ``\\n``/``\\r`` inside values
are backslash-escaped, so a tuple never spans physical lines and line-level
parallelism is safe. Parsing is a character-level state machine (quoted
strings, doubled quotes, backslash escapes, NULL, 0x binary) that SQL
built-ins can't express, so it runs as Arrow-batched ``mapInPandas`` —
the sanctioned Python path — and everything after it (type casts, unhex)
is back in codegen.

Binary fidelity: when the target schema has binary columns the file is
read byte-faithfully (latin-1 line reader — bytes↔codepoints 1:1), so a
stock reference dump's quoted ``_binary '…'`` values with raw bytes >0x7F
(mydumper_write.c:684-699, the default without --hex-blob) round-trip
exactly, and parse_tuples' was-quoted bit guarantees a quoted literal
``'0x41'`` is never mistaken for the hex wire form.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mydumper_spark.sources.sqllex import toplevel

#: MySQL backslash-escape map (mysql_real_escape_string inverse)
_UNESCAPE = {
    "0": "\x00",
    "n": "\n",
    "t": "\t",
    "r": "\r",
    "b": "\b",
    "Z": "\x1a",
    "'": "'",
    '"': '"',
    "\\": "\\",
}


_VALUES = re.compile(r"(?<!\w)VALUES(?!\w)", re.I)
_HEAD_TOKEN = re.compile(r"[(),]|" + _VALUES.pattern, re.I)


def _find_values_kw(s: str) -> int:
    """Index just past the first top-level VALUES keyword, or -1 (a table
    or column named `values`, or VALUES in a string or comment, does not
    count)."""
    m = next(toplevel(_VALUES, s), None)
    return -1 if m is None else m.end()


def _insert_columns(line: str) -> "list[str] | None":
    """Explicit column list of an INSERT statement head (``INSERT INTO
    t (a, b) VALUES …``) or None when the statement has none. The
    reference writes one whenever the dumped fields differ from the
    table's full column set — ``--complete-insert``, per-table
    ``columns_on_insert`` config, and ALWAYS for tables with generated
    columns, which are excluded from dumps and recomputed server-side
    (detect_generated_fields forcing complete_insert,
    mydumper_table.c:478-482; mysqldump does the same). Parentheses,
    commas and VALUES count only in top-level code (sqllex): a
    backticked column named ``a(b`` or a commented-out group must not
    open a group, and the LAST top-level group before VALUES is the list
    (the table name itself cannot be parenthesized)."""
    depth = 0
    bounds: list[int] = []
    last = None
    for m in toplevel(_HEAD_TOKEN, line):
        tok = m.group()
        if tok == "(":
            depth += 1
            if depth == 1:
                bounds = [m.end()]
        elif tok == ")":
            depth -= 1
            if depth == 0:
                last = bounds + [m.start()]
        elif tok == ",":
            if depth == 1:
                bounds += [m.start(), m.end()]
        else:
            break
    else:
        return None  # no VALUES keyword
    if last is None:
        return None
    out = []
    for a, b in zip(last[::2], last[1::2]):
        c = line[a:b].strip()
        if c.startswith("`") and c.endswith("`") and len(c) >= 2:
            c = c[1:-1].replace("``", "`")
        out.append(c)
    return out


def parse_tuples(line: str, with_quoted: bool = False) -> list:
    """Parse every ``(v1, v2, …)`` tuple on one physical line.

    Accepts full statements (``INSERT … VALUES (…),(…);``), reference-style
    continuation lines that start at ``(``, and returns [] for anything else
    (comments, SET, DDL). Values come back as strings, with ``None`` for the
    unquoted NULL literal; unquoted tokens (numbers, 0xHEX) are passed
    through verbatim for the typed cast to interpret.

    With ``with_quoted=True`` each value is a ``(value, was_quoted)`` pair so
    the typed cast can distinguish the reference's two binary wire forms
    without guessing: an UNQUOTED ``0xHEX`` token (--hex-blob,
    mydumper_write.c:386-388) hex-decodes, while a QUOTED value is always
    literal bytes — even when it happens to spell ``'0x41'``."""
    s = line.strip()
    if not s or s.startswith(("/*", "--", "#")):
        return []
    head = s[:8].upper()
    if head.startswith(("INSERT", "REPLACE")):
        start = _find_values_kw(s)
        if start < 0:
            return []
    elif s[0] == "(":
        start = 0
    else:
        return []

    out: list[list[str | None]] = []
    i, n = start, len(s)
    while i < n:
        while i < n and s[i] != "(":
            i += 1
        if i >= n:
            break
        i += 1
        vals: list[str | None] = []
        buf: list[str] = []
        quoted = False
        in_str = False
        while i < n:
            ch = s[i]
            if in_str:
                if ch == "\\" and i + 1 < n:
                    buf.append(_UNESCAPE.get(s[i + 1], s[i + 1]))
                    i += 2
                    continue
                if ch == "'":
                    if i + 1 < n and s[i + 1] == "'":  # doubled-quote escape
                        buf.append("'")
                        i += 2
                        continue
                    in_str = False
                    i += 1
                    continue
                buf.append(ch)
                i += 1
                continue
            if ch == "'":
                # drop a charset-introducer prefix (`_binary 'x'`,
                # `_utf8mb4'x'` — mydumper_write.c:698-699 emits the
                # _binary form without --hex-blob): MySQL grammar allows
                # only an introducer or whitespace before a quoted
                # literal, and leaking it into the value corrupts it
                if buf and "".join(buf).strip().startswith("_"):
                    buf = []
                in_str = True
                quoted = True
                i += 1
                continue
            if ch in ",)":
                if quoted:
                    val = "".join(buf)
                else:
                    tok = "".join(buf).strip()
                    val = None if tok.upper() == "NULL" else tok
                vals.append((val, quoted) if with_quoted else val)
                buf = []
                quoted = False
                i += 1
                if ch == ")":
                    out.append(vals)
                    break
                continue
            if not quoted:
                buf.append(ch)
            # after a closing quote, anything before the separator is
            # insignificant whitespace — drop it
            i += 1
    return out


def _as_struct(schema: T.StructType | str) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


def typed_from_strings(
    df: DataFrame,
    schema: T.StructType | str,
    quoted_cols: dict[str, str] | None = None,
    latin1_text: bool = False,
) -> DataFrame:
    """Cast the all-strings parse output to the target schema — plain
    Catalyst casts; binary columns decode the reference's two wire forms
    (mydumper_write.c:386-388 ``0xHEX`` under --hex-blob, :684-699 quoted
    ``_binary '…'`` by default).

    ``quoted_cols`` maps a binary field name to the boolean column carrying
    parse_tuples' was-quoted bit: with it, a QUOTED value is always literal
    bytes (a foreign dump's ``'0x41'`` stays the four characters ``0x41``)
    and only an UNQUOTED ``0xHEX`` token hex-decodes — no guessing. Without
    it (legacy callers) the old heuristic applies: values that spell a
    complete ``0xHEX`` token decode as hex.

    ``latin1_text=True`` says the source file was read byte-faithfully as
    latin-1 (read_insert_sql does this whenever the schema has binary
    columns): binary columns re-encode to their exact original bytes, and
    string columns re-decode those bytes as the UTF-8 the dump actually
    contains."""
    schema = _as_struct(schema)
    quoted_cols = quoted_cols or {}
    cols = []
    for f in schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.BinaryType):
            as_bytes = F.encode(c, "ISO-8859-1")
            hexish = c.rlike("^0[xX][0-9A-Fa-f]*$")
            unhexed = F.unhex(F.regexp_replace(c, "^0[xX]", ""))
            if f.name in quoted_cols:
                q = F.col(quoted_cols[f.name])
                cols.append(
                    F.when(c.isNull(), F.lit(None).cast("binary"))
                    .when(q, as_bytes)
                    .when(hexish, unhexed)
                    .otherwise(as_bytes)
                    .alias(f.name))
            else:
                # legacy heuristic (no quoted bit): hex-looking values
                # decode as hex — ambiguous for a quoted literal '0x41'
                cols.append(
                    F.when(c.isNull(), F.lit(None).cast("binary"))
                    .when(hexish, unhexed)
                    .otherwise(as_bytes)
                    .alias(f.name))
        elif latin1_text and isinstance(f.dataType, T.StringType):
            cols.append(
                F.decode(F.encode(c, "ISO-8859-1"), "UTF-8").alias(f.name))
        else:
            cols.append(c.cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _peek_insert_columns(spark, path) -> "list[str] | None":
    """Column list of the first INSERT statement head across the first
    few candidate data files — bounded (256 KiB per file, ≤ 8 files)
    driver-side peeks through util.read_text_head (the shared
    gz/zst/plain codec routing). Multiple candidates matter: a dump
    DIRECTORY sorts ``db.table-schema.sql`` before the data chunks and
    a Spark-written dir leads with ``_SUCCESS`` — a statement-less
    first file must not silently lose the list. Returns None when the
    first statement found has no explicit list (the common full-row
    dump) or no statement exists."""
    import glob as _glob
    import os as _os

    from mydumper_spark.util import read_text_head

    if isinstance(path, (list, tuple)):
        cands = list(path)
    elif _os.path.isdir(path):
        cands = sorted(
            _os.path.join(path, f) for f in _os.listdir(path)
            if not f.startswith((".", "_")))
    elif _glob.has_magic(path):
        cands = sorted(_glob.glob(path))
    else:
        cands = [path]
    for first in cands[:8]:
        if not _os.path.exists(first) or _os.path.isdir(first):
            continue
        head = read_text_head(first, 256 * 1024, spark=spark)
        for line in head.splitlines():
            if _find_values_kw(line) >= 0:
                return _insert_columns(line)
    return None


def read_insert_sql(
    spark: SparkSession, path: str | list[str], schema: T.StructType | str
) -> DataFrame:
    """Read a ``.sql`` INSERT dump (file, directory, glob, or list of paths)
    into a typed DataFrame. ``schema`` is required — in a reference dump it
    lives in the sibling ``db.table-schema.sql`` file, not the data file."""
    import pandas as pd

    schema = _as_struct(schema)
    names = [f.name for f in schema.fields]
    n_cols = len(names)
    bin_idx = [i for i, f in enumerate(schema.fields)
               if isinstance(f.dataType, T.BinaryType)]
    quoted_cols = {names[i]: f"__q_{names[i]}" for i in bin_idx}
    out_names = names + [quoted_cols[names[i]] for i in bin_idx]
    str_schema = T.StructType(
        [T.StructField(nm, T.StringType(), True) for nm in names]
        + [T.StructField(quoted_cols[names[i]], T.BooleanType(), True)
           for i in bin_idx])

    name_pos = {nm: i for i, nm in enumerate(names)}
    # a GENUINE reference dump writes the INSERT head and its rows on
    # SEPARATE lines, so a row line carries no column list of its own —
    # and mapInPandas partitions lines arbitrarily, so the head cannot
    # be carried as parser state. The list is constant per table
    # (mydumper builds it once, mydumper_table.c:473-482), so one
    # bounded driver-side peek at the first chunk's first statement
    # head recovers it for every headless row line.
    default_cols = _peek_insert_columns(spark, path)
    default_map = None
    if default_cols is not None and default_cols != names:
        missing = [c for c in default_cols if c not in name_pos]
        if missing:
            raise ValueError(
                f"INSERT column list names {missing} absent from the "
                f"schema (first statement head of {path!r})")
        default_map = [name_pos[c] for c in default_cols]

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # an explicit INSERT column list maps tuple positions to schema
        # positions (complete-insert / generated-column dumps: the tuple
        # is a SUBSET of the schema, possibly reordered — a positional
        # read would misalign every value); unlisted columns stay NULL.
        # The mapping is cached per distinct list (one per table in
        # practice).
        map_cache: dict = {}
        for pdf in batches:
            rows: list[list] = []
            for line in pdf["value"]:
                # head-line guard: a genuine dump's row-per-line body
                # never opens with INSERT/REPLACE, and _insert_columns
                # would otherwise re-scan every row line end-to-end
                cols = (_insert_columns(line)
                        if line[:16].lstrip()[:7].upper().startswith(
                            ("INSERT", "REPLACE")) else None)
                if cols is not None and bin_idx:
                    # binary-schema files are read latin-1 (byte-
                    # faithful); a non-ASCII column name parsed from
                    # such a line is mojibake until re-decoded as the
                    # UTF-8 the dump actually contains — name_pos holds
                    # the TRUE names (the driver peek decodes UTF-8 too)
                    cols = [c.encode("iso-8859-1")
                             .decode("utf-8", "surrogateescape")
                            for c in cols]
                idxmap = default_map
                if cols is not None:
                    key = tuple(cols)
                    idxmap = map_cache.get(key)
                    if idxmap is None:
                        missing = [c for c in cols if c not in name_pos]
                        if missing:
                            raise ValueError(
                                f"INSERT column list names {missing} "
                                f"absent from the schema: {line[:120]!r}")
                        idxmap = [name_pos[c] for c in cols]
                        map_cache[key] = idxmap
                for tup in parse_tuples(line, with_quoted=True):
                    if idxmap is None:
                        if len(tup) != n_cols:
                            raise ValueError(
                                f"INSERT tuple has {len(tup)} values, "
                                f"schema has {n_cols}: {line[:120]!r}")
                        rows.append([v for v, _ in tup]
                                    + [tup[i][1] for i in bin_idx])
                    else:
                        if len(tup) != len(idxmap):
                            raise ValueError(
                                f"INSERT tuple has {len(tup)} values, "
                                f"column list has {len(idxmap)}: "
                                f"{line[:120]!r}")
                        vals: list = [None] * n_cols
                        qarr: list = [None] * n_cols
                        for p, (v, q) in zip(idxmap, tup):
                            vals[p] = v
                            qarr[p] = q
                        rows.append(vals + [qarr[i] for i in bin_idx])
            yield pd.DataFrame(rows, columns=out_names, dtype=object)

    if bin_idx:
        # byte-faithful read: a stock reference dump (no --hex-blob) emits
        # binary as quoted `_binary '…'` with raw bytes >0x7F on the wire
        # (mydumper_write.c:684-699) — spark.read.text would mangle them
        # through UTF-8. Latin-1 maps bytes↔codepoints 1:1 (reversible);
        # the separator/quote bytes below are in mysql_real_escape_string's
        # always-escaped set, so they never appear raw in a dump line and
        # each physical line surfaces as exactly one row. String columns
        # are re-decoded as UTF-8 in typed_from_strings.
        raw = (spark.read.format("csv")
               .option("sep", "\x1a")
               .option("quote", "\x00")
               .option("encoding", "ISO-8859-1")
               .option("ignoreLeadingWhiteSpace", "false")
               .option("ignoreTrailingWhiteSpace", "false")
               .schema("value string").load(path))
    else:
        raw = spark.read.text(path)
    parsed = raw.mapInPandas(parse_batches, schema=str_schema)
    return typed_from_strings(parsed, schema, quoted_cols=quoted_cols,
                              latin1_text=bool(bin_idx))

"""mysqldump-format intake (myloader --mysqldump analogue).

The reference loader accepts a mysqldump-format stream alongside its own
layout (/root/reference/src/myloader/myloader_arguments.c:151 --mysqldump;
intake routing myloader_stream.c). A mysqldump file is ONE .sql script:
per-database ``CREATE DATABASE``/``USE`` headers, multi-line ``CREATE
TABLE`` DDL, single-line extended ``INSERT`` statements, ``DELIMITER``-
wrapped triggers/routines/events, and ``/*!NNNNN ... */`` version-gated
statements (view stand-in tables + the real ``CREATE VIEW``).

Spark-first re-expression: the file is a single-node artifact (mysqldump
itself is single-threaded), so SPLITTING it is a one-pass driver-side
stream — but everything after the split is distributed: the splitter
re-emits the reference's own dump layout (``db.table-schema.sql`` +
``db.table.00000.sql`` + object artifacts), whose data chunks then load
through the line-parallel INSERT parser (sources/insert_parser.py) on
executors. mysqldump escapes ``\\n``/``\\r`` inside values, so INSERT
statements never span physical lines and the split stays line-streamed
(bounded memory regardless of dump size).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from mydumper_spark.sources.sqllex import (
    CODE,
    COMMENT,
    STRING,
    SqlLexer,
    toplevel,
)

_RE_CREATE_DB = re.compile(
    r"^CREATE\s+DATABASE\s+(?:/\*!\d+\s+IF\s+NOT\s+EXISTS\s*\*/\s*|IF\s+NOT"
    r"\s+EXISTS\s+)?`?([^`\s]+)`?", re.I)
_RE_USE = re.compile(r"^USE\s+`?([^`;\s]+)`?", re.I)
_RE_CREATE_TABLE = re.compile(r"^CREATE\s+TABLE\s+`?([^`\s(]+)`?", re.I)
_RE_INSERT = re.compile(
    r"^(?:INSERT|REPLACE)\s+(?:IGNORE\s+)?INTO\s+`?([^`\s(]+)`?", re.I)
#: strict clause order (MySQL grammar) — a table COLUMN named `view`
#: must not route CREATE TABLE into the view branch
_RE_VIEW = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?(?:ALGORITHM=\S+\s+)?"
    r"(?:DEFINER=\S+\s+)?(?:SQL\s+SECURITY\s+\w+\s+)?"
    r"VIEW\s+`?([^`\s(]+)`?", re.I)
_RE_OBJ = re.compile(
    r"^CREATE\b.*?\b(TRIGGER|PROCEDURE|FUNCTION|EVENT)\s+`?([^`\s(]+)`?",
    re.I | re.S)


#: a MySQL version gate's opener (``/*!NNNNN``) or closer (``*/``)
_GATE = re.compile(r"/\*!\d{5}\s?|\s?\*/")


def _ungate(s: str) -> str:
    """Remove the openers and closers of version gates, interleaved ones
    included (``/*!50003 CREATE*/ /*!50017 DEFINER=…*/ /*!50003 TRIGGER
    …``), leaving replayable DDL. Only markers in code go: a ``'*/'`` or
    ``'/*!50003'`` literal is the object's data."""
    out, pos = [], 0
    for m in toplevel(_GATE, s):
        out.append(s[pos:m.start()])
        pos = m.end()
    out.append(s[pos:])
    return "".join(out)


@dataclass
class SplitResult:
    """What one mysqldump file contained, re-laid-out into ``out_dir``."""

    #: manifest key → {database, name, schema_path|None, data_path|None,
    #:                 create_sql|None}
    tables: dict[str, dict] = field(default_factory=dict)
    #: [{kind, database, name, raw_sql, table|None}]
    objects: list[dict] = field(default_factory=list)
    databases: list[str] = field(default_factory=list)
    skipped_statements: int = 0
    multi_db: bool = False
    #: INSERT statements that SPANNED physical lines and were flattened to
    #: one line for the line-parallel parser. mysqldump's own escaping
    #: makes this safe (\n inside values is backslash-escaped, so a real
    #: newline is always formatting), but a nonzero count means the input
    #: was post-processed (e.g. pretty-printed) — surfaced via warning.
    flattened_inserts: int = 0


def _statements(lines) -> "Iterator[tuple[str, str]]":
    """Yield (statement, routing copy) pairs from a line stream. A
    statement ends on a line whose last code (outside every literal and
    comment: sqllex) ends with the current delimiter, so a comment may
    follow the terminator; ``DELIMITER`` switches are honored
    (trigger/routine bodies contain bare ``;``). Comments and whitespace
    before a statement's first code are dropped, so they never hide its
    head from the routing regexes. The routing copy is the statement
    with each comment turned into one space."""
    delim = ";"
    buf: list[str] = []
    commented = False
    lex = SqlLexer()
    for line in lines:
        if not buf and lex.open is None:
            stripped = line.strip()
            # no statement starts with dashes, so a `--x` rule line goes
            # too, though MySQL would read it as code
            if stripped.startswith("--"):
                continue
            m = re.match(r"^DELIMITER\s+(\S+)", stripped, re.I)
            if m:
                delim = m.group(1)
                continue
        start = 0 if buf else None
        last, end = None, 0
        for kind, a, b in lex.regions(line):
            if kind == COMMENT:
                # one before the statement's first code is not in it
                commented |= start is not None
            elif kind != CODE or not line[a:b].isspace():
                if start is None:
                    start = a
                last, end = kind, b
        if start is None:
            continue  # only comments and whitespace before a statement
        head = line[:end].rstrip()
        if last == CODE and head.endswith(delim):
            buf.append(head[start: len(head) - len(delim)])
            stmt = "\n".join(buf).strip()
            yield stmt, _without_comments(stmt) if commented else stmt
            buf, commented = [], False
        else:
            buf.append(line[start:].rstrip("\n"))
    if buf:  # unterminated trailing statement — surface, don't swallow
        stmt = "\n".join(buf).strip()
        yield stmt, _without_comments(stmt) if commented else stmt


def _without_comments(sql: str) -> str:
    """``sql`` with each comment turned into one space."""
    return "".join(" " if kind == COMMENT else sql[a:b]
                   for kind, a, b in SqlLexer().regions(sql))


def _flatten_statement(raw: str) -> str:
    """One-statement-per-line rewrite for the line-parallel parser.
    mysqldump's own output never has in-value newlines (they're escaped
    at dump time), but hand-written/third-party SQL can: a physical
    newline INSIDE a quoted value is re-escaped to ``\\n`` (the exact
    form the INSERT parser unescapes back to a real newline — value
    fidelity preserved), while newlines outside quotes are pure
    formatting and become spaces. A comment becomes one space: a ``--``
    comment kept on the joined line would swallow the rest of it."""
    out: list[str] = []
    for kind, a, b in SqlLexer().regions(raw):
        part = raw[a:b]
        if kind == STRING:
            part = part.replace("\n", "\\n").replace("\r", "\\r")
        elif kind == COMMENT:
            part = " "
        else:
            part = part.replace("\n", " ")
        out.append(part)
    return "".join(out)


def split_mysqldump(path: str, out_dir: str) -> SplitResult:
    """One streaming pass: route every statement of a mysqldump file into
    the reference dump layout under ``out_dir``. Data INSERT lines are
    appended verbatim to ``{db.}table.00000.sql`` (the INSERT parser reads
    them as-is); CREATE TABLE goes to ``{db.}table-schema.sql``; views/
    triggers/routines/events are returned for object-artifact synthesis.

    View stand-ins (mysqldump's ``/*!50001 CREATE TABLE ...*/`` temporary
    definitions) are recognized by their version gate and dropped — the
    real ``CREATE VIEW`` replaces them."""
    os.makedirs(out_dir, exist_ok=True)
    res = SplitResult()
    current_db: str | None = None
    # key → open data-chunk handle, LRU-capped: a 10k-table dump must not
    # hold 10k descriptors (mysqldump groups a table's INSERTs contiguously,
    # so evicted handles reopen in append mode at most once per table in
    # practice)
    data_fh: dict[str, object] = {}
    _FH_CAP = 128

    def _handle(key: str, path: str):
        fh = data_fh.pop(key, None)
        if fh is None:
            if len(data_fh) >= _FH_CAP:
                oldest = next(iter(data_fh))
                data_fh.pop(oldest).close()
            # explicit utf-8: the locale-default encoding (C/POSIX in
            # containers/cron) would raise UnicodeEncodeError mid-split on
            # non-ASCII INSERT data. surrogateescape pairs with the input
            # read below so raw binary bytes (a dump taken without
            # --hex-blob emits quoted binary verbatim) pass through the
            # split byte-for-byte instead of collapsing to U+FFFD
            fh = open(path, "a", encoding="utf-8",
                      errors="surrogateescape")
        data_fh[key] = fh  # re-insert = most recent (dict order)
        return fh

    def key_for(name: str) -> tuple[str, str | None, str]:
        """(manifest_key, database, bare_name) honoring `db`.`t` spellings."""
        name = name.strip("`")
        if "." in name:
            db, bare = name.split(".", 1)
            db, bare = db.strip("`"), bare.strip("`")
        else:
            db, bare = current_db, name
        key = f"{db}.{bare}" if db else bare
        return key, db, bare

    try:
        with open(path, encoding="utf-8",
                  errors="surrogateescape") as fh:
            for raw, code in _statements(fh):
                gated = code.startswith("/*!")
                # strip every gate opener and closer in code (`CREATE
                # DATABASE /*!32312 IF NOT EXISTS*/ …` has both
                # mid-statement): ``s`` is the replayable artifact
                # text, ``route`` the comment-free copy the regexes match
                # (`CREATE /* x */ TABLE`); data INSERTs are written from
                # ``raw``, so a ``*/`` inside a value is untouched
                s = _ungate(raw).strip()
                route = s if code is raw else _ungate(code).strip()
                m = _RE_USE.match(route)
                if m:
                    current_db = m.group(1)
                    if current_db not in res.databases:
                        res.databases.append(current_db)
                    continue
                m = _RE_CREATE_DB.match(route)
                if m:
                    db = m.group(1)
                    if db not in res.databases:
                        res.databases.append(db)
                    with open(os.path.join(out_dir,
                                           f"{db}-schema-create.sql"),
                              "w", encoding="utf-8",
                              errors="surrogateescape") as f:
                        f.write(s + ";\n")  # gate-free, replayable form
                    continue
                m = _RE_INSERT.match(route)
                if m:
                    key, db, bare = key_for(m.group(1))
                    entry = res.tables.setdefault(
                        key, {"database": db, "name": bare,
                              "schema_path": None, "data_path": None,
                              "create_sql": None})
                    if entry["data_path"] is None:
                        entry["data_path"] = os.path.join(
                            out_dir, f"{key}.00000.sql")
                        open(entry["data_path"], "w",
                             encoding="utf-8",
                             errors="surrogateescape").close()  # truncate
                    # verbatim when single-line (the mysqldump norm: its
                    # escaping guarantees one statement per line). A
                    # statement that SPANS lines (pretty-printed input, or
                    # hand-written SQL with a real newline inside a quoted
                    # value) flattens quote-aware: formatting newlines
                    # become spaces, in-value newlines re-escape to \n so
                    # the parser restores them exactly — counted, never
                    # silently rewritten
                    if "\n" in raw:
                        res.flattened_inserts += 1
                        raw = _flatten_statement(raw)
                    _handle(key, entry["data_path"]).write(raw + ";\n")
                    continue
                m = _RE_CREATE_TABLE.match(route)
                if m:
                    if gated:
                        # /*!50001 CREATE TABLE — a view stand-in, not a
                        # real table; the CREATE VIEW arrives later
                        res.skipped_statements += 1
                        continue
                    key, db, bare = key_for(m.group(1))
                    entry = res.tables.setdefault(
                        key, {"database": db, "name": bare,
                              "schema_path": None, "data_path": None,
                              "create_sql": None})
                    entry["create_sql"] = raw.rstrip() + ";"
                    entry["schema_path"] = os.path.join(
                        out_dir, f"{key}-schema.sql")
                    with open(entry["schema_path"], "w",
                              encoding="utf-8",
                              errors="surrogateescape") as f:
                        f.write(entry["create_sql"] + "\n")
                    continue
                mv = _RE_VIEW.match(route)
                if mv:
                    key, db, bare = key_for(mv.group(1))
                    # the real view supersedes any /*!50001 stand-in table
                    res.tables.pop(key, None)
                    res.objects.append({"kind": "view", "database": db,
                                        "name": bare,
                                        "raw_sql": s + ";",
                                        "table": None})
                    continue
                mo = _RE_OBJ.match(route)
                if mo:
                    kind_raw, name = mo.group(1).upper(), mo.group(2)
                    kind = {"TRIGGER": "trigger", "PROCEDURE": "routine",
                            "FUNCTION": "routine", "EVENT": "event"}[kind_raw]
                    _, db, bare = key_for(name)
                    res.objects.append({"kind": kind, "database": db,
                                        "name": bare,
                                        "raw_sql": s + ";",
                                        "table": None})
                    continue
                # session plumbing (SET, LOCK TABLES, DROP TABLE, …) and
                # anything else unrouted
                res.skipped_statements += 1
    finally:
        for f in data_fh.values():
            f.close()
    res.multi_db = len({e["database"] for e in res.tables.values()}) > 1
    if res.flattened_inserts:
        import warnings

        warnings.warn(
            f"mysqldump import: {res.flattened_inserts} INSERT "
            "statement(s) spanned physical lines and were flattened "
            "(in-value newlines re-escaped, formatting newlines "
            "spaced) — the input looks post-processed "
            "(pretty-printed / re-wrapped)",
            stacklevel=2)
    return res

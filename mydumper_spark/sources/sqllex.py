"""MySQL's lexical rules, written once, for every splitter on the import path.

myloader splits foreign SQL (mysqldump scripts, mydumper chunk files,
trigger artifacts) with a statement-aware splitter that knows where
literals and comments begin and end (myloader_process_filename.c); a
``;`` or keyword inside a string, identifier or comment is not SQL. This
module is the one place in the package that encodes those rules:

* ``'…'`` and ``"…"`` literals, with backslash escapes;
* backtick identifiers, which have no escapes;
* a doubled quote inside a literal or identifier (``'it''s'``) needs no
  rule of its own: closing and at once reopening leaves the same text
  inside;
* ``-- `` comments (MySQL requires whitespace after the dashes: ``a--1``
  subtracts a negative), ``#`` comments, both to end of line;
* ``/* … */`` comments. An executable version comment (``/*!NNNNN … */``)
  is NOT a comment: MySQL runs its body, so the body lexes as code.

:class:`SqlLexer` cuts text into contiguous ``(kind, start, end)``
regions. It yields them lazily, so a keyword lookup near the head of a
multi-MB INSERT line stops there, and it carries an open literal or block
comment from one call to the next, so a file can be fed line by line.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

CODE, STRING, IDENT, COMMENT = "code", "string", "ident", "comment"

_OPENER = re.compile(r"""['"`#]|--(?=\s|\Z)|/\*(?!!)""")
#: what ends each region, matched from just past its opener
_CLOSER = {
    "'": re.compile(r"[^'\\]*(?:\\.[^'\\]*)*'", re.S),
    '"': re.compile(r'[^"\\]*(?:\\.[^"\\]*)*"', re.S),
    "`": re.compile(r"[^`]*`"),
    "#": re.compile(r"[^\n]*"),
    "--": re.compile(r"[^\n]*"),
    "/*": re.compile(r".*?\*/", re.S),
}
_KIND = {"'": STRING, '"': STRING, "`": IDENT,
         "#": COMMENT, "--": COMMENT, "/*": COMMENT}
#: code is searched for openers this many characters at a time, so a lazy
#: consumer never pays for a scan of the rest of a long line
_WINDOW = 512


class SqlLexer:
    """Cuts SQL text into code, string, identifier and comment regions.

    One instance lexes one stream: feed its pieces (whole text, or lines
    with their newlines) to :meth:`regions` in order."""

    def __init__(self) -> None:
        #: opener of the literal, identifier or block comment still open
        #: at the end of the text lexed so far; None at top level
        self.open: str | None = None

    def regions(self, text: str) -> Iterator[tuple[str, int, int]]:
        """Yield ``(kind, start, end)`` regions covering ``text`` in order.
        A region includes its quotes or comment markers; one that does
        not close runs to the end of ``text`` and stays open for the next
        call."""
        search = _OPENER.search
        pos, n = 0, len(text)
        while pos < n:
            opener = self.open
            if opener is None:
                end = pos + _WINDOW
                # two characters past the window let an opener that starts
                # inside it see its lookahead
                m = search(text, pos, end + 2)
                start = m.start() if m else end
                if start >= end:
                    end = min(end, n)
                    yield CODE, pos, end
                    pos = end
                    continue
                if start > pos:
                    yield CODE, pos, start
                opener = m.group()
                pos = m.end()
            else:
                start = pos
            close = _CLOSER[opener].match(text, pos)
            if close:
                self.open = None
                pos = close.end()
            else:
                self.open = opener
                pos = n
            yield _KIND[opener], start, pos


def toplevel(pattern: re.Pattern, text: str) -> Iterator[re.Match]:
    """Matches of ``pattern`` in ``text`` that start in top-level code
    (outside every literal, identifier and comment), lazily."""
    regions = SqlLexer().regions(text)
    kind, end = CODE, 0
    for m in pattern.finditer(text):
        while end <= m.start():
            kind, _, end = next(regions)
        if kind == CODE:
            yield m

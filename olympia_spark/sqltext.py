"""Statement text below Spark's parser: the engine's one SQL lexer.

The engine reads and rewrites statement text before ``spark.sql`` sees
it (comment stripping, whitespace normalization, clause and keyword
finds, comma splits, identifier rewrites, QUALIFY/TABLESAMPLE/EXCLUDE
rewrites, the MV plan parsers). Every one of those questions — is this
character inside a string literal, a quoted identifier or a comment? —
is answered by the one scanner here, so two helpers can never disagree
about where a literal ends. A second quote grammar cross-pairs
delimiters across the first one's spans (an escaped quote closes one
grammar's literal early, a quote inside a backtick identifier opens
one), which rewrites literal text or loses real code.

The grammar is Spark's default lexing (``escapedStringLiterals`` off,
ANSI double-quoted identifiers off):

* ``'...'`` — string literal; ``\\`` escapes the next character and
  ``''`` stays inside the literal.
* ``"..."`` — string literal; ``\\`` escapes the next character (a
  doubled ``""`` lexes as two adjacent literals, covering the same
  text).
* ``r'...'`` / ``R"..."`` — raw string literal: no escapes, it runs to
  the next quote of its kind (``r'C:\\'`` is ``C:\\``). The ``r`` opens one
  only where it starts a token, not after a letter, digit or ``_``.
* ```...``` — quoted identifier, running to the next backtick.
* ``-- ...`` — line comment up to (not including) the newline.
* ``/* ... */`` — block comment; block comments NEST (SPARK-28880), so
  they are counted, never matched lazily.

An unterminated literal, identifier or block comment runs to the end of
the text.
"""

from __future__ import annotations

import re
from typing import Callable

_TOKEN_RE = re.compile(
    r"(?P<literal>(?<!\w)[rR](?:'[^']*'?|\"[^\"]*\"?)"
    r"|'(?:[^'\\]+|\\[\s\S]?|'')*'?"
    r'|"(?:[^"\\]+|\\[\s\S]?)*"?)'
    r"|(?P<ident>`[^`]*`?)"
    r"|(?P<comment>--[^\n]*)"
    r"|(?P<block>/\*)")
_BLOCK_RE = re.compile(r"/\*|\*/")
_PAREN_RE = re.compile(r"[()]")
_SPLIT_RE = re.compile(r"[(),]")


def scan(s: str) -> list[tuple[str, str]]:
    """(kind, text) segments of ``s`` in one left-to-right pass; kind is
    ``code``, ``literal`` (a quoted string, with its quotes), ``ident``
    (a backtick-quoted identifier, with its backticks) or ``comment``.
    The texts concatenate back to ``s``."""
    segs: list[tuple[str, str]] = []
    i, n = 0, len(s)
    while i < n:
        m = _TOKEN_RE.search(s, i)
        if m is None:
            break
        if m.start() > i:
            segs.append(("code", s[i:m.start()]))
        kind, end = m.lastgroup, m.end()
        if kind == "block":
            kind, depth = "comment", 1
            while depth:
                b = _BLOCK_RE.search(s, end)
                if b is None:
                    end = n
                    break
                depth += 1 if b.group() == "/*" else -1
                end = b.end()
        segs.append((kind, s[m.start():end]))
        i = end
    if i < n:
        segs.append(("code", s[i:]))
    return segs


def strip_comments(s: str) -> str:
    """Replace each comment with one space, keeping every literal and
    quoted identifier verbatim (a ``--`` inside a literal is content).
    Optimizer hints (``/*+ ... */``) are comments here too."""
    return "".join(" " if k == "comment" else t for k, t in scan(s))


def normalize(sql: str) -> str:
    """Strip comments, trim, drop a trailing ``;`` and collapse runs of
    whitespace to one space — never inside literals or quoted
    identifiers, whose text is executed verbatim later. A comment counts
    as whitespace, so a run spanning one collapses too."""
    parts: list[tuple[str, str]] = []
    for k, t in scan(sql):
        if k == "comment":
            k, t = "code", " "
        if k == "code" and parts and parts[-1][0] == "code":
            parts[-1] = ("code", parts[-1][1] + t)
        else:
            parts.append((k, t))
    out = "".join(re.sub(r"\s+", " ", t) if k == "code" else t
                  for k, t in parts)
    return out.strip().rstrip(";").strip()


def _blank(kind: str, t: str) -> str:
    if kind == "code":
        return t
    if kind == "comment":
        return " " * len(t)
    lead = 2 if t[0] in "rR" else 1     # a raw literal keeps its r
    if len(t) <= lead:
        return t                        # an opening quote at the end
    # keep both delimiters; the last character is kept only when it is
    # the same quote (an unterminated literal runs to the end anyway)
    close = t[-1] if t[-1] == t[lead - 1] else " "
    return t[:lead] + " " * (len(t) - lead - 1) + close


def code_view(s: str) -> str:
    """``s`` with the contents of every literal and quoted identifier
    blanked to spaces (their quote characters kept) and every comment
    blanked whole. Length-preserving, so an index found in the view is
    the same index in ``s``; keyword, paren and clause scans run on the
    view and slice the text. Splicing quote-free code into ``s`` at
    code positions can be mirrored in the view without a new scan."""
    return "".join(_blank(k, t) for k, t in scan(s))


def ref_view(s: str) -> str:
    """:func:`code_view` with quoted identifiers kept verbatim: the view
    table references are matched on (```ns1`.`t```), where a match can
    still never start inside a literal or a comment."""
    return "".join(t if k == "ident" else _blank(k, t) for k, t in scan(s))


def scrub(s: str) -> str:
    """``s`` with literals and comments replaced by a space and each
    quoted identifier by the placeholder ``__quoted_ident__`` — for
    identifier whitelists, which must never see quoted content. The
    placeholder is an identifier no whitelist knows, so a quoted call
    such as ```rand`()`` cannot slip through as nothing."""
    return "".join(t if k == "code"
                   else " __quoted_ident__ " if k == "ident" else " "
                   for k, t in scan(s))


def find_kw(code: str, kw: str, start: int = 0) -> int | None:
    """Index of the first word-bounded, case-insensitive ``kw`` at paren
    depth 0 (counted from ``start``) in a code view, or None."""
    pat = re.compile(rf"(?<!\w){re.escape(kw)}(?!\w)|[()]", re.I)
    depth = 0
    for m in pat.finditer(code, start):
        t = m.group()
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            return m.start()
    return None


def match_paren(code: str, open_idx: int) -> int:
    """Index one past the ``)`` matching the ``(`` at ``open_idx`` of a
    code view; ValueError when it is never closed."""
    depth = 0
    for m in _PAREN_RE.finditer(code, open_idx):
        depth += 1 if m.group() == "(" else -1
        if depth == 0:
            return m.end()
    raise ValueError("unbalanced parentheses in SQL")


def split_top_level(s: str) -> list[str]:
    """Split ``s`` on the commas at paren depth 0 that are code (column
    lists, partition lists, VALUES tuples, select lists); the pieces
    keep their whitespace, and an empty last piece is dropped."""
    parts, depth, last = [], 0, 0
    for m in _SPLIT_RE.finditer(code_view(s)):
        c = m.group()
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            parts.append(s[last:m.start()])
            last = m.end()
    if last < len(s):
        parts.append(s[last:])
    return parts


def split_code(s: str) -> list[str]:
    """``s`` as ``[code, other, code, …, code]`` (odd length): the even
    pieces are runs of code and quoted identifiers (the places a table
    reference can be), the odd pieces single literals or comments. The
    pieces concatenate back to ``s``."""
    parts: list[str] = []
    run: list[str] = []
    for k, t in scan(s):
        if k in ("code", "ident"):
            run.append(t)
        else:
            parts += ["".join(run), t]
            run = []
    parts.append("".join(run))
    return parts


def map_code(s: str, fn: Callable[[str], str]) -> str:
    """Apply ``fn`` to each code run of :func:`split_code`; literals and
    comments pass through untouched."""
    return "".join(fn(p) if i % 2 == 0 else p
                   for i, p in enumerate(split_code(s)))


def rewrite_groups(s: str, fn: Callable[[str], str], kw: str) -> str:
    """Apply a statement rewrite inside every parenthesized group of
    ``s``, innermost first: a group body that holds a nested group or
    ``kw`` at its own depth 0 becomes ``fn(body)`` once its own groups
    are rewritten. Subqueries and CTE bodies then get the same rewrite
    as the top level, which the caller applies itself."""
    def walk(s: str, code: str) -> str:
        out, pos = [], 0
        i = code.find("(")
        while i != -1:
            end = match_paren(code, i)
            body, bcode = s[i + 1:end - 1], code[i + 1:end - 1]
            if "(" in bcode or find_kw(bcode, kw) is not None:
                body = fn(walk(body, bcode))
            out += [s[pos:i + 1], body, ")"]
            pos = end
            i = code.find("(", end)
        out.append(s[pos:])
        return "".join(out)
    return walk(s, code_view(s))


_ESCAPES = {"0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t",
            "Z": "\x1a", "%": "\\%", "_": "\\_"}
_UNESCAPE_RE = re.compile(r"\\(u[0-9a-fA-F]{4}|[\s\S])|''")


def word(t: str) -> str:
    """The value of one key, value or path: a lone literal read the way
    Spark reads it (a raw literal verbatim; otherwise ``''`` in ``'...'``
    is a quote, ``\\uXXXX`` a code point, ``\\n`` and the other escapes of
    Spark's ``unescapeSQLString`` their character, and ``\\`` before any
    other character that character), any other text stripped."""
    t = t.strip()
    if scan(t)[:1] != [("literal", t)]:
        return t
    if t[0] in "rR":
        return t[2:-1]
    return _UNESCAPE_RE.sub(
        lambda m: (("'" if t[0] == "'" else "''") if m.group(1) is None
                   else chr(int(m.group(1)[1:], 16)) if len(m.group(1)) == 5
                   else _ESCAPES.get(m.group(1), m.group(1))), t[1:-1])


def key_values(s: str) -> dict[str, str]:
    """The ``'key' = 'value', ...`` list inside a TBLPROPERTIES, OPTIONS
    or SET PROPERTIES clause (without its parentheses), each side read
    by :func:`word`."""
    out = {}
    for item in split_top_level(s):
        eq = code_view(item).find("=")
        if eq < 0:
            raise ValueError(f"expected 'key' = 'value', got {item!r}")
        out[word(item[:eq])] = word(item[eq + 1:])
    return out


def ident(name: str) -> str:
    """``name`` as a quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def type_text(dt) -> str:
    """A Spark ``DataType`` as SQL type text for ``CAST``: struct field
    names quoted, a non-nullable struct field ``NOT NULL`` (array
    elements and map values always read back nullable)."""
    kind = dt.typeName()
    if kind == "struct":
        return "STRUCT<" + ", ".join(
            f"{ident(f.name)}: {type_text(f.dataType)}"
            + ("" if f.nullable else " NOT NULL") for f in dt.fields) + ">"
    if kind == "array":
        return f"ARRAY<{type_text(dt.elementType)}>"
    if kind == "map":
        return f"MAP<{type_text(dt.keyType)}, {type_text(dt.valueType)}>"
    return dt.simpleString()

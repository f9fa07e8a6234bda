"""Property tests for the statement-text lexer (olympia_spark.sqltext):
strip_comments (one-pass, literal-preserving, nesting-aware), the
length-preserving code view, the depth-0 keyword find, the paren match
and the top-level comma split.

The generator builds text from typed segments and constructs the
EXPECTED comment-stripped text and code view alongside — an oracle by
construction, so the properties hold for every interleaving of
literals (with backslash escapes and '' doubling), quoted identifiers,
comments, raw r'...' literals (no escapes) and code (the
cross-pairing class of memory blind-spot #7).
The keyword, paren and split oracles are plain loops over the
constructed code view, which holds no quotes to skip."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from olympia_spark import sqltext
from olympia_spark.sqltext import normalize as _normalize
from olympia_spark.sqltext import strip_comments as _strip_comments

# code characters that can never open a literal or a comment
_CODE = st.text(
    alphabet="abcXYZ019 _,.()=<>+\n\t;", min_size=0, max_size=12)

# literal body pieces: plain chars (no quote/backslash), a '' doubling,
# backslash escapes, and comment-, keyword- and paren-LOOKING content
# that must stay inside the literal
_SQ_PIECE = st.one_of(
    st.text(alphabet="abc -*/(),", min_size=0, max_size=6),
    st.just("''"), st.just("\\'"), st.just("\\\\"), st.just("--x"),
    st.just("/*y*/"), st.just('"'), st.just("`"), st.just("SELECT"))
_DQ_PIECE = st.one_of(
    st.text(alphabet="abc -*/(),", min_size=0, max_size=6),
    st.just('\\"'), st.just("\\\\"), st.just("--x"), st.just("/*y*/"),
    st.just("'"), st.just("`"), st.just("SELECT"))
# raw literal bodies: no escapes, so a backslash may end the body
_RAW_BODY = st.text(alphabet="abc -*/(),\\`'\"", max_size=6)
_KW = "SELECT"


def _quoted(t):
    return t[0] + " " * (len(t) - 2) + t[-1]


@st.composite
def _segment(draw):
    """(kind, text, comment-stripped text, code view) of one segment."""
    kind = draw(st.sampled_from(
        ["code", "kw", "sq", "dq", "raw", "bt", "line", "block"]))
    if kind == "code":
        t = draw(_CODE)
        return kind, t, t, t
    if kind == "kw":
        t = draw(st.sampled_from([" SELECT ", " select(", ")Select ",
                                  " xselect ", " select_1 "]))
        return kind, t, t, t
    if kind == "sq":
        t = "'" + "".join(draw(st.lists(_SQ_PIECE, max_size=4))) + "'"
        return kind, t, t, _quoted(t)
    if kind == "dq":
        t = '"' + "".join(draw(st.lists(_DQ_PIECE, max_size=4))) + '"'
        return kind, t, t, _quoted(t)
    if kind == "raw":
        q = draw(st.sampled_from(["'", '"']))
        body = draw(_RAW_BODY).replace(q, "")
        t = draw(st.sampled_from("rR")) + q + body + q
        return kind, t, t, t[:2] + " " * (len(t) - 3) + q
    if kind == "bt":
        body = draw(st.text(alphabet="abc -*/(),'\"\\", max_size=6))
        t = f"`{body}`"
        return kind, t, t, _quoted(t)
    if kind == "line":
        # always newline-terminated here: an unterminated line comment
        # correctly swallows every LATER segment to EOF, which the
        # per-segment oracle cannot express (covered by the explicit
        # EOF example below)
        body = draw(st.text(alphabet="abc '\"`*/()\\", max_size=8))
        t = "--" + body + "\n"
        return kind, t, " \n", " " * (len(t) - 1) + "\n"
    # block comment, possibly nested, quotes allowed inside
    inner = "".join(draw(st.lists(st.sampled_from(
        ["a", " ", "'", '"', "`", "-", "(", ")", "\\", "SELECT"]),
        max_size=6)))
    depth = draw(st.integers(min_value=1, max_value=3))
    t = "/*" * depth + inner + "*/" * depth
    return kind, t, " ", " " * len(t)


def _compose(segs):
    """(text, comment-stripped text, code view). Two adjacent
    single-quoted literals would lex as ONE literal with a '' inside,
    and an r right after a letter, digit or _ is part of that word, not
    a raw literal's prefix, so a space separates them."""
    out, prev = [], None
    for kind, t, stripped, view in segs:
        if not t:
            continue
        if kind == prev == "sq" or (kind == "raw" and out and (
                out[-1][0][-1].isalnum() or out[-1][0][-1] == "_")):
            out.append((" ", " ", " "))
        out.append((t, stripped, view))
        prev = kind
    return tuple("".join(x[i] for x in out) for i in range(3))


def _ref_find_kw(view, kw, start=0):
    depth, k = 0, len(kw)
    for i in range(start, len(view)):
        if view[i] == "(":
            depth += 1
        elif view[i] == ")":
            depth -= 1
        elif (depth == 0 and view[i:i + k].upper() == kw
              and (i == 0 or not (view[i - 1].isalnum()
                                  or view[i - 1] == "_"))
              and (i + k >= len(view)
                   or not (view[i + k].isalnum() or view[i + k] == "_"))):
            return i
    return None


def _ref_match_paren(view, open_idx):
    depth = 0
    for i in range(open_idx, len(view)):
        depth += {"(": 1, ")": -1}.get(view[i], 0)
        if view[i] == ")" and depth == 0:
            return i + 1
    return None


def _ref_split(text, view):
    parts, depth, last = [], 0, 0
    for i, c in enumerate(view):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(text[last:i])
            last = i + 1
    if last < len(text):
        parts.append(text[last:])
    return parts


@given(st.lists(_segment(), max_size=10))
@settings(max_examples=300, deadline=None)
def test_strip_comments_matches_constructed_oracle(segs):
    text, expected, _view = _compose(segs)
    assert _strip_comments(text) == expected


@given(st.lists(_segment(), max_size=10))
@settings(max_examples=150, deadline=None)
def test_strip_comments_idempotent(segs):
    text, _e, _v = _compose(segs)
    once = _strip_comments(text)
    assert _strip_comments(once) == once


@given(st.lists(_segment(), max_size=8))
@settings(max_examples=300, deadline=None)
def test_code_view_is_length_preserving_and_blanks_literals(segs):
    text, _e, expected = _compose(segs)
    view = sqltext.code_view(text)
    assert view == expected
    assert len(view) == len(text)
    # every non-blanked position matches the original
    assert all(v == " " or v == c for v, c in zip(view, text))


@given(st.lists(_segment(), max_size=10), st.integers(0, 20))
@settings(max_examples=300, deadline=None)
def test_find_kw_matches_constructed_oracle(segs, start):
    text, _e, view = _compose(segs)
    start = min(start, len(text))
    code = sqltext.code_view(text)
    assert sqltext.find_kw(code, _KW, start) == \
        _ref_find_kw(view, _KW, start)
    assert sqltext.find_kw(code, _KW.lower(), start) == \
        _ref_find_kw(view, _KW, start)


@given(st.lists(_segment(), max_size=10))
@settings(max_examples=300, deadline=None)
def test_match_paren_matches_constructed_oracle(segs):
    text, _e, view = _compose(segs)
    code = sqltext.code_view(text)
    for i, c in enumerate(view):
        if c != "(":
            continue
        want = _ref_match_paren(view, i)
        if want is None:
            try:
                sqltext.match_paren(code, i)
            except ValueError:
                continue
            raise AssertionError(f"unbalanced group at {i} matched")
        assert sqltext.match_paren(code, i) == want


@given(st.lists(_segment(), max_size=10))
@settings(max_examples=300, deadline=None)
def test_split_top_level_matches_constructed_oracle(segs):
    text, _e, view = _compose(segs)
    assert sqltext.split_top_level(text) == _ref_split(text, view)


def test_line_comment_at_eof_swallows_to_end():
    assert _strip_comments("SELECT a -- b 'lit' /* c */") == "SELECT a  "


def test_normalize_examples():
    assert _normalize("SELECT a -- c\nFROM t") == "SELECT a FROM t"
    assert _normalize("SELECT k /* o /* i */ t */, v FROM t") \
        == "SELECT k , v FROM t"
    assert _normalize("SELECT '--lit' FROM t -- real") \
        == "SELECT '--lit' FROM t"
    assert _normalize("SELECT 'don''t -- keep' FROM t") \
        == "SELECT 'don''t -- keep' FROM t"
    assert _normalize("SELECT /*+ BROADCAST(t) */ a FROM t") \
        == "SELECT a FROM t"


def test_whitespace_inside_escaped_literals_survives_normalize():
    """r13 review pass 4 (reproduced): the old collapse pass used its
    own (escape-blind) literal grammar — a backslash-escaped quote
    closed the literal early and runs of spaces INSIDE the real
    literal collapsed in executed statement text. The scanner now owns
    both comment removal and the collapse under one grammar."""
    assert _normalize(r"SELECT 'a\' -- b   c' AS x") \
        == r"SELECT 'a\' -- b   c' AS x"
    assert _normalize("SELECT `an   ident` ,   b FROM t") \
        == "SELECT `an   ident` , b FROM t"
    assert _normalize('INSERT INTO t VALUES (\'C:\\dir\\\', "x   y")') \
        == 'INSERT INTO t VALUES (\'C:\\dir\\\', "x   y")'

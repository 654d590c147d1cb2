"""Grammar primitives shared by every statement family: the error
type, reserved-word sets, the tokenizer/cursor, OPTIONS parsing, the
length-preserving literal/comment mask, and the top-level-aware text
splitters. No Spark imports — pure driver-side text machinery."""

from __future__ import annotations

import re

class SqlError(ValueError):
    """Statement rejected: syntax, unknown name, or unsupported shape.
    The message always names the supported alternative."""


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_RESERVED = {
    "select", "from", "where", "group", "by", "join", "left", "inner",
    "using", "qualify", "create", "table", "materialized", "view",
    "refresh", "cascade", "describe", "insert", "into", "delete",
    "drop", "vacuum", "keep", "options", "as", "history", "show",
    "tables", "version", "of", "values", "and", "or", "not",
}

# NEW names may not shadow any statement's grammar words, but these
# stay OUT of the parser's reserved set (_RESERVED): SQL text stored
# in existing catalogs may legally use them as identifiers/aliases,
# and _mv_transforms re-parses that text on every REFRESH — widening
# the parser set would brick whole legacy catalogs.
_UNREGISTERABLE = _RESERVED | {
    "update", "merge", "set", "when", "matched", "then", "on",
    "restore", "optimize", "explain", "distinct", "to",
    "alter", "add", "column", "start", "stop", "stream",
    "changes", "bucket",
    # r14: DESCRIBE INDEX / RETRAIN INDEX made "index" a grammar word
    "index",
}



# ---------------------------------------------------------------------------
# tokenizer — identifiers / strings / numbers / operators, with source
# offsets so raw expression spans can be recovered verbatim
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<str>'(?:[^']|'')*')
    | (?P<num>\d+(?:\.\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op><=|>=|<>|!=|\|\||[*=<>(),.+\-/%])
    )""",
    re.X,
)


class _Tok:
    __slots__ = ("kind", "text", "start", "end")

    def __init__(self, kind, text, start, end):
        self.kind, self.text, self.start, self.end = kind, text, start, end

    @property
    def lower(self):
        return self.text.lower()


class _Cursor:
    """The tokens of ``text``, lexed on demand: only what a statement
    peeks at or takes is tokenized, so a Spark SQL body handed on with
    ``rest()`` or ``paren()`` is never tokenized."""

    def __init__(self, text: str):
        self.text, self.pos, self.ahead = text, 0, []

    def peek(self, ahead: int = 0) -> _Tok | None:
        while len(self.ahead) <= ahead:
            at = self.pos
            while at < len(self.text) and self.text[at].isspace():
                at += 1
            if at == len(self.text):
                return None
            m = _TOKEN_RE.match(self.text, at)
            if not m:
                raise SqlError(f"cannot tokenize at offset {at}: "
                               f"{self.text[at:at + 20]!r}")
            kind = m.lastgroup
            self.ahead.append(_Tok(kind, m.group(kind), m.start(kind),
                                   m.end(kind)))
            self.pos = m.end()
        return self.ahead[ahead]

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "ident" and t.lower in kws

    def take(self) -> _Tok:
        if self.peek() is None:
            raise SqlError("unexpected end of statement")
        return self.ahead.pop(0)

    def take_kw(self, kw: str) -> bool:
        """Take the keyword ``kw`` if it is next."""
        if not self.at_kw(kw):
            return False
        self.take()
        return True

    def expect_kw(self, *kws: str) -> None:
        for kw in kws:
            t = self.take()
            if t.kind != "ident" or t.lower != kw:
                raise SqlError(f"expected {kw.upper()}, got {t.text!r}")

    def expect_op(self, op: str) -> _Tok:
        t = self.take()
        if t.text != op:
            raise SqlError(f"expected {op!r}, got {t.text!r}")
        return t

    def expect_ident(self) -> str:
        t = self.take()
        if t.kind != "ident" or t.lower in _RESERVED:
            raise SqlError(f"expected identifier, got {t.text!r}")
        return t.text

    def expect_word(self) -> str:
        """Any identifier, reserved words included: a column or
        constraint name no grammar word can follow ambiguously."""
        t = self.take()
        if t.kind != "ident":
            raise SqlError(f"expected identifier, got {t.text!r}")
        return t.text

    def expect_int(self) -> int:
        t = self.take()
        if t.kind != "num" or "." in t.text:
            raise SqlError(f"expected an integer, got {t.text!r}")
        return int(t.text)

    def expect_str(self) -> str:
        """The value of a quoted string literal."""
        t = self.take()
        if t.kind != "str":
            raise SqlError(f"expected a quoted string, got {t.text!r}")
        return t.text[1:-1].replace("''", "'")

    def done(self) -> bool:
        return self.peek() is None

    def rest(self) -> str:
        """The raw text from the next token to the end, consumed
        untokenized."""
        start = self.ahead[0].start if self.ahead else self.pos
        out = self.text[start:].strip()
        if not out:
            raise SqlError("unexpected end of statement")
        self.ahead, self.pos = [], len(self.text)
        return out

    def paren(self) -> str:
        """The raw text inside the parenthesized group at the cursor,
        consumed untokenized (parens inside literals do not count)."""
        start = self.expect_op("(").start
        close = _matching_paren(_mask(self.text), start)
        self.ahead, self.pos = [], close + 1
        return self.text[start + 1:close].strip()


def _ident_list(cur: _Cursor) -> list[str]:
    out = [cur.expect_ident()]
    while cur.peek() is not None and cur.peek().text == ",":
        cur.take()
        out.append(cur.expect_ident())
    return out


def _parse_options(cur: _Cursor) -> dict:
    """``OPTIONS (k = 'v' | num, ...)`` — declared table/view knobs."""
    opts: dict = {}
    if not cur.at_kw("options"):
        return opts
    cur.take()
    cur.expect_op("(")
    while True:
        k = cur.expect_ident().lower()
        cur.expect_op("=")
        t = cur.take()
        if t.kind == "str":
            opts[k] = t.text[1:-1].replace("''", "'")
        elif t.kind == "num":
            opts[k] = float(t.text) if "." in t.text else int(t.text)
        elif t.kind == "ident" and t.lower in ("true", "false"):
            opts[k] = t.lower == "true"
        else:
            raise SqlError(f"OPTIONS value must be a string, number, "
                           f"or true/false, got {t.text!r}")
        nxt = cur.take()
        if nxt.text == ")":
            return opts
        if nxt.text != ",":
            raise SqlError(f"expected , or ) in OPTIONS, got {nxt.text!r}")



_MASK_RE = re.compile(
    r"'(?:[^'\\]|\\.|'')*'"
    r'|"(?:[^"\\]|\\.)*"'
    r"|`[^`]*`|--[^\n]*|/\*.*?\*/",
    re.DOTALL)


def _mask(text: str) -> str:
    return _MASK_RE.sub(lambda m: " " * len(m.group(0)), text)


def _split_top_level(text: str, fm: str, sep: str) -> list[str]:
    """Split ``text`` on ``sep`` occurrences that are OUTSIDE parens,
    string literals, and comments — positions judged against the
    length-preserving full mask ``fm``."""
    parts, depth, last = [], 0, 0
    for i, ch in enumerate(fm):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(text[last:i])
            last = i + 1
    parts.append(text[last:])
    return parts



def _find_top_level_kw(fm: str, kw: str, start: int) -> re.Match | None:
    """First occurrence of keyword ``kw`` at paren depth 0, judged
    against the length-preserving full mask ``fm`` (literals/comments
    blanked, so counting parens on the mask is sound) — a USING
    subquery's inner ``ON``/``WHEN`` (JOIN ... ON, CASE WHEN) must
    not split the MERGE statement. NOT CASE-aware: an unparenthesized
    top-level ``CASE WHEN``'s keywords count — use
    ``_find_clause_kw`` where conditions may legally contain CASE
    expressions."""
    for m in re.finditer(rf"\b{kw}\b", fm[start:], re.IGNORECASE):
        upto = fm[start:start + m.start()]
        if upto.count("(") == upto.count(")"):
            return m
    return None


def _find_clause_kw(fm: str, kw: str, start: int = 0) -> int | None:
    """ABSOLUTE offset of the first ``kw`` that sits at paren depth 0
    AND outside any ``CASE ... END`` expression — the clause-boundary
    scanner for statements whose conditions may legally contain
    unparenthesized CASE expressions (a MERGE clause's ``WHEN``/
    ``THEN`` must not be split by the CASE's own WHEN/THEN). Judged
    on the length-preserving mask."""
    depth = case_depth = 0
    for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*|[()]", fm[start:]):
        t = m.group(0)
        if t == "(":
            depth += 1
            continue
        if t == ")":
            depth -= 1
            continue
        if depth:
            continue
        low = t.lower()
        if low == "case":
            case_depth += 1
        elif low == "end" and case_depth:
            case_depth -= 1
        elif low == kw and not case_depth:
            return start + m.start()
    return None



def _matching_paren(fm: str, open_idx: int) -> int:
    """Index of the close paren matching ``fm[open_idx] == '('`` —
    judged on the length-preserving mask, so parens in literals don't
    count."""
    depth = 0
    for i in range(open_idx, len(fm)):
        if fm[i] == "(":
            depth += 1
        elif fm[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise SqlError("unbalanced parentheses")



def _strip_statement(statement: str) -> str:
    """Strip surrounding whitespace, leading/trailing comment
    annotations, and trailing top-level semicolons — iterated so
    ``stmt; -- note`` reduces to ``stmt``. Bounds come from a
    COMMENT-only mask (string literals must survive the strip — the
    full mask would chop a statement ending in a literal); whether a
    trailing ``;`` is top-level comes from the full mask (a ``;``
    inside a literal is never stripped)."""
    cm = _MASK_RE.sub(
        lambda m: (" " * len(m.group(0))
                   if m.group(0).startswith(("--", "/*"))
                   else m.group(0)),
        statement)
    fm = _mask(statement)
    start = len(cm) - len(cm.lstrip())
    end = len(cm.rstrip())
    while end > start and fm[end - 1] == ";":
        end -= 1
        end = len(cm[:end].rstrip())
    return statement[start:end]


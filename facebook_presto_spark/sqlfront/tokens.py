"""Minimal SQL tokenizer for the dialect translator.

Token stream preserves everything except whitespace and comments; the
translator's passes are token-list → token-list, and ``render`` re-joins
with single spaces (readability of the emitted SQL doesn't matter — only
that Spark parses it).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# longest-first so '<=' wins over '<'
_OPERATORS = [
    "||", "->", "<=>", "<=", ">=", "<>", "!=", "=", "<", ">", "+", "-", "*", "/",
    "%", ",", "(", ")", "[", "]", ".", ";", "?", ":",
]
_OP_RE = "|".join(re.escape(o) for o in _OPERATORS)

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<line_comment>--[^\n]*)
  | (?P<block_comment>/\*.*?\*/)
  | (?P<string>'(?:[^']|'')*')
  | (?P<qident>"(?:[^"]|"")*")
  | (?P<number>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_$@]*)
  | (?P<op>""" + _OP_RE + r""")
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Tok:
    kind: str  # 'string' | 'qident' | 'number' | 'ident' | 'op'
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper() if self.kind == "ident" else self.text

    def is_kw(self, *words: str) -> bool:
        return self.kind == "ident" and self.text.upper() in words

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"{self.kind}:{self.text}"


class TokenizeError(ValueError):
    """Text the tokenizer cannot read; ``offset`` is where it stops."""

    def __init__(self, sql: str, offset: int):
        super().__init__(
            f"cannot tokenize SQL at offset {offset}: {sql[offset:offset+30]!r}")
        self.offset = offset


def scan(sql: str):
    """Lazily yield ``(token, start offset)`` pairs, skipping whitespace
    and comments — a reader that needs only the head of a statement
    stops early and never tokenizes the rest."""
    pos = 0
    n = len(sql)
    while pos < n:
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise TokenizeError(sql, pos)
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "line_comment", "block_comment"):
            continue
        yield Tok(kind, m.group()), m.start()


def tokenize(sql: str) -> list[Tok]:
    return [t for t, _start in scan(sql)]


_NO_SPACE_BEFORE = {",", ")", "]", ".", ";"}
_NO_SPACE_AFTER = {"(", "[", "."}


def render(tokens: list[Tok]) -> str:
    parts: list[str] = []
    prev: Tok | None = None
    for t in tokens:
        if parts and not (
            t.text in _NO_SPACE_BEFORE
            or (prev is not None and prev.text in _NO_SPACE_AFTER)
            # keep function-name '(' tight: ident/qident directly before '('
            or (t.text == "(" and prev is not None and prev.kind in ("ident", "qident"))
        ):
            parts.append(" ")
        if t.kind == "qident":
            # ANSI/Presto "quoted identifier" → Spark backtick identifier
            name = t.text[1:-1].replace('""', '"')
            parts.append("`" + name.replace("`", "``") + "`")
        elif t.kind == "string":
            # Presto string literals are raw (no backslash escapes); Spark's
            # parser treats backslash as an escape, so double them
            parts.append(t.text.replace("\\", "\\\\"))
        else:
            parts.append(t.text)
        prev = t
    return "".join(parts)


def string_value(tok: Tok) -> str:
    """Unquote a SQL string literal token."""
    assert tok.kind == "string"
    return tok.text[1:-1].replace("''", "'")


def string_literal(value: str) -> Tok:
    return Tok("string", "'" + value.replace("'", "''") + "'")


def ident(name: str) -> Tok:
    return Tok("ident", name)


def op(text: str) -> Tok:
    return Tok("op", text)


def find_matching_paren(tokens: list[Tok], open_idx: int) -> int:
    """Index of the ')' matching tokens[open_idx] == '('."""
    depth = 0
    for i in range(open_idx, len(tokens)):
        t = tokens[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses")


def split_top_level(tokens: list[Tok], sep: str = ",") -> list[list[Tok]]:
    """Split a token slice on top-level separators."""
    parts: list[list[Tok]] = [[]]
    depth = 0
    for t in tokens:
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        if depth == 0 and t.text == sep:
            parts.append([])
        else:
            parts[-1].append(t)
    return parts


def split_text(text: str, sep: str = ",") -> list[str]:
    """Split SQL text on ``sep`` outside parentheses, brackets and
    literals: the non-empty pieces, stripped, in their original spelling."""
    parts, depth, start = [], 0, 0
    for tok, at in scan(text):
        if tok.kind != "op":
            continue
        if tok.text in ("(", "["):
            depth += 1
        elif tok.text in (")", "]"):
            depth -= 1
        elif tok.text == sep and depth == 0:
            parts.append(text[start:at])
            start = at + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]

"""Statement classification: the kind of a Presto statement, read from its head.

The reference parses a statement once (``SqlParser``) and routes DDL and
session statements to their ``*Task`` by statement class
(``DataDefinitionExecution``); queries go to the planner.  ``classify``
does the routing half of that: it reads the leading tokens of the
statement with ``sqlfront.tokens.scan`` — enough to name the kind, the
target ``catalog.schema.table`` and the spans of the statement's parts
(query body, column list, ``WITH (…)`` properties) — and stops.  The
body is never tokenized here, so classifying costs the same for a
2,500-row VALUES list as for ``SELECT 1``.  Comments and keyword case
do not change the result.

The engine looks the kind up in its handler table (``engine._HANDLERS``);
queries and every kind the table does not claim go to the SQL translator
whole.  Before translating, ``references`` scans the whole statement
once for the names the translator cannot resolve itself — connector,
hive, ``system``, ``information_schema`` tables and ``current_path`` —
and the engine hands each to its catalog's resolver
(``engine._RESOLVERS``), the way the reference's analyzer resolves a
qualified name through the catalog's ``ConnectorMetadata``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from facebook_presto_spark.sqlfront.tokens import scan

_QUERY_VERBS = frozenset({"SELECT", "WITH", "VALUES", "TABLE", "("})

# kinds whose target is a schema (``catalog.schema``) or, for the SHOW
# listings, a catalog with an optional schema; every other target is a
# ``catalog.schema.table``
_SCHEMA_KINDS = frozenset({"use", "create_schema", "drop_schema", "rename_schema"})
_LISTING_KINDS = frozenset({"show_tables", "show_schemas"})


@dataclass(frozen=True)
class Statement:
    """One classified statement.

    ``name`` holds the unquoted parts of the target name; ``args`` the
    further identifiers the head names (a new table name, a column);
    the ``*_span`` fields are ``(start, end)`` offsets into ``sql``.
    """

    kind: str
    sql: str
    verb: str = ""
    name: tuple[str, ...] = ()
    args: tuple[str, ...] = ()
    flags: frozenset[str] = frozenset()
    body_span: tuple[int, int] | None = None
    columns_span: tuple[int, int] | None = None
    props_span: tuple[int, int] | None = None

    def _text(self, span) -> str | None:
        return None if span is None else self.sql[span[0]:span[1]]

    @property
    def body(self) -> str | None:
        """The query, argument list or value the statement carries."""
        return self._text(self.body_span)

    @property
    def columns(self) -> str | None:
        """The contents of a ``CREATE TABLE (…)`` / ``INSERT INTO t (…)``
        column list."""
        return self._text(self.columns_span)

    @property
    def props(self) -> str | None:
        """The contents of ``WITH (…)`` (or ``EXPLAIN (…)``)."""
        return self._text(self.props_span)

    @property
    def catalog(self) -> str | None:
        if self.kind in _LISTING_KINDS:
            return self.name[0].lower() if self.name else None
        width = 2 if self.kind in _SCHEMA_KINDS else 3
        return self.name[0].lower() if len(self.name) == width else None

    @property
    def schema(self) -> str | None:
        if self.kind in _LISTING_KINDS:
            return self.name[1].lower() if len(self.name) > 1 else None
        if self.kind in _SCHEMA_KINDS:
            return self.name[-1].lower() if self.name else None
        return self.name[-2].lower() if len(self.name) > 1 else None

    @property
    def table(self) -> str | None:
        if self.kind in _SCHEMA_KINDS or self.kind in _LISTING_KINDS:
            return None
        return self.name[-1].lower() if self.name else None

    @property
    def new_table(self) -> tuple[str | None, str]:
        """A rename's new (schema, table); the schema defaults to the old."""
        schema = self.args[-2].lower() if len(self.args) > 1 else self.schema
        return schema, self.args[-1].lower()


def _unquote(tok) -> str:
    return tok.text[1:-1].replace('""', '"') if tok.kind == "qident" else tok.text


class _Head:
    """A cursor over the statement's tokens, read on demand."""

    def __init__(self, sql: str):
        self.sql = sql
        self._scan = scan(sql)
        self._toks: list = []
        self.i = 0

    def peek(self, k: int = 0):
        while len(self._toks) <= self.i + k:
            nxt = next(self._scan, None)
            if nxt is None:
                return None
            self._toks.append(nxt)
        return self._toks[self.i + k][0]

    def pos(self) -> int:
        """Start offset of the current token (end of text when none)."""
        return self._toks[self.i][1] if self.peek() is not None else len(self.sql)

    def take(self):
        tok = self.peek()
        self.i += 1
        return tok

    def kw(self, *words: str) -> bool:
        """Consume the keyword sequence ``words`` if it comes next."""
        for k, word in enumerate(words):
            tok = self.peek(k)
            if tok is None or not tok.is_kw(word):
                return False
        self.i += len(words)
        return True

    def op(self, text: str) -> bool:
        tok = self.peek()
        if tok is not None and tok.kind == "op" and tok.text == text:
            self.i += 1
            return True
        return False

    def ident(self) -> str | None:
        tok = self.peek()
        if tok is None or tok.kind not in ("ident", "qident"):
            return None
        self.i += 1
        return _unquote(tok)

    def name(self) -> tuple[str, ...]:
        """The parts of a dotted name (empty when none comes next)."""
        parts = []
        part = self.ident()
        while part is not None:
            parts.append(part)
            nxt = self.peek(1)
            if not (nxt is not None and nxt.kind in ("ident", "qident") and self.op(".")):
                break
            part = self.ident()
        return tuple(parts)

    def parens(self) -> tuple[int, int] | None:
        """Consume ``( … )``; the span of what is inside."""
        if not self.op("("):
            return None
        start, depth = self.pos(), 1
        while True:
            tok = self.peek()
            if tok is None:
                return None
            if tok.kind == "op" and tok.text == "(":
                depth += 1
            elif tok.kind == "op" and tok.text == ")":
                depth -= 1
                if depth == 0:
                    end = self.pos()
                    self.i += 1
                    return start, end
            self.i += 1

    def rest(self) -> tuple[int, int]:
        """Span from the current token to the end, less a trailing ``;``."""
        end = len(self.sql.rstrip())
        if end and self.sql[end - 1] == ";":
            end = len(self.sql[:end - 1].rstrip())
        return min(self.pos(), end), end

    def end(self) -> bool:
        """True when only an optional ``;`` is left."""
        self.op(";")
        return self.peek() is None


def classify(sql: str) -> Statement:
    """The kind of ``sql`` and where its parts are, from its head only."""
    head = _Head(sql)
    try:
        first = head.peek()
    except ValueError:
        first = None
    verb = "" if first is None else first.upper
    try:
        stmt = _classify(head, verb)
    except ValueError:  # the head does not tokenize; the translator reports it
        stmt = None
    if stmt is None:
        kind = "query" if verb in _QUERY_VERBS else "other"
        return Statement(kind, sql, verb)
    return stmt


def _classify(h: _Head, verb: str) -> Statement | None:  # noqa: C901 — one arm per statement
    def stmt(kind, name=(), **kw) -> Statement:
        return Statement(kind, h.sql, verb, name=name, **kw)

    def named(kind, width=(1, 2, 3), **kw) -> Statement | None:
        """A statement that ends with its target name."""
        name = h.name()
        return stmt(kind, name, **kw) if len(name) in width and h.end() else None

    def flag(name: str, *words: str) -> frozenset[str]:
        return frozenset({name}) if h.kw(*words) else frozenset()

    h.take()
    if verb == "SET":
        if h.kw("SESSION"):
            name = h.name()
            if name and h.op("="):
                return stmt("set_session", name, body_span=h.rest())
        elif h.kw("PATH"):
            return stmt("set_path", body_span=h.rest())
    elif verb == "RESET" and h.kw("SESSION"):
        return named("reset_session")
    elif verb == "USE":
        return named("use", width=(1, 2))
    elif verb == "START" and h.kw("TRANSACTION"):
        return stmt("start_transaction", body_span=h.rest())
    elif verb in ("COMMIT", "ROLLBACK"):
        h.kw("WORK")
        return stmt(verb.lower()) if h.end() else None
    elif verb == "CREATE":
        flags = flag("or_replace", "OR", "REPLACE")
        if h.kw("SCHEMA"):
            return named("create_schema", flags=flag("if_not_exists", "IF", "NOT", "EXISTS"))
        if h.kw("TABLE"):
            flags = flag("if_not_exists", "IF", "NOT", "EXISTS")
            name = h.name()
            columns = h.parens()
            props = h.parens() if h.kw("WITH") else None
            if name and columns is not None and h.end():
                return stmt("create_table", name, flags=flags,
                            columns_span=columns, props_span=props)
            if name and columns is None and h.kw("AS"):
                return stmt("create_table_as", name, flags=flags,
                            body_span=h.rest(), props_span=props)
        elif h.kw("VIEW"):
            name = h.name()
            if name and h.kw("AS"):
                return stmt("create_view", name, flags=flags, body_span=h.rest())
    elif verb == "DROP":
        for word in ("SCHEMA", "TABLE", "VIEW"):
            if h.kw(word):
                return named(f"drop_{word.lower()}", flags=flag("if_exists", "IF", "EXISTS"))
    elif verb == "ALTER":
        target = "SCHEMA" if h.kw("SCHEMA") else "TABLE" if h.kw("TABLE") else None
        name = h.name() if target else ()
        if not name:
            return None
        if h.kw("RENAME", "TO"):
            new = h.name()
            if new and h.end():
                return stmt(f"rename_{target.lower()}", name, args=new)
        elif target == "SCHEMA":
            return None
        elif h.kw("RENAME", "COLUMN"):
            old = h.ident()
            new = h.ident() if old and h.kw("TO") else None
            if new and h.end():
                return stmt("rename_column", name, args=(old, new))
        elif h.kw("DROP", "COLUMN"):
            col = h.ident()
            if col and h.end():
                return stmt("drop_column", name, args=(col,))
        elif h.kw("ADD", "COLUMN"):
            col = h.ident()
            if col and h.peek() is not None:
                return stmt("add_column", name, args=(col,), body_span=h.rest())
    elif verb == "INSERT" and h.kw("INTO"):
        name = h.name()
        columns = None
        nxt = h.peek(1)
        if h.peek() is not None and h.peek().text == "(" and not (
            nxt is not None and nxt.upper in _QUERY_VERBS
        ):
            columns = h.parens()
        first = h.peek()
        if name and first is not None and first.upper in _QUERY_VERBS:
            return stmt("insert", name, columns_span=columns, body_span=h.rest())
    elif verb == "DELETE" and h.kw("FROM"):
        name = h.name()
        if name and h.end():
            return stmt("delete", name)
        if name and h.kw("WHERE"):
            return stmt("delete", name, body_span=h.rest())
    elif verb == "SHOW":
        for word in ("TABLES", "SCHEMAS"):
            if h.kw(word):
                name = h.name() if (h.kw("FROM") or h.kw("IN")) else ()
                return stmt(f"show_{word.lower()}", name) if h.end() else None
        for word in ("SESSION", "FUNCTIONS"):
            if h.kw(word):
                return stmt(f"show_{word.lower()}") if h.end() else None
        if h.kw("CATALOGS"):
            return stmt("show_catalogs", body_span=h.rest())
        if h.kw("STATS", "FOR"):
            if h.peek() is None or h.peek().text != "(":
                return named("show_stats")
            start, end = h.rest()
            if h.sql[end - 1] == ")":
                return stmt("show_stats", body_span=(start + 1, end - 1))
        elif h.kw("CREATE"):
            for word in ("TABLE", "VIEW"):
                if h.kw(word):
                    return named(f"show_create_{word.lower()}")
        elif h.kw("GRANTS"):
            if not h.kw("ON"):
                return stmt("show_grants") if h.end() else None
            h.kw("TABLE")
            return named("show_grants")
    elif verb == "EXPLAIN":
        if h.kw("ANALYZE"):
            return stmt("explain_analyze", body_span=h.rest())
        options = h.parens()
        if options is not None and h.peek() is not None:
            return stmt("explain_options", props_span=options, body_span=h.rest())
    elif verb == "DESCRIBE":
        for word in ("INPUT", "OUTPUT"):
            if h.kw(word):
                return named(f"describe_{word.lower()}", width=(1,))
    elif verb == "PREPARE":
        name = h.name()
        if len(name) == 1 and h.kw("FROM") and h.peek() is not None:
            return stmt("prepare", name, body_span=h.rest())
    elif verb == "EXECUTE":
        name = h.name()
        if len(name) == 1 and h.end():
            return stmt("execute", name)
        if len(name) == 1 and h.kw("USING") and h.peek() is not None:
            return stmt("execute", name, body_span=h.rest())
    elif verb == "DEALLOCATE" and h.kw("PREPARE"):
        return named("deallocate", width=(1,))
    elif verb in ("GRANT", "REVOKE"):
        return stmt(verb.lower(), body_span=h.rest())
    elif verb == "CALL":
        # a malformed CALL is still a CALL: its handler raises the
        # reference's error instead of a translation error
        return stmt("call", h.name(), body_span=h.rest())
    return None


@dataclass(frozen=True)
class Reference:
    """One catalog reference in a statement's text: the resolver-table
    catalog that serves it, its unquoted lower-cased name parts and the
    ``(start, end)`` span of those parts in the text."""

    catalog: str
    parts: tuple[str, ...]
    span: tuple[int, int]


# catalogs whose references are ``catalog.schema.table``; ``system`` and
# ``jmx`` name only the listed schemas.  Every key of engine._RESOLVERS
# is one of these or ``information_schema`` / ``current_path``.
_TABLE_CATALOGS = frozenset({"hive", "memory", "blackhole", "localfile",
                             "example", "tpch", "system", "jmx"})
_CATALOG_SCHEMAS = {"system": frozenset({"runtime", "jdbc", "metadata"}),
                    "jmx": frozenset({"current", "history"})}
REFERENCE_CATALOGS = _TABLE_CATALOGS | {"information_schema", "current_path"}


def _reference(chain: list) -> tuple[str, tuple[str, ...]] | None:
    """The catalog and the leading name parts a dotted name chain
    ``[(token, start)]`` references; None when it is no reference."""
    names = tuple(_unquote(tok).lower() for tok, _at in chain)
    if names[0] == "information_schema" and len(names) > 1:
        return "information_schema", names[:2]
    if len(names) > 2 and names[1] == "information_schema":
        return "information_schema", names[:3]  # catalog-qualified
    if names[0] in _TABLE_CATALOGS and len(names) > 2:
        schemas = _CATALOG_SCHEMAS.get(names[0])
        if schemas is not None and names[1] not in schemas:
            return None
        if names[0] == "jmx" and chain[2][0].kind == "ident":
            return "jmx", names  # an unquoted MBean name runs to the end
        return names[0], names[:3]
    if names == ("current_path",) and chain[0][0].kind == "ident":
        return "current_path", names
    return None


def references(sql: str) -> list[Reference]:
    """Every catalog reference in ``sql``, in text order, from one token
    scan: each dotted name whose first part is a catalog of the resolver
    table (an ``information_schema`` member may carry a catalog prefix),
    and each bare ``current_path`` with its optional ``()``.  Literals,
    comments and quoted names are tokens of their own, so a catalog
    name inside a literal or comment is never a reference; whitespace
    around the dots is allowed.  Parts past the reference (a column
    qualified by its table) stay outside its span.  Raises the
    tokenizer's ``ValueError`` on text it cannot read."""
    toks = list(scan(sql))
    out, i = [], 0
    while i < len(toks):
        tok, start = toks[i]
        if tok.kind not in ("ident", "qident") or (
                i and toks[i - 1][0].kind == "op" and toks[i - 1][0].text == "."):
            i += 1
            continue
        chain = [toks[i]]
        while (i + 2 < len(toks) and toks[i + 1][0].kind == "op"
               and toks[i + 1][0].text == "."
               and toks[i + 2][0].kind in ("ident", "qident")):
            i += 2
            chain.append(toks[i])
        i += 1
        found = _reference(chain)
        if found is None:
            continue
        catalog, parts = found
        last, at = chain[len(parts) - 1]
        end = at + len(last.text)
        if catalog == "current_path" and [t.text for t, _at in toks[i:i + 2]] == ["(", ")"]:
            end = toks[i + 1][1] + 1
            i += 2
        out.append(Reference(catalog, parts, (start, end)))
    return out


_WITH_DATA_RE = re.compile(r"\s+WITH\s+(NO\s+)?DATA$", re.I)


def split_with_data(query: str) -> tuple[str, bool]:
    """CTAS body → (query, no_data): strips ``WITH [NO] DATA``."""
    m = _WITH_DATA_RE.search(query)
    if m is None:
        return query, False
    return query[:m.start()], bool(m.group(1))


def column_names(text: str) -> list[str]:
    """``a, "B"`` (an INSERT column list) → ``['a', 'b']``."""
    return [c.strip().strip('"').lower() for c in text.split(",")]

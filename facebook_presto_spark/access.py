"""GRANT / REVOKE / SHOW GRANTS — the reference's table-privilege surface.

Reference: execution/GrantTask.java:39 / RevokeTask.java (privilege
parsing + validation), spi/security/Privilege.java (SELECT / INSERT /
DELETE / UPDATE), ShowQueriesRewrite.visitShowGrants:211 (SHOW GRANTS
rewrites to a select over information_schema.table_privileges, whose
shape InformationSchemaMetadata.java:107-116 declares).

The engine keeps grants in a session-scoped registry (the reference
delegates storage to the connector's metadata — a session catalog here),
feeds them into the ``information_schema.table_privileges`` view, and
answers SHOW GRANTS from the same rows.  Enforcement is NOT wired into
query execution (the reference enforces through AccessControl plugins;
this engine is single-user) — the surface is metadata bookkeeping with
the reference's validation errors, and that limit is documented in
COVERAGE.md.
"""

from __future__ import annotations

import re

from facebook_presto_spark.session import local_dataframe
from facebook_presto_spark.statements import classify

# spi/security/Privilege.java
PRIVILEGES = ("SELECT", "INSERT", "DELETE", "UPDATE")

# arguments after the GRANT / REVOKE keyword (SqlBase.g4 grant / revoke)
_GRANT_ARGS_RE = re.compile(
    r"(.+?)\s+ON\s+(?:TABLE\s+)?([\w.\"]+)\s+TO\s+"
    r"(?:USER\s+|ROLE\s+)?([\w\"]+)(\s+WITH\s+GRANT\s+OPTION)?",
    re.IGNORECASE | re.DOTALL,
)
_REVOKE_ARGS_RE = re.compile(
    r"(GRANT\s+OPTION\s+FOR\s+)?(.+?)\s+ON\s+(?:TABLE\s+)?"
    r"([\w.\"]+)\s+FROM\s+(?:USER\s+|ROLE\s+)?([\w\"]+)",
    re.IGNORECASE | re.DOTALL,
)


def parse_privileges(text: str) -> list[str]:
    """Privilege list with GrantTask.java's validation: ALL PRIVILEGES
    expands; unknown names raise, matching 'Unknown privilege: %s'."""
    if re.fullmatch(r"ALL\s+PRIVILEGES", text.strip(), re.IGNORECASE):
        return list(PRIVILEGES)
    out = []
    for p in text.split(","):
        name = p.strip().upper()
        if name not in PRIVILEGES:
            raise ValueError(f"Unknown privilege: {p.strip()}")
        out.append(name)
    return out


class GrantRegistry:
    """(grantee, table) → privilege → is_grantable."""

    def __init__(self, catalog: str = "spark", schema: str = "default",
                 grantor: str = "admin"):
        self.catalog = catalog
        self.schema = schema
        self.grantor = grantor
        self._grants: dict[tuple[str, str], dict[str, bool]] = {}

    def grant(self, grantee: str, table: str, privs: list[str],
              grantable: bool) -> None:
        slot = self._grants.setdefault((grantee, table), {})
        for p in privs:
            slot[p] = grantable or slot.get(p, False)

    def revoke(self, grantee: str, table: str, privs: list[str],
               grant_option_only: bool) -> None:
        slot = self._grants.get((grantee, table))
        if not slot:
            return
        for p in privs:
            if p not in slot:
                continue
            if grant_option_only:
                slot[p] = False  # RevokeTask: keep privilege, drop option
            else:
                del slot[p]
        if not slot:
            del self._grants[(grantee, table)]

    def has(self, grantee: str, table: str, privilege: str) -> bool:
        return privilege in self._grants.get((grantee, table), {})

    def rows(self, table: str | None = None) -> list[tuple]:
        """information_schema.table_privileges rows
        (InformationSchemaMetadata.java:107-116 column order)."""
        out = []
        for (grantee, tbl), privs in sorted(self._grants.items()):
            if table is not None and tbl != table:
                continue
            for p in sorted(privs):
                out.append((
                    self.grantor, grantee, self.catalog, self.schema,
                    tbl, p, privs[p], False,
                ))
        return out


# -- enforcement (round 4, behind a session property) ------------------------
#
# The reference enforces through AccessControl plugins
# (spi/security/AccessDeniedException.java error texts).  Here a
# session property turns on checking the SQL path's statement targets
# against the grant store: SET SESSION enforce_access_control = true,
# SET SESSION session_user = '<who>'.  Default off preserves the
# single-user behavior; the registry's grantor ('admin') bypasses, like
# a superuser identity.  Table extraction is a top-level token walk
# (FROM/JOIN/INSERT INTO/DELETE FROM at paren depth 0, CTE names and
# metadata schemas excluded) — statement-level enforcement for the
# engine.sql surface, documented in COVERAGE.md.

ENFORCE_CONF = "spark.fps.enforceAccessControl"
USER_CONF = "spark.fps.sessionUser"

_META_PREFIXES = ("information_schema", "system")


def _statement_targets(sql: str) -> list[tuple[str, str, str]]:
    """(privilege, table, denial verb) triples for one statement."""
    from facebook_presto_spark.sqlfront.tokens import tokenize

    toks = [t for t in tokenize(sql)]
    out: list[tuple[str, str, str]] = []
    cte_names: set[str] = set()
    depth = 0
    skip_from_at: int | None = None

    stmt = classify(sql)
    if stmt.kind == "insert":
        out.append(("INSERT", ".".join(stmt.name), "insert into"))
    elif stmt.kind == "delete":
        out.append(("DELETE", ".".join(stmt.name), "delete from"))
        skip_from_at = 0  # the DELETE's own FROM is not a read

    for i, t in enumerate(toks):
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        if depth != 0 or t.kind != "ident":
            continue
        if t.upper == "AS" and i > 0 and toks[i - 1].kind in ("ident", "qident"):
            # WITH name AS ( … ) — collect CTE names at depth 0
            if i + 1 < len(toks) and toks[i + 1].text == "(":
                cte_names.add(toks[i - 1].text.strip('"').lower())
        if t.upper not in ("FROM", "JOIN"):
            continue
        if skip_from_at is not None and t.upper == "FROM":
            skip_from_at = None
            continue
        if i + 1 >= len(toks) or toks[i + 1].kind not in ("ident", "qident"):
            continue
        name = toks[i + 1].text.strip('"')
        low = name.lower()
        if toks[i + 1].is_kw("UNNEST", "LATERAL", "VALUES", "SELECT"):
            continue
        if low.split(".")[0] in _META_PREFIXES:
            continue
        out.append(("SELECT", name, "select from"))
    return [
        (p, t, v) for p, t, v in out if t.lower() not in cte_names
    ]


def enforce(engine, sql: str) -> None:
    """Raise AccessDeniedException-style errors when enforcement is on
    and the session user lacks a required privilege."""
    try:
        enabled = engine.spark.conf.get(ENFORCE_CONF, "false")
    except Exception:
        return
    if (enabled or "false").lower() != "true":
        return
    user = engine.spark.conf.get(USER_CONF, engine.grants.grantor)
    if user == engine.grants.grantor:
        return
    for priv, table, verb in _statement_targets(sql):
        short = table.split(".")[-1]
        if not (engine.grants.has(user, table, priv)
                or engine.grants.has(user, short, priv)):
            # AccessDeniedException.denySelectTable / denyInsertTable /
            # denyDeleteTable message shapes
            raise PermissionError(f"Access Denied: Cannot {verb} table {table}")


def _existing_table(engine, name: str) -> str:
    table = name.strip('"')
    if not engine.spark.catalog.tableExists(table):
        raise ValueError(f"Table '{table}' does not exist")
    return table


def grant(engine, stmt):
    m = _GRANT_ARGS_RE.fullmatch(stmt.body)
    if m is None:
        return None
    privs = parse_privileges(m.group(1))
    engine.grants.grant(m.group(3).strip('"'), _existing_table(engine, m.group(2)),
                        privs, grantable=bool(m.group(4)))
    return engine.ok()


def revoke(engine, stmt):
    m = _REVOKE_ARGS_RE.fullmatch(stmt.body)
    if m is None:
        return None
    privs = parse_privileges(m.group(2))
    engine.grants.revoke(m.group(4).strip('"'), _existing_table(engine, m.group(3)),
                         privs, grant_option_only=bool(m.group(1)))
    return engine.ok()


def show_grants(engine, stmt):
    """ShowQueriesRewrite.visitShowGrants:244-254 — an aliased projection
    over table_privileges, ordered by grantee, table_name (the registry's
    rows already come in that order)."""
    table = _existing_table(engine, ".".join(stmt.name)) if stmt.name else None
    rows = [r[1:7] for r in engine.grants.rows(table)]
    return local_dataframe(
        engine.spark, rows,
        "`Grantee` string, `Catalog` string, `Schema` string, "
        "`Table` string, `Privilege` string, `Grantable` boolean",
    )

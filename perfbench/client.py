"""A minimal Presto statement-protocol client.

Submits one statement with ``POST /v1/statement`` and follows ``nextUri``
until it disappears, the loop every Presto client (CLI, JDBC) runs.  It
times what a user of the protocol sees: the time to the first page that
carries data (or to the final page), and the time to the last page.
"""

from __future__ import annotations

import http.client
import json
import time
import urllib.parse
from dataclasses import dataclass, field


@dataclass
class Reply:
    """What the client saw for one statement."""

    columns: list[str] = field(default_factory=list)
    rows: list[list] = field(default_factory=list)
    error: str | None = None
    ttfr_s: float = 0.0
    latency_s: float = 0.0
    pages: int = 0
    bytes: int = 0


class StatementClient:
    def __init__(self, host: str, port: int, user: str = "perfbench"):
        self.host = host
        self.port = port
        self.headers = {"X-Presto-User": user, "X-Presto-Source": "perfbench"}

    def _request(self, method: str, path: str, body: bytes | None) -> tuple[int, bytes]:
        # the server speaks HTTP/1.0 and closes each connection
        conn = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            conn.request(method, path, body=body, headers=self.headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def execute(self, sql: str) -> Reply:
        """Run ``sql`` to completion.  Statement failures land in
        ``Reply.error``; a failed connection raises ``OSError`` or
        ``http.client.HTTPException``."""
        reply = Reply()
        t0 = time.perf_counter()
        path, body, method = "/v1/statement", sql.encode(), "POST"
        while path is not None:
            status, raw = self._request(method, path, body)
            if status != 200:
                reply.error = f"HTTP {status} for {method} {path}: {raw[:200]!r}"
                break
            reply.pages += 1
            reply.bytes += len(raw)
            page = json.loads(raw)
            if page.get("error"):
                reply.error = page["error"].get("message") or "query failed"
                break
            if page.get("columns") and not reply.columns:
                reply.columns = [c["name"] for c in page["columns"]]
            rows = page.get("data")
            next_uri = page.get("nextUri")
            if not reply.ttfr_s and (rows or next_uri is None):
                reply.ttfr_s = time.perf_counter() - t0
            if rows:
                reply.rows.extend(rows)
            path = urllib.parse.urlsplit(next_uri).path if next_uri else None
            body, method = None, "GET"
        reply.latency_s = time.perf_counter() - t0
        if not reply.ttfr_s:
            reply.ttfr_s = reply.latency_s
        return reply

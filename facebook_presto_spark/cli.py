"""Interactive / batch CLI over the engine — the presto-cli twin.

The reference ships a console client (presto-cli/.../Console.java):
a ``presto:schema>`` prompt, ``;``-terminated statements, psql-style
aligned output (AlignedTablePrinter.java), batch ``--execute`` with
selectable output formats (ClientOptions.java:119-148 — ALIGNED,
VERTICAL, CSV, TSV, CSV_HEADER, TSV_HEADER, NULL), ``quit``/``exit``
commands, and a trailing row-count line ("(N rows)").

Usage::

    python -m facebook_presto_spark.cli [--sf-dir DIR]
        [--execute SQL] [--file F] [--output-format FMT]

Interactive mode reads statements until ``;`` (continuation prompt
``       ->`` like the reference's dash-prompt; ``split_statements`` reads
them with the engine's tokenizer, waits only for an open literal or
comment, and ends text it cannot read at the next ``;``), runs them through
``PrestoSparkEngine.sql`` (the full Presto-dialect translator), and
prints aligned tables.  Errors print and the loop continues — same
contract as Console.java's error handling.

Scale note: rows come from ``server.result_rows``, the protocol
server's rule.  A plan whose rows already sit in the driver (VALUES,
SHOW/DESCRIBE commands, driver-built metadata results) is collected
without a Spark job; a result with a type Arrow cannot carry streams
through ``toLocalIterator``; every other plan is read as Arrow record
batches, one Spark job per wave of partitions, so a large SELECT holds
at most one wave on the driver: up to ``defaultParallelism`` partitions,
fewer once their bytes would pass half of ``spark.driver.maxResultSize``.
Interactive mode pages the first ``--max-rows`` (default 1000)
rows like the reference's pager.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import sys
from typing import Iterable, Iterator

from facebook_presto_spark.server import result_rows, temporal_text


def _fmt_value(v, fmt: str) -> str:
    if v is None:
        return "NULL" if fmt == "ALIGNED" else ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        # AlignedTablePrinter formats binary as spaced hex pairs
        return " ".join(
            v.hex()[i:i + 2] for i in range(0, min(len(v) * 2, 64), 2)
        ) + (" ..." if len(v) > 32 else "")
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (dt.date, dt.time, dt.timedelta)):
        return temporal_text(v)
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_fmt_value(x, fmt) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(
            f"{_fmt_value(k, fmt)}={_fmt_value(x, fmt)}" for k, x in v.items()
        ) + "}"
    return str(v)


def print_aligned(cols: list[str], rows: Iterable[tuple], out) -> int:
    """psql-style aligned table (AlignedTablePrinter.java): centered
    headers, ``|``-separated columns, ``-+-`` rule, ``(N rows)``."""
    mat = [[_fmt_value(v, "ALIGNED") for v in r] for r in rows]
    widths = [
        max(len(c), *(len(r[i]) for r in mat)) if mat else len(c)
        for i, c in enumerate(cols)
    ]
    out.write(" " + " | ".join(c.center(w) for c, w in zip(cols, widths)).rstrip() + "\n")
    out.write("-" + "-+-".join("-" * w for w in widths) + "-\n")
    for r in mat:
        out.write(" " + " | ".join(v.ljust(w) for v, w in zip(r, widths)).rstrip() + "\n")
    n = len(mat)
    out.write(f"({n} row{'s' if n != 1 else ''})\n")
    return n


def print_rows(cols: list[str], rows: Iterator[tuple], fmt: str, out) -> int:
    if fmt == "ALIGNED":
        return print_aligned(cols, list(rows), out)
    if fmt == "VERTICAL":
        n = 0
        width = max((len(c) for c in cols), default=0)
        for r in rows:
            n += 1
            out.write(f"-[ RECORD {n} ]-\n")
            for c, v in zip(cols, r):
                out.write(f"{c.ljust(width)} | {_fmt_value(v, fmt)}\n")
        if n == 0:
            out.write("(no rows)\n")
        return n
    sep = "\t" if fmt.startswith("TSV") else ","
    n = 0
    if fmt.endswith("_HEADER"):
        out.write(sep.join(cols) + "\n")
    for r in rows:
        n += 1
        if fmt.startswith("CSV"):
            out.write(sep.join(_csv_quote(_fmt_value(v, fmt)) for v in r) + "\n")
        elif fmt.startswith("TSV"):
            out.write(sep.join(_fmt_value(v, fmt) for v in r) + "\n")
        # NULL format: discard (ClientOptions OutputFormat.NULL)
    return n


def _csv_quote(s: str) -> str:
    if any(ch in s for ch in ",\"\n"):
        return '"' + s.replace('"', '""') + '"'
    return s


def run_statement(engine, sql: str, fmt: str, out, max_rows: int | None) -> None:
    df = engine.sql(sql)
    cols = df.columns
    if not cols:  # DDL-style statements
        df.collect()
        out.write("OK\n")
        return
    rows = result_rows(df)
    if max_rows is not None:
        import itertools

        rows = itertools.islice(rows, max_rows)
    print_rows(cols, (tuple(r) for r in rows), fmt, out)


def read_statements(stream) -> Iterator[str]:
    """Accumulate lines until a ``;`` terminator (Console.java's
    statement splitter); the text after the last one is a statement too."""
    buf = ""
    for line in stream:
        stmts, buf = split_statements(buf + line)
        yield from stmts
    tail = buf.strip()
    if tail:
        yield tail


def split_statements(text: str) -> tuple[list[str], str]:
    """The ``;``-terminated statements of ``text`` and the rest after
    them, read with the engine's tokenizer: a ``;`` inside a literal, a
    quoted name or a comment ends nothing.  A rest that ends inside an
    unterminated literal or comment is kept whole for more lines; a
    character the tokenizer cannot read is part of its statement, which
    the next ``;`` ends and the engine then reports; a rest of only
    whitespace and comments is dropped."""
    from facebook_presto_spark.sqlfront.tokens import TokenizeError, scan

    stmts, start, pending, pos = [], 0, False, 0
    while True:
        try:
            for tok, at in scan(text[pos:]):
                at += pos
                if tok.text == "/" and text.startswith("*", at + 1):
                    return stmts, text[start:]  # an unterminated /* comment
                if tok.text != ";":
                    pending = True
                elif pending:
                    stmts.append(text[start:at].strip())
                    start, pending = at + 1, False
                else:  # an empty statement
                    start = at + 1
            return stmts, text[start:] if pending else ""
        except TokenizeError as e:
            pos += e.offset
            if text[pos] in "'\"":
                return stmts, text[start:]  # an unterminated literal
            pending, pos = True, pos + 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="facebook_presto_spark.cli")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--execute", "-e", default=None,
                    help="run statements and exit (batch mode)")
    ap.add_argument("--file", "-f", default=None,
                    help="run statements from a file and exit")
    ap.add_argument(
        "--output-format", default=None,
        choices=["ALIGNED", "VERTICAL", "CSV", "TSV", "CSV_HEADER",
                 "TSV_HEADER", "NULL"],
        help="batch default CSV, interactive default ALIGNED "
             "(ClientOptions.java:119)")
    ap.add_argument("--max-rows", type=int, default=1000,
                    help="interactive page size (batch mode streams all)")
    args = ap.parse_args(argv)

    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(args.sf_dir)
    batch = args.execute is not None or args.file is not None
    fmt = args.output_format or ("CSV" if batch else "ALIGNED")
    out = sys.stdout

    if batch:
        if args.execute is not None:
            stmts = read_statements(iter([args.execute]))
        else:
            with open(args.file) as fh:
                stmts = list(read_statements(fh))
        for stmt in stmts:
            try:
                run_statement(engine, stmt, fmt, out, max_rows=None)
            except Exception as e:  # Console.java prints and continues
                sys.stderr.write(f"Query failed: {_first_line(e)}\n")
                return 1
        return 0

    # interactive
    prompt = "presto> "
    cont = "     -> "
    out.write("facebook_presto_spark CLI (type 'quit' or 'exit' to leave)\n")
    buf = ""
    while True:
        out.write(prompt if not buf else cont)
        out.flush()
        line = sys.stdin.readline()
        if not line:
            break
        if not buf and line.strip().lower() in ("quit", "exit", "quit;", "exit;"):
            break
        stmts, buf = split_statements(buf + line)
        for stmt in stmts:
            try:
                run_statement(engine, stmt, fmt, out, max_rows=args.max_rows)
            except Exception as e:
                out.write(f"Query failed: {_first_line(e)}\n")
    return 0


def _first_line(e: Exception) -> str:
    return str(e).split("\n", 1)[0][:500]


if __name__ == "__main__":
    sys.exit(main())

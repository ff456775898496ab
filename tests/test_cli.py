"""CLI tests (presto-cli twin — Console.java / AlignedTablePrinter.java)."""

import io

from facebook_presto_spark import cli


def test_statement_splitter_respects_strings():
    stmts = list(cli.read_statements(iter([
        "SELECT 'a;b' AS x; SELECT 1",
        "+2 AS y; SELECT 'it''s;ok' AS z;",
    ])))
    assert stmts == [
        "SELECT 'a;b' AS x",
        "SELECT 1+2 AS y",
        "SELECT 'it''s;ok' AS z",
    ]


def test_statement_splitter_skips_comments():
    def split(*lines):
        return list(cli.read_statements(iter(lines)))

    assert split("SELECT 1; -- don't\nSELECT 2;\nSELECT 3;") == [
        "SELECT 1", "-- don't\nSELECT 2", "SELECT 3",
    ]
    assert split("SELECT 1 /* a;b */ AS x;") == ["SELECT 1 /* a;b */ AS x"]
    # a comment or literal left open at a line's end waits for the next
    assert split("SELECT 1 /* a;\n", "b */ AS x; SELECT 'c;\n", "d';\n") == [
        "SELECT 1 /* a;\nb */ AS x", "SELECT 'c;\nd'",
    ]


def test_statement_splitter_ends_unreadable_text():
    """Text the tokenizer cannot read ends at the next ``;`` (the engine
    reports its error); only an open literal or comment waits."""
    assert cli.split_statements("SELECT é;\nSELECT 1;\n") == (
        ["SELECT é", "SELECT 1"], "")
    assert cli.split_statements("SELECT 'abc\n") == ([], "SELECT 'abc\n")
    assert cli.split_statements('SELECT "ab\n') == ([], 'SELECT "ab\n')
    # a literal after the unreadable character still hides its ';'
    assert cli.split_statements("SELECT é, 'a;b';") == (["SELECT é, 'a;b'"], "")
    # a file: every later statement stays its own
    lines = ["SELECT é;\n", "SELECT 2;\n", "SELECT 3\n"]
    assert list(cli.read_statements(iter(lines))) == [
        "SELECT é", "SELECT 2", "SELECT 3",
    ]


def test_aligned_printer_format():
    out = io.StringIO()
    n = cli.print_aligned(
        ["name", "n"], [("AFRICA", 1), ("ASIA", 22)], out
    )
    assert n == 2
    lines = out.getvalue().splitlines()
    assert lines[0] == "  name  | n"
    assert lines[1] == "--------+----"
    assert lines[2] == " AFRICA | 1"
    assert lines[3] == " ASIA   | 22"
    assert lines[4] == "(2 rows)"


def test_null_and_binary_rendering():
    out = io.StringIO()
    cli.print_aligned(["v"], [(None,), (b"\x01\xab",)], out)
    text = out.getvalue()
    assert "NULL" in text and "01 ab" in text


def test_formats_csv_tsv_vertical():
    rows = [("a,1", 1), ("b", None)]
    out = io.StringIO()
    cli.print_rows(["s", "n"], iter(rows), "CSV_HEADER", out)
    assert out.getvalue() == 's,n\n"a,1",1\nb,\n'
    out = io.StringIO()
    cli.print_rows(["s", "n"], iter(rows), "TSV", out)
    assert out.getvalue() == "a,1\t1\nb\t\n"
    out = io.StringIO()
    cli.print_rows(["s", "n"], iter(rows), "VERTICAL", out)
    assert "-[ RECORD 1 ]-" in out.getvalue()


def test_batch_execute_end_to_end(spark, capsys):
    rc = cli.main([
        "--sf-dir", "/root/testdata/sf0.001",
        "-e", "SELECT r_name FROM region ORDER BY r_name LIMIT 2",
        "--output-format", "CSV_HEADER",
    ])
    assert rc == 0
    assert capsys.readouterr().out == "r_name\nAFRICA\nAMERICA\n"


def test_batch_error_exit_code(spark, capsys):
    rc = cli.main([
        "--sf-dir", "/root/testdata/sf0.001",
        "-e", "SELECT * FROM no_such_table",
    ])
    assert rc == 1
    assert "Query failed" in capsys.readouterr().err


def test_batch_connector_catalog_session(spark, capsys):
    """A multi-statement CLI batch driving the memory catalog end-to-end
    (Console.executeCommand splits on ';' and runs sequentially)."""
    rc = cli.main([
        "--sf-dir", "/root/testdata/sf0.001",
        "-e",
        "DROP TABLE IF EXISTS memory.default.cli_t; "
        "CREATE TABLE memory.default.cli_t AS "
        "SELECT r_regionkey, r_name FROM region; "
        "SELECT count(*) AS n FROM memory.default.cli_t; "
        "DROP TABLE memory.default.cli_t",
        "--output-format", "CSV_HEADER",
    ])
    assert rc == 0
    assert "n\n5\n" in capsys.readouterr().out


def test_batch_time_and_interval_text(spark, capsys):
    """TIME and day-time intervals print in milliseconds, as the
    reference's SqlTime and SqlIntervalDayTime do, and as the protocol
    server sends them."""
    rc = cli.main([
        "--sf-dir", "/root/testdata/sf0.001",
        "-e", "SELECT TIME '01:02:03.456' AS t, INTERVAL '1' DAY AS d, "
              "INTERVAL '-90' SECOND AS s",
        "--output-format", "CSV",
    ])
    assert rc == 0
    assert capsys.readouterr().out == "01:02:03.456,1 00:00:00.000,-0 00:01:30.000\n"


def test_batch_show_catalogs(spark, capsys):
    rc = cli.main([
        "--sf-dir", "/root/testdata/sf0.001",
        "-e", "SHOW CATALOGS LIKE 'mem%'",
        "--output-format", "CSV_HEADER",
    ])
    assert rc == 0
    assert capsys.readouterr().out == "Catalog\nmemory\n"


def test_batch_kill_while_planning(spark, sf_dir, capsys, monkeypatch):
    """A statement kill_query ends while it plans prints ``Query failed``
    with the kill message, and none of its rows."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    sql = "SELECT r_name FROM region"
    plan = PrestoSparkEngine._sql_inner

    def planned_then_killed(self, text):
        df = plan(self, text)
        qid = next(r[0] for r in self.runtime.rows()
                   if r[4] == sql and r[1] == "RUNNING")
        self.runtime.kill_query(qid, "from the CLI test")
        return df

    monkeypatch.setattr(PrestoSparkEngine, "_sql_inner", planned_then_killed)
    rc = cli.main(["--sf-dir", sf_dir, "-e", sql])
    assert rc == 1
    out = capsys.readouterr()
    assert out.out == ""
    assert out.err == "Query failed: Query killed. Message: from the CLI test\n"

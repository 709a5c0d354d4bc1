"""tools/check_oracle.py — float canonicalization policy + the r12
engine-version-fragile-cast canary (VERDICT r11 directive #6).

The r11 driver gate hash-failed two corr queries whose oracles cast
HUGEINT totals straight to DOUBLE: byte-identical on this host's
DuckDB, differently rounded on the driver's build. These tests pin
(a) the sweep harness's float policy — 10 significant digits, looser
than the driver's full-float64 hash, so local PASS must never be read
as bit-equality — and (b) the canary that refuses any oracle carrying
a direct int128→double cast before the driver can see it.
"""

import sys

sys.path.insert(0, "/root/repo/tools")

from check_oracle import (  # noqa: E402
    canon_cell, fragile_double_casts, hugeint_output_columns, rows_digest)


def test_canon_cell_float_policy_is_10_sig_digits():
    # pinned: 10 significant digits via %.10g — values that differ
    # only past the 10th digit canonicalize identically here (and can
    # therefore STILL hash-differ at the driver, which is the reason
    # oracles must target bit equality, not check_oracle equality)
    assert canon_cell(0.1) == "f:0.1"
    assert canon_cell(1.0) == "f:1"
    assert canon_cell(1234567890.123456) == "f:1234567890"
    a, b = 1.00000000001, 1.00000000002          # differ at the 12th digit
    assert a != b and canon_cell(a) == canon_cell(b)
    assert canon_cell(float("nan")) == "nan"
    assert canon_cell(None) == "NULL"
    assert canon_cell([1.0, None]) == "[f:1,NULL]"


def test_rows_digest_ignores_row_order_not_bits():
    # the parent-vs-change identity check diffs these digests, so they
    # must not depend on row order and must see past-10-digit floats
    rows = [(1, 1.00000000001, None), (2, 0.5, "x")]
    assert rows_digest(["a", "b", "c"], rows) \
        == rows_digest(["a", "b", "c"], rows[::-1])
    assert rows_digest(["a", "b", "c"], rows) \
        != rows_digest(["a", "b", "c"], [(1, 1.00000000002, None), rows[1]])
    assert rows_digest(["a", "b", "c"], rows) != rows_digest(["a", "c", "b"], rows)


def test_canary_flags_direct_hugeint_double_cast():
    # the exact r11 seam shape (entry _recon pre-fix)
    bad = ("SELECT CAST(CAST(sxyh AS HUGEINT) * 2147483648 "
           "+ sxyl AS DOUBLE) AS v FROM s")
    hits = fragile_double_casts(bad)
    assert len(hits) == 1 and "HUGEINT" in hits[0]


def test_canary_accepts_bigint_routed_and_split_form():
    # the r12 robust form: HUGEINT arithmetic is fine as long as the
    # double conversion goes through a whole-operand BIGINT cast
    good = ("SELECT CAST(CAST((CAST(h AS HUGEINT) * 2147483648 + l) "
            "% 9007199254740992 AS BIGINT) AS DOUBLE) "
            "* CAST(9007199254740992 AS DOUBLE) AS v FROM s")
    assert fragile_double_casts(good) == []
    # plain double casts with no int128 anywhere are fine too
    assert fragile_double_casts("SELECT CAST(n AS DOUBLE) FROM s") == []


def test_canary_flags_partial_bigint_wrap():
    # BIGINT cast on only PART of the operand does not make the outer
    # double cast safe — the HUGEINT part still converts directly
    bad = ("SELECT CAST(CAST(a AS BIGINT) + CAST(b AS HUGEINT) "
           "AS DOUBLE) FROM s")
    assert len(fragile_double_casts(bad)) == 1


def test_registered_oracles_carry_no_fragile_casts():
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    fragile = {n: h for n, sql in entry.oracle_sql().items()
               if (h := fragile_double_casts(sql))}
    assert fragile == {}, f"engine-version-fragile oracles: {fragile}"


def test_semantic_canary_types_result_columns():
    # r13 (VERDICT r12): the gating check is SEMANTIC — bind the query
    # and type its RESULT columns, don't pattern-match the text. The
    # r12 textual canary passed `SUM(CASE WHEN x THEN 1 END) AS n`
    # (no CAST anywhere) yet that column types HUGEINT and went
    # driver-red; this catches it.
    import duckdb
    con = duckdb.connect()
    bad = "SELECT SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS n FROM (SELECT 1 AS x)"
    hits = hugeint_output_columns(con, bad)
    assert hits == [("n", "HUGEINT")]
    good = ("SELECT CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END)"
            " AS BIGINT) AS n FROM (SELECT 1 AS x)")
    assert hugeint_output_columns(con, good) == []
    # windowed SUM(COUNT(*)) — the hashed_features_sparse shape
    win = ("SELECT x, SUM(COUNT(*)) OVER (PARTITION BY x) AS tot "
           "FROM (SELECT 1 AS x) GROUP BY x")
    assert [c for c, _ in hugeint_output_columns(con, win)] == ["tot"]
    # nested int128 (list element) is flagged too
    lst = "SELECT [SUM(x)] AS xs FROM (SELECT 1::HUGEINT AS x)"
    assert hugeint_output_columns(con, lst)


def test_registered_oracles_emit_no_int128_columns():
    # Full-roster semantic sweep at sf0.001: bind every oracle against
    # real views and assert zero int128 output columns. This is the
    # builder-side twin of the driver's hash gate — binding only, so
    # it stays fast (~seconds for 150+ oracles).
    import duckdb
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from check_oracle import TABLES
    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    offenders = {}
    for n, sql in entry.oracle_sql().items():
        h = hugeint_output_columns(con, sql)
        if h:
            offenders[n] = h
    assert offenders == {}, f"int128 output columns: {offenders}"


def test_nested_output_canary_flags_arrays_and_structs():
    # r15 canary (the CORRECTNESS_r14 inverted_index_postings red): the
    # driver's pandas canonicalizer cannot hash array/struct cells, so
    # any top-level nested result column in a SQL-oracled entry errors
    # in the driver gate even with correct values.
    import duckdb

    from check_oracle import nested_output_columns
    con = duckdb.connect()
    assert nested_output_columns(con, "SELECT 1 AS x, 'a' AS s") == []
    arr = "SELECT list(x) AS xs FROM (SELECT 1 AS x)"
    assert [c for c, _ in nested_output_columns(con, arr)] == ["xs"]
    st = "SELECT {'a': 1} AS s"
    assert [c for c, _ in nested_output_columns(con, st)] == ["s"]
    mp = "SELECT MAP([1], [2]) AS m"
    assert [c for c, _ in nested_output_columns(con, mp)] == ["m"]
    # scalar renderings of the same data pass
    ok = "SELECT array_to_string(list(x), ',') AS xs FROM (SELECT 1 AS x)"
    assert nested_output_columns(con, ok) == []


def test_registered_oracles_emit_no_nested_columns():
    # builder-side twin of the driver's canonicalizer limitation: bind
    # every registered oracle and assert zero nested output columns
    import duckdb
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from check_oracle import TABLES, nested_output_columns
    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    offenders = {}
    for n, sql in entry.oracle_sql().items():
        h = nested_output_columns(con, sql)
        if h:
            offenders[n] = h
    assert offenders == {}, f"nested output columns: {offenders}"

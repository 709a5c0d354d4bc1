"""Self-check harness mimicking the driver's correctness gate:
runs each __spark_entry__.queries() entry on Spark AND its oracle_sql()
on DuckDB over the same parquet, compares row count, column names, and
an order-insensitive canonicalized value multiset.

Every PASS and rows-only line carries a short digest of the query's
sorted raw rows, so a run from another checkout of this repository
compares rows bit for bit by diffing the two outputs.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import math
import sys
from pathlib import Path

# the checkout this script lives in, not whichever one is installed
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_cell(v):
    """Float policy (pinned by tests/test_check_oracle.py): floats
    canonicalize at 10 significant digits — LOOSER than the driver's
    gate, which hashes full float64 values. Any oracle that relies on
    this slack (values equal at 10 sig digits but not bit-equal) will
    pass here and fail at the driver, so oracles must target BIT
    equality; ``fragile_double_casts`` below is the structural canary
    for the known engine-version rounding seams."""
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"f:{v:.10g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def _match_paren(s: str, open_idx: int) -> int:
    """Index of the ')' matching s[open_idx] == '(' (or -1)."""
    depth = 0
    for k in range(open_idx, len(s)):
        if s[k] == "(":
            depth += 1
        elif s[k] == ")":
            depth -= 1
            if depth == 0:
                return k
    return -1


def fragile_double_casts(sql: str) -> list[str]:
    """Engine-version rounding canary (r12): int128→double casts are
    rounded differently across DuckDB releases (the r11 corr driver-
    gate seam — byte-identical on DuckDB 1.0.0, hash-mismatched on the
    driver's build). Flags every ``CAST(expr AS DOUBLE)`` whose
    operand mentions HUGEINT/UHUGEINT, UNLESS the whole operand is
    itself ``CAST(... AS BIGINT)`` — the forced int64 route whose
    double conversion is hardware-correctly-rounded on every engine.
    Robust oracles split exact totals into a·2⁵³ + b parts (each
    exactly convertible) — see __spark_entry__._corr_oracle."""
    hits = []
    up = sql.upper()
    pos = 0
    while True:
        j = up.find("CAST", pos)
        if j < 0:
            break
        op = sql.find("(", j + 4)
        if op < 0 or sql[j + 4:op].strip():
            pos = j + 4
            continue
        close = _match_paren(sql, op)
        if close < 0:
            break
        inner = " ".join(sql[op + 1:close].split())   # normalize ws
        iu = inner.upper()
        if iu.endswith(" AS DOUBLE"):
            operand = inner[:-len(" AS DOUBLE")].strip()
            ou = operand.upper()
            if "HUGEINT" in ou:
                safe = False
                if ou.startswith("CAST"):
                    iop = operand.find("(")
                    icl = _match_paren(operand, iop) if iop > 0 else -1
                    body = operand[iop + 1:icl] if icl == len(operand) - 1 \
                        else ""
                    safe = body.upper().rstrip().endswith("AS BIGINT")
                if not safe:
                    hits.append(sql[j:close + 1][:120])
        pos = op + 1
    return hits


def hugeint_output_columns(con, sql: str) -> list[tuple[str, str]]:
    """Semantic engine-version canary (r13, superseding the textual
    ``fragile_double_casts`` scan as the gating check — VERDICT r12
    adjudication): BIND the oracle on DuckDB and type its RESULT
    columns. Any output column that types as HUGEINT/UHUGEINT (int128,
    incl. nested in lists/structs) is rejected: the driver's
    fetch/hash path treats int128 differently from int64 (every
    HUGEINT-emitting oracle in gate history went red; zero int64 ones
    did), and this host's DuckDB fetchall hides the seam — so the only
    safe contract is "no int128 ever reaches the result schema". Uses
    relation binding (``.types``), not execution, so the full-roster
    scan is O(compile) per oracle. Fix at the oracle: CAST the output
    column AS BIGINT (all gated values are far inside int64)."""
    rel = con.sql(sql)
    return [(c, str(t)) for c, t in zip(rel.columns, rel.types)
            if "HUGEINT" in str(t).upper()]


def nested_output_columns(con, sql: str) -> list[tuple[str, str]]:
    """Driver-harness shape canary (r15, adjudicated from the only
    SQL-oracled gate red ever: CORRECTNESS_r14's
    ``inverted_index_postings`` — ``TypeError: unhashable type:
    'list'``). The driver's pandas canonicalizer sorts raw cells, and
    array/struct/map cells are unhashable/unorderable there, so ANY
    top-level nested result column in a SQL-oracled entry will error
    in the driver gate even when the values are correct. Bind-only
    (``.types``), like ``hugeint_output_columns``. Fix at the entry +
    oracle: render the column as a scalar (``concat_ws``/
    ``array_to_string`` or a hash of the canonical rendering)."""
    rel = con.sql(sql)
    return [(c, str(t)) for c, t in zip(rel.columns, rel.types)
            if any(k in str(t).upper()
                   for k in ("[]", "STRUCT", "MAP", "LIST"))]


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def rows_digest(cols, rows) -> str:
    """12 hex digits of sha256 over the column names and the sorted
    ``repr`` of every raw row — no float canonicalization, so equal
    digests mean bit-equal results (row order aside)."""
    h = hashlib.sha256(repr(list(cols)).encode())
    for r in sorted(map(repr, rows)):
        h.update(r.encode())
    return h.hexdigest()[:12]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from crysda_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    # r12 canary: the driver's DuckDB build may round int128→double
    # differently from this host's — name the version in every sweep
    # header and refuse fragile casts before the driver can see them.
    print(f"duckdb {duckdb.__version__}; "
          f"{len(qs)} queries, {len(oracles)} oracles")
    fragile = {n: h for n, sql in oracles.items()
               for h in [fragile_double_casts(sql)] if h}
    if fragile:
        for n, h in fragile.items():
            print(f"FRAGILE-CAST  {n}: {h[0]}")
        print(f"\n{len(fragile)} oracle(s) carry engine-version-fragile "
              "int128->double casts — fix before the driver sweeps")
        sys.exit(2)
    # r13 semantic canary (the gating one): bind EVERY registered
    # oracle and refuse any int128 result column — the adjudicated
    # root cause of all seven historical driver hash-reds.
    huge = {}
    for n, sql in oracles.items():
        try:
            h = hugeint_output_columns(con, sql)
        except Exception as e:
            print(f"FAIL  {n}: oracle bind error: "
                  f"{str(e).splitlines()[0][:200]}")
            sys.exit(2)
        if h:
            huge[n] = h
    if huge:
        for n, h in huge.items():
            print(f"HUGEINT-OUTPUT  {n}: {h}")
        print(f"\n{len(huge)} oracle(s) emit int128 result columns — "
              "CAST(... AS BIGINT) before the driver sweeps")
        sys.exit(2)
    print("hugeint-output canary: 0 offenders across all oracles")
    # r15 shape canary: no top-level array/struct/map result columns —
    # the driver's pandas canonicalizer cannot hash nested cells (the
    # adjudicated CORRECTNESS_r14 inverted_index_postings red).
    nested = {}
    for n, sql in oracles.items():
        h = nested_output_columns(con, sql)
        if h:
            nested[n] = h
    if nested:
        for n, h in nested.items():
            print(f"NESTED-OUTPUT  {n}: {h}")
        print(f"\n{len(nested)} oracle(s) emit nested result columns — "
              "render as scalars before the driver sweeps")
        sys.exit(2)
    print("nested-output canary: 0 offenders across all oracles")
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"{rows_digest(scols, srows)}")
            n_rowsonly += 1
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sc = canon_rows(scols, srows)
            dc = canon_rows(dcols, drows)
            if sc != dc:
                diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(srows)} rows) "
                  f"{rows_digest(scols, srows)}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

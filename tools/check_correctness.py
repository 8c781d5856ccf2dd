"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values (sorted rows,
columns sorted by name, floats rounded).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


class ArrayCellError(TypeError):
    """Raised when a query returns a list/array cell. The DRIVER's
    canonicalizer (pandas sort_values over all columns) throws
    `unhashable type: 'list'` on array columns, so contract queries
    must scalarize arrays (posexplode or canonical-CSV). Round 4's
    checker stringified lists here and masked exactly that failure
    (VERDICT r4 defect #1) — now we fail the same way the driver does.
    """


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        raise ArrayCellError(
            "array-valued cell violates the driver canonicalizer; "
            "scalarize (posexplode / canonical CSV) before returning"
        )
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def oracle_connection(sf_dir: str):
    """An in-process DuckDB connection with one view per driver table."""
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(spark, con, sf_dir: str, name: str, fn, sql: str | None) -> str:
    """Run one query on Spark and its oracle twin on DuckDB. Returns the
    report line: ``ok``, ``weak`` (no oracle) or ``FAIL`` + reason."""
    try:
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
    except Exception as e:  # noqa: BLE001
        return f"FAIL {name}: spark error: {e}"
    if sql is None:
        return f"weak {name}: rows={len(srows)} (no oracle)"
    try:
        o = con.execute(sql)
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
    except Exception as e:  # noqa: BLE001
        return f"FAIL {name}: duckdb error: {str(e)[:300]}"
    if sorted(scols) != sorted(ocols):
        return f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}"
    try:
        a = norm_rows(scols, [[r[c] for c in scols] for r in srows])
        b = norm_rows(ocols, orows)
    except ArrayCellError as e:
        return f"FAIL {name}: {e}"
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return f"FAIL {name}: values differ; first diffs: {diff}"
    return f"ok   {name}: rows={len(srows)}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from go_dedupe_spark.session import default_cores, get_spark

    cores = default_cores()
    spark = get_spark("check-correctness", cores=cores,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")

    con = oracle_connection(sf_dir)
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        line = compare(spark, con, sf_dir, name, fn, oracles.get(name))
        print(line)
        if line.startswith("FAIL"):
            failures.append(name)

    print(f"\n{len(failures)} failures" if failures else "\nall ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

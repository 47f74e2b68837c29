"""Local simulation of the driver's correctness gate.

Runs each __spark_entry__.queries()[k] on Spark and oracle_sql()[k] on
DuckDB over the same sf dir, then compares row count, column names,
and exact values (order-insensitive, strictest possible — stricter
than any value-hash the driver could use).

Usage: python scripts/check_oracle.py [sf_dir] [only_query ...]

The session is get_spark's default: local[$SPARK_GRAFT_CPUS] and a
driver heap of min(24g, half of physical memory).
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — exactness check
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(rows):
    return sorted([tuple(norm_cell(c) for c in r) for r in rows], key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from opentsdb_rollup_rust_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        status, detail = "", ""
        try:
            sdf = fn(spark, sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = norm_rows([tuple(r) for r in sdf.collect()])
            if name not in os_:
                status, detail = "ROWS-ONLY", f"{len(srows)} rows"
                print(f"{name:24s} {status:9s} {detail}")
                n_pass += 1
                continue
            rel = con.sql(os_[name])
            ocols = [c.lower() for c in rel.columns]
            orows = norm_rows(rel.fetchall())
            if scols != ocols:
                status, detail = "SCHEMA", f"spark={scols} duck={ocols}"
            elif len(srows) != len(orows):
                status, detail = "COUNT", f"spark={len(srows)} duck={len(orows)}"
            elif srows != orows:
                diffs = [
                    (a, b) for a, b in zip(srows, orows) if a != b
                ][:3]
                status, detail = "VALUES", f"first diffs: {diffs}"
            else:
                status, detail = "OK", f"{len(srows)} rows"
        except Exception as exc:  # noqa: BLE001
            status, detail = "ERROR", str(exc).split("\n")[0][:200]
        if status == "OK" or status == "ROWS-ONLY":
            n_pass += 1
        else:
            n_fail += 1
        print(f"{name:24s} {status:9s} {detail}")

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

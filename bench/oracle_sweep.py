"""Full-oracle sweep at an arbitrary SF (default sf0.1) — the round-end
safety net on top of tests/test_queries_oracle.py, which pins the
driver's sf0.01.  Usage:

    PYTHONPATH=/root/repo python bench/oracle_sweep.py [sf_dir]

Prints one line per oracled query (ok/FAIL) and a final tally; exit code
0 only if every query matches rows+schema-kind+values.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import duckdb

    import associationabacminer_spark.queries as Q
    from associationabacminer_spark.session import get_spark
    from associationabacminer_spark.sources.tables import TABLE_NAMES

    # reuse the exact canonicalization the pytest mirror uses
    import test_queries_oracle as M

    spark = get_spark(app_name="oracle_sweep")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    bad = []
    names = sorted(Q.ORACLES)
    for name in names:
        try:
            sdf = Q.QUERIES[name](spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
            arrow = con.execute(Q.ORACLES[name]).arrow()
            duck_cols = arrow.column_names
            duck_rows = [tuple(d.values()) for d in arrow.to_pylist()]
            ok = sorted(spark_cols) == sorted(duck_cols)
            st = {c: M._canon_spark_type(t) for c, t in sdf.dtypes}
            dt = {
                c: M._canon_arrow_type(arrow.schema.field(c).type)
                for c in duck_cols
            }
            ok = ok and st == dt and len(spark_rows) == len(duck_rows)
            if ok:
                a = M.normalize(spark_rows, spark_cols)
                b = M.normalize(duck_rows, duck_cols)
                ok = a == b
            print(f"{name}: {'ok' if ok else 'FAIL'} ({len(spark_rows)} rows)", flush=True)
            if not ok:
                bad.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e!r}", flush=True)
            bad.append(name)
    print(f"SWEEP {sf_dir}: {len(names) - len(bad)}/{len(names)} ok; failures: {bad}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

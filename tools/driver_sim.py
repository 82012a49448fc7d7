"""Driver simulation: run the driver contract end-to-end the way the
round driver does — ``entry(spark)`` smoke check, then EVERY
``queries()`` entry vs its ``oracle_sql()`` DuckDB oracle at sf0.01
(the driver itself checks only the first 50 per round; this mirrors the
gate over the whole registry).

Run: python tools/driver_sim.py [sf_dir]   (default /root/testdata/sf0.01)
Exit code 0 iff every entry matches.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from iceberg_rest_server_spark import materialize
    from iceberg_rest_server_spark.oracle import compare_frames, duck_connect
    from iceberg_rest_server_spark.session import get_spark

    spark = get_spark("driver-sim")
    print("entry rows:", len(e.entry(spark).collect()), flush=True)
    con = duck_connect(sf_dir)
    osql = e.oracle_sql()
    names = e.queries()
    bad: list[tuple] = []
    for i, (name, fn) in enumerate(names.items()):
        with materialize.scope():  # the query releases what it materialized
            pdf = fn(spark, sf_dir).toPandas()
        status = "rows-only"
        if name in osql:
            r = compare_frames(name, pdf, con.sql(osql[name]).df())
            status = "ok" if r.ok else "MISMATCH"
            if not r.ok:
                bad.append((name, r.detail, r.diffs[:3]))
        print(f"[{i + 1}/{len(names)}] {name}: {status}", flush=True)
    print("MISMATCHES:", bad)
    print("TOTAL:", len(names), "with_oracle:", len(osql))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

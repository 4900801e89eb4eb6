"""Pin the result digests of kg_batch's queries.

    python3 perfbench/pin_queries.py q13_redirect_closure kg01_label_stats ...

Runs each named query on the fixed tables under ``perfbench/data``,
checks its result against the package's DuckDB oracle SQL for that
query (the same digest must come out of both), and writes the names
with their digests to ``perfbench/queries.json``. Writes nothing and
exits 1 if any result differs from its oracle. Rerun it only when the
data or the query list changes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import config  # noqa: E402


def oracle_sql() -> dict:
    from grisp_spark import (queries_kg, queries_relational, queries_relational2,
                             queries_relational3, queries_traindata)

    out = {}
    for mod in (queries_relational, queries_relational2, queries_relational3,
                queries_traindata, queries_kg):
        out.update(mod.ORACLES)
    return out


def main(names: list[str]) -> int:
    import duckdb

    from perfbench import harness, workloads

    fns, oracles = workloads.query_functions(), oracle_sql()
    con = duckdb.connect()
    for f in sorted(os.listdir(config.QUERY_DATA)):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(config.QUERY_DATA, f)}')")
    sess = harness.Session()
    pins, bad = {}, 0
    try:
        sess.start()
        for name in names:
            got = workloads.result_digest(fns[name](sess.spark, config.QUERY_DATA).toPandas())
            want = workloads.result_digest(con.execute(oracles[name]).fetchdf())
            print(name, got, "oracle", want, "ok" if got == want else "MISMATCH", flush=True)
            bad += got != want
            pins[name] = got
    finally:
        sess.stop()
        con.close()
    if bad:
        return 1
    with open(config.QUERY_PINS, "w") as fh:
        json.dump({"data": os.path.relpath(config.QUERY_DATA, config.ROOT),
                   "queries": pins}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

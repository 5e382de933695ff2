"""Compute the DuckDB-oracle digests the analytics workload checks against.

    python3 perfbench/make_digests.py

Runs every registered query's oracle SQL over the bundled sf0.001
fixture and writes ``oracle_digests.json`` beside this file, with the
DuckDB version that produced it. Run it again only when the fixture, a
query's oracle SQL, or the canonical form in ``analytics.digest`` changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


def main() -> None:
    import duckdb

    from analytics import DIGESTS, digest
    from event_store_spark.plans import ORACLE
    from event_store_spark.tables import TABLE_NAMES, table_path
    from run import FIXTURE

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{table_path(FIXTURE, name)}'")
    digests = {}
    for name in sorted(ORACLE):
        cur = con.execute(ORACLE[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        digests[name] = {"digest": digest(cols, rows), "rows": len(rows)}
    with open(DIGESTS, "w") as fh:
        json.dump(
            {"duckdb": duckdb.__version__, "fixture": "sf0.001", "digests": digests},
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")


if __name__ == "__main__":
    main()

"""Rebuild ``digests.json``: the input digest of the generated analytics
tables and, per query of the mix, the result digest of its DuckDB twin
(``kompactor_spark.queries.all_oracles()``) over those tables.

    python3 perfbench/make_digests.py

Run it from the repository root after changing ``mixdata.py`` or the
mix. The benchmark itself never runs DuckDB: it compares each Spark
result against these stored digests.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    import layout
    import mixdata
    from kompactor_spark.queries import all_oracles
    from run import MIX

    data = os.path.join(ROOT, ".perfbench", "digests")
    shutil.rmtree(data, ignore_errors=True)
    mixdata.generate(data)
    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for t in mixdata.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        digests = {"input": layout.tree_digest(data), "queries": {}}
        for name in MIX:
            pdf = con.execute(oracles[name]).df()
            digests["queries"][name] = mixdata.result_digest(pdf)
            print(f"{name}: {len(pdf)} rows", file=sys.stderr)
    finally:
        con.close()
        shutil.rmtree(data, ignore_errors=True)
    with open(os.path.join(HERE, "digests.json"), "w", encoding="utf-8") as fh:
        json.dump(digests, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

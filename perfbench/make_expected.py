"""Write ``expected.json``: the row count and value digest of every
query_mix and stream_catchup result, computed by the DuckDB oracle
twins (``all_oracles()``) over the benchmark's fixed tables.

    python3 perfbench/make_expected.py

Run it again only when the tables, the pinned query lists or an oracle
change.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    from spotify_etl_aws_spark.queries import all_oracles

    oracles = all_oracles()
    out = {}
    with tempfile.TemporaryDirectory() as d:
        paths = gen.make_tables(d, workloads.TABLE_SCALE, workloads.TABLE_SEED)
        con = duckdb.connect()
        for name, path in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name in workloads.QUERY_MIX + workloads.STREAMS:
            out[name] = check.digest(con.sql(oracles[name]).df())
            print(name, out[name]["rows"], file=sys.stderr)
        con.close()
    with open(workloads.EXPECTED, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()

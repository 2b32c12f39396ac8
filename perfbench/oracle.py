"""Derive the stored result hashes for the query-mix sample from the
DuckDB oracle SQL of each registry entry.

The oracle side is slow (minutes at sf0.1), so it runs once, by hand,
whenever the sample or the table generator changes; each benchmark run
only compares against ``oracle_hashes.json``::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import tables  # noqa: E402
from perfbench.common import HERE, result_hash  # noqa: E402
from perfbench.query_mix import SAMPLE, SF, SMOKE_SF  # noqa: E402

HASHES = os.path.join(HERE, "oracle_hashes.json")


def load() -> dict[str, dict[str, str]]:
    with open(HASHES) as f:
        return json.load(f)


def derive(names: list[str], sfs: list[str]) -> dict[str, dict[str, str]]:
    from clickhouse_github_log_importer_spark.plans.queries import REGISTRY
    from clickhouse_github_log_importer_spark.plans.verify import duckdb_connection

    out: dict[str, dict[str, str]] = {}
    for sf in sfs:
        con = duckdb_connection(tables.ensure(sf))
        out[sf] = {}
        for name in names:
            cur = con.execute(REGISTRY[name].oracle)
            cols = [d[0] for d in cur.description]
            out[sf][name] = result_hash(cols, cur.fetchall())
            print(sf, name, out[sf][name], flush=True)
    return out


if __name__ == "__main__":
    with open(HASHES, "w") as f:
        json.dump(derive(list(SAMPLE), [SMOKE_SF, SF]), f, indent=1, sort_keys=True)
        f.write("\n")

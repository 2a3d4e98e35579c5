"""Compute the cached DuckDB oracle hashes the query workloads check against.

Usage: python3 perfbench/oracles.py [query ...]

Runs each mix query's ``oracle_sql`` on DuckDB over the data its workload
reads (``data/<sf>/``) and stores the order-insensitive hash of its result
(``checks.result_hash``) in ``oracle_hashes.json``, per scale factor, with a
fingerprint of the data. Some oracles take minutes (q132's recursive CTE
takes about 3 minutes at sf0.1), which is why the benchmark reads this cache
instead of running them on every run. Rerun this tool whenever a mix, an
oracle or the data changes; the benchmark treats a query without a current
cached hash as failed.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from checks import ORACLE_CACHE, result_hash  # noqa: E402
from inputs import data_fingerprint, sf_dir  # noqa: E402
from run import MIXES  # noqa: E402


def main(argv: list[str]) -> int:
    import duckdb

    from syntenybrowserv2_etl_spark import queries as q

    cache = {}
    if os.path.exists(ORACLE_CACHE):
        with open(ORACLE_CACHE) as f:
            cache = json.load(f)
    for sf, mix in MIXES.values():
        names = [n for n in mix if not argv or n in argv]
        if not names:
            continue
        fp = data_fingerprint(sf)
        if cache.get(sf, {}).get("data") != fp:
            cache[sf] = {"data": fp, "queries": {}}
        con = duckdb.connect()
        d = sf_dir(sf)
        for f in sorted(os.listdir(d)):
            con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{d}/{f}'")
        for name in names:
            t0 = time.perf_counter()
            h, size = result_hash(con.sql(q.REGISTRY[name].oracle).df())
            secs = time.perf_counter() - t0
            cache[sf]["queries"][name] = {"hash": h, "bytes": size, "oracle_s": round(secs, 1)}
            print(f"{sf} {name}: {h[:16]} {size} bytes in {secs:.1f}s", flush=True)
            with open(ORACLE_CACHE, "w") as f:
                json.dump(cache, f, indent=1, sort_keys=True)
                f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

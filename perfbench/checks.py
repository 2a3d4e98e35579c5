"""Output checks: query results against cached DuckDB oracle hashes, and
the built database against an independent DuckDB closure and against
earlier builds of the same inputs."""

from __future__ import annotations

import hashlib
import json
import os
import sys

from inputs import ROOT, data_fingerprint
from spans import TABLE_FAMILY

ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")


def _canon():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from check_oracle import canon
    finally:
        sys.path.pop(0)
    return canon


def result_hash(pdf) -> tuple[str, int]:
    """Order-insensitive hash of a result frame, and its canonical size in bytes.

    Rows go through ``tools/check_oracle.canon`` (sorted columns, raw value
    representations, sorted rows), the same canonical form the repository's
    oracle gate compares.
    """
    text = "\t".join(sorted(pdf.columns)) + "\n" + "\n".join(
        "\t".join(row) for row in _canon()(pdf))
    data = text.encode()
    return hashlib.sha256(data).hexdigest(), len(data)


def load_oracles(sf: str) -> dict[str, str]:
    """Cached oracle hashes for scale factor ``sf``, or {} if stale or absent."""
    try:
        with open(ORACLE_CACHE) as f:
            cache = json.load(f).get(sf, {})
    except FileNotFoundError:
        return {}
    if cache.get("data") != data_fingerprint(sf):
        return {}
    return {q: v["hash"] for q, v in cache["queries"].items()}


def obo_is_a_edges(paths: list[str]) -> list[tuple[str, str]]:
    """(child, parent) is_a edges of non-obsolete [Term] stanzas."""
    edges = set()
    for path in paths:
        header, term, parents, obsolete = None, None, [], False

        def flush():
            if header == "[Term]" and term and not obsolete:
                edges.update((term, p) for p in parents if p)

        with open(path) as f:
            for line in f:
                line = line.rstrip("\r\n")
                if line.startswith("["):
                    flush()
                    header, term, parents, obsolete = line, None, [], False
                elif line.startswith("id: "):
                    term = line[4:]
                elif line.startswith("is_a: "):
                    parents.append(line[6:].split("!")[0].strip())
                elif line == "is_obsolete: true":
                    obsolete = True
        flush()
    return sorted(edges)


def check_build(db: str, counts: dict[str, int], obo_paths: list[str],
                inputs_key: str, hash_dir: str) -> dict:
    """Check a built database; returns per-table rows, hashes and problems.

    - every table exists and holds the row count the build reported;
    - ``on_pairs`` equals a DuckDB recursive-CTE closure of the input
      ``is_a`` edges;
    - each table's row count and order-insensitive hash equal those of
      every earlier run over the same inputs (``inputs_key``) in this
      checkout.
    """
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    tables, problems = {}, {}
    for table in TABLE_FAMILY:
        path = f"{db}/{table}"
        if not os.path.isdir(path):
            problems[table] = "missing"
            continue
        n, h = con.execute(
            "SELECT count(*), sum(hash(t)::HUGEINT) % 18446744073709551616 "
            f"FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true) t"
        ).fetchone()
        tables[table] = {"rows": n, "hash": str(h)}
        if n != counts.get(table):
            problems[table] = f"rows {n} vs reported {counts.get(table)}"

    if "on_pairs" in tables:
        edges = pd.DataFrame(obo_is_a_edges(obo_paths), columns=["child", "parent"])
        con.register("edges", edges)
        missing, extra = con.execute(f"""
            WITH RECURSIVE c(a, d) AS (
                SELECT parent, child FROM edges
                UNION SELECT c.a, edges.child FROM c JOIN edges ON edges.parent = c.d),
            p AS (SELECT parent, child FROM read_parquet('{db}/on_pairs/*.parquet'))
            SELECT (SELECT count(*) FROM (SELECT a, d FROM c EXCEPT SELECT * FROM p)),
                   (SELECT count(*) FROM (SELECT * FROM p EXCEPT SELECT a, d FROM c))
        """).fetchone()
        if missing or extra:
            problems["on_pairs"] = f"closure differs: {missing} missing, {extra} extra"

    os.makedirs(hash_dir, exist_ok=True)
    ref_path = os.path.join(hash_dir, f"{inputs_key}.json")
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            ref = json.load(f)
        for table, got in tables.items():
            if table in ref and ref[table] != got:
                problems.setdefault(table, f"differs from an earlier run of {inputs_key}")
    elif not problems:
        with open(ref_path, "w") as f:
            json.dump(tables, f, indent=1, sort_keys=True)
    failed_families = sorted({TABLE_FAMILY[t] for t in problems})
    return {"tables": tables, "problems": problems, "failed_families": failed_families}

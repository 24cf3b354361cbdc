"""Result fingerprints for the correctness check.

A fingerprint is what ``tests/compare.assert_match`` compares — the
column-name set, each column's canonical type, the row count and the
canonicalized, sorted rows — with the rows reduced to a SHA-256 digest
so the DuckDB side can be computed once per input and cached on disk.
Both sides use ``tests/compare.py``'s own canonicalization."""

from __future__ import annotations

import hashlib
import json
import os

from tests import compare


def _digest(cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(repr(compare.canon_table(cols, rows)).encode()).hexdigest()


def duckdb_fingerprint(con, sql: str) -> dict:
    rel = con.sql(sql)
    types = {c: compare.canon_duckdb_type(t) for c, t in zip(rel.columns, rel.types)}
    cols, rows = compare.duckdb_result(con, sql)
    return {"types": types, "rows": len(rows), "digest": _digest(cols, rows)}


def spark_fingerprint(df) -> dict:
    types = {
        f.name: compare.canon_spark_type(f.dataType.simpleString())
        for f in df.schema.fields
    }
    cols, rows = compare.spark_result(df)
    return {"types": types, "rows": len(rows), "digest": _digest(cols, rows)}


def mismatch(spark_fp: dict, oracle_fp: dict) -> str | None:
    """Why two fingerprints differ, or None when they match."""
    s, o = spark_fp["types"], oracle_fp["types"]
    if sorted(s) != sorted(o):
        return f"columns spark={sorted(s)} duckdb={sorted(o)}"
    bad = [c for c in sorted(s) if s[c] != o[c] or s[c] == "complex"]
    if bad:
        return "types " + ", ".join(f"{c}: spark={s[c]} duckdb={o[c]}" for c in bad)
    if spark_fp["rows"] != oracle_fp["rows"]:
        return f"rows spark={spark_fp['rows']} duckdb={oracle_fp['rows']}"
    if spark_fp["digest"] != oracle_fp["digest"]:
        return "values differ"
    return None


def duckdb_connect(data_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(data_dir, 'duckdb_tmp')}'")
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, name)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE VIEW {name[: -len('.parquet')]} AS "
            f"SELECT * FROM read_parquet('{path}')"
        )
    return con


def oracle_fingerprints(data_dir: str, oracles: dict[str, str], threads: int) -> dict:
    """Fingerprint of every query's oracle over ``data_dir``, cached in
    ``oracle.json`` beside the data (keyed by the oracle SQL text, so a
    changed oracle is recomputed)."""
    path = os.path.join(data_dir, "oracle.json")
    cache: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    todo = {n: sql for n, sql in oracles.items() if cache.get(n, {}).get("sql") != sql}
    if todo:
        con = duckdb_connect(data_dir, threads)
        try:
            for name, sql in todo.items():
                cache[name] = {"sql": sql, **duckdb_fingerprint(con, sql)}
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return {n: cache[n] for n in oracles}

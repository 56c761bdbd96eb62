"""Expected answers, computed once per data directory with DuckDB.

SPARQL templates get a row count for every binding in their anchors'
domains; pipeline jobs get the row count of the
registry's own oracle SQL. Results are cached as JSON next to the data,
keyed by a hash of the SQL text, so nothing here runs inside a timed
region and later runs only read the file.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os

import duckdb

from datagen import TABLES


def bindings(spec) -> list[dict]:
    names = list(spec.params)
    return [dict(zip(names, vals))
            for vals in itertools.product(*(spec.params[n] for n in names))]


def _key(sql: str) -> str:
    return hashlib.sha1(" ".join(sql.split()).encode()).hexdigest()


def _count_all(data_dir: str, sqls: list[str]) -> dict[str, int]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return {_key(s): con.execute(f"SELECT count(*) FROM ({s}) q").fetchone()[0]
                for s in sqls}
    finally:
        con.close()


class Oracle:
    def __init__(self, data_dir: str, specs: list, job_sql: dict[str, str]) -> None:
        path = os.path.join(data_dir, "_oracle.json")
        cache: dict[str, int] = {}
        if os.path.exists(path):
            with open(path) as fh:
                cache = json.load(fh)
        sqls = [s.oracle(b) for s in specs for b in bindings(s)]
        sqls += list(job_sql.values())
        missing = [s for s in sqls if _key(s) not in cache]
        if missing:
            cache.update(_count_all(data_dir, missing))
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(cache, fh)
            os.replace(tmp, path)
        self._cache = cache
        self._job_sql = job_sql

    def rows(self, spec, binding: dict) -> int:
        return self._cache[_key(spec.oracle(binding))]

    def job_rows(self, job: str) -> int:
        return self._cache[_key(self._job_sql[job])]

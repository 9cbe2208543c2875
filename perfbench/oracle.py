"""Output checks against DuckDB on the same parquet.

Serving: the oracle SQL for a request comes from the engine's own SQL printer
(``graphql_query(cube, doc, vars).build_query().relabeled_sql()``) and
runs on DuckDB, an independent executor.  The nested GraphQL response is
flattened to the printer's ``dim.sub`` column names; both sides go
through the transport's JSON value encoding and are compared as an
order-insensitive multiset of canonical rows (the rule of
``tools/verify_local.py``: floats bit-exact by ``repr``).

Pipeline rows: each row's output is reduced to a digest of
``tools/verify_local.py``'s canonical multiset and compared with the
digest of its ``oracle_sql()`` twin on DuckDB.  The oracles of some rows
take seconds, so ``expected.json`` stores their digests keyed by the
oracle text and the fixture's content; a row whose key no longer matches
is checked against DuckDB live.  Refresh the record with::

    python3 perfbench/oracle.py --refresh
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import sys
from collections import Counter
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = "/root/testdata/sf0.1"  # the read-only fixture, see TESTDATA.md
EXPECTED = os.path.join(HERE, "expected.json")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def flatten(row: dict, prefix: str = "") -> dict:
    """Nested response object -> flat ``parent.child`` keyed row."""
    out: dict = {}
    for key, value in row.items():
        name = f"{prefix}{key}"
        if isinstance(value, dict):
            out.update(flatten(value, name + "."))
        else:
            out[name] = value
    return out


def _json_value(v: Any) -> Any:
    """A value as it reads after the transport's JSON round trip
    (dates and timestamps -> ISO string, exact decimal -> string)."""
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return v


def multiset(rows: list[dict]) -> Counter:
    """Rows as an order-insensitive multiset; ``repr`` keeps floats
    bit-exact and keeps 1 apart from 1.0."""
    return Counter(tuple(sorted((k, repr(v)) for k, v in r.items()))
                   for r in rows)


def compare(response_rows: list[dict], oracle_rows: list[dict]) -> str | None:
    """None when the rows agree, else a short description of the first
    difference."""
    got = [flatten(r) for r in response_rows]
    want = [json.loads(json.dumps({k: _json_value(v) for k, v in r.items()}))
            for r in oracle_rows]
    got_cols = sorted(got[0]) if got else None
    want_cols = sorted(want[0]) if want else None
    if got and want and got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = multiset(got), multiset(want)
    if g != w:
        return (f"values response-only={list((g - w).items())[:2]} "
                f"oracle-only={list((w - g).items())[:2]}")
    return None


def _duckdb(data_dir: str):
    """DuckDB connection with one view per fixture table."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


class Oracle:
    """DuckDB views of the fixture, plus printer cubes bound to no
    session (printing SQL needs no Spark)."""

    def __init__(self, data_dir: str) -> None:
        from activecube_graphql_spark.cubes import (DocsCube, EventsCube,
                                                    SalesCube)
        self.con = _duckdb(data_dir)
        self.cubes = {"sales": SalesCube(None, "/"),
                      "events": EventsCube(None, "/"),
                      "documents": DocsCube(None, "/")}

    def rows(self, cube: str, document: str, variables: dict) -> list[dict]:
        from activecube_graphql_spark.graphql import graphql_query
        sql = graphql_query(self.cubes[cube], document,
                            variables).build_query().relabeled_sql()
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def close(self) -> None:
        self.con.close()


# -- pipeline rows ---------------------------------------------------------

def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def digest(cols: list[str], rows: list) -> str:
    """Digest of a result: its column names and the canonical row
    multiset of ``tools/verify_local.py`` (order-insensitive, floats
    bit-exact)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from verify_local import rows_multiset
    multiset = sorted(rows_multiset(cols, rows).items())
    return _sha256(json.dumps([sorted(cols), multiset]))


def data_sha256(data_dir: str) -> str:
    """Identity of the fixture: a hash over every table file's bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


class PipelineOracle:
    """Expected digests of pipeline rows: from ``expected.json`` when its
    key still matches, else from DuckDB now."""

    def __init__(self, data_dir: str) -> None:
        import __spark_entry__
        self.data_dir = data_dir
        self.sql = __spark_entry__.oracle_sql()
        try:
            with open(EXPECTED) as fh:
                record = json.load(fh)
        except FileNotFoundError:
            record = {}
        fresh = record.get("data_sha256") == data_sha256(data_dir)
        self.stored = {
            row: e["digest"] for row, e in record.get("rows", {}).items()
            if fresh and row in self.sql
            and e["oracle_sha256"] == _sha256(self.sql[row])}
        self._con = None

    def digest(self, row: str) -> str:
        if row not in self.stored:
            print(f"[perfbench] no stored digest for {row}; running its "
                  "oracle on DuckDB", file=sys.stderr)
            self.stored[row] = self.live(row)
        return self.stored[row]

    def live(self, row: str) -> str:
        if self._con is None:
            self._con = _duckdb(self.data_dir)
        table = self._con.execute(self.sql[row]).fetch_arrow_table()
        return digest(table.schema.names,
                      [tuple(r.values()) for r in table.to_pylist()])

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def refresh(rows: tuple[str, ...], data_dir: str = DATA_DIR) -> None:
    """Recompute ``expected.json`` on DuckDB for ``rows``."""
    oracle = PipelineOracle(data_dir)
    try:
        record = {"data_sha256": data_sha256(data_dir),
                  "rows": {row: {"oracle_sha256": _sha256(oracle.sql[row]),
                                 "digest": oracle.live(row)}
                           for row in rows}}
    finally:
        oracle.close()
    with open(EXPECTED, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--refresh"]:
        sys.exit("usage: python3 perfbench/oracle.py --refresh")
    sys.path.insert(0, ROOT)
    import workload
    refresh(workload.PIPELINE_ROWS)

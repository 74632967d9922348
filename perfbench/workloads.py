"""The benchmark's two workloads and their correctness checks.

Each workload is a fixed list of operations. An operation's ``call``
is the public call a user makes: a registry query function, or an
``operators.layout`` function. A call that returns a DataFrame is a read
and is fetched in full by the runner; any other call is a write.

- ``queries`` runs registry queries (the ``OLAP`` and ``CURATION``
  groups) against the bundled tables. The seed fixes the order of the
  operations within a pass. Every result is compared with the query's
  DuckDB oracle, computed once during set-up, using ``tests/canonical.py``.
- ``lakehouse`` runs a seeded mutation/read sequence against an 8-file
  manifest table built from ``events``. The same sequence is replayed in
  DuckDB during set-up; every read and every mutation's row count are
  compared with the replay.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: TPC-H-style joins and aggregates: short plans whose time is mostly
#: fixed per-query cost (construction, Catalyst, job scheduling)
OLAP = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q21_sole_late_supplier",
    "window_topk_orders_per_customer",
]

#: LLM-data curation: executor CPU, shuffle and the Python worker boundary
CURATION = [
    "sim_neardup_pairs",
    "udf_udtf_chunk_text",
    "udf_pandas_scalar_bytelen",
]

LAKE_COLS = ["event_id", "user_id", "event_type", "value"]
LAKE_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"
LAKE_FILES = 8


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    call: Callable[[], object]
    expected: object = None
    params: dict = field(default_factory=dict)
    #: the layer the call itself belongs to: query construction
    #: (``queries``/``catalog``) or ``operators.layout``
    layer: str = "construct"


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canonical_digest(pdf: pd.DataFrame) -> tuple:
    """(row count, rounded value sum, sha256 of the canonical rows)."""
    from tests.canonical import canonical_rows

    rows = canonical_rows(pdf)
    total = round(float(pdf["value"].sum()), 4) if "value" in pdf and len(pdf) else 0.0
    return len(rows), total, hashlib.sha256(repr(rows).encode()).hexdigest()


class QueryWorkload:
    """Registry queries; the seed shuffles their order within a pass."""

    def __init__(self, name: str, queries: list[str], sf_dir: str, seed: int) -> None:
        self.name = name
        self.sf_dir = sf_dir
        self.order = list(queries)
        random.Random(seed).shuffle(self.order)
        self.oracle: dict[str, pd.DataFrame] = {}

    def setup(self, spark, work: Path) -> dict:
        from dbt_slabbing_spark.queries import registry

        self.spark = spark
        self.registry = registry()
        t0 = time.perf_counter()
        con = duck_connect(self.sf_dir)
        try:
            for q in self.order:
                self.oracle[q] = con.sql(self.registry[q].oracle).df()
        finally:
            con.close()
        return {"oracle_s": time.perf_counter() - t0, "table_build_s": 0.0}

    def begin_pass(self, k: int) -> list[Op]:
        fn = {q: self.registry[q].fn for q in self.order}
        return [
            Op(q, "read", (lambda f=fn[q]: f(self.spark, self.sf_dir)), self.oracle[q])
            for q in self.order
        ]

    def check(self, op: Op, out) -> None:
        from tests.canonical import assert_frames_match

        assert_frames_match(out, op.expected, op.name)

    def end_pass(self) -> dict:
        return {}

    def close(self) -> None:
        pass


def lakehouse_plan(seed: int, n_rows: int, n_users: int, event_types: list[str]) -> list[dict]:
    """The seeded operation sequence of one ``lakehouse`` pass.

    ``event_id`` runs 0..n_rows-1 in the source and stays a record key
    through every step: appends and merge inserts take fresh ids above
    it, and no step changes an id."""
    rng = random.Random(seed)

    def rows(ids):
        return [
            (i, rng.randrange(n_users), rng.choice(event_types), round(rng.uniform(0, 500), 2))
            for i in ids
        ]

    span = max(1, n_rows // 100)
    lo_upd = rng.randrange(0, n_rows - 5 * span)
    merged = sorted(rng.sample(range(n_rows), 4 * span // 10 or 1))
    return [
        {"op": "append", "rows": rows(range(n_rows + 1_000_000, n_rows + 1_000_000 + 2 * span))},
        {"op": "merge_cow", "rows": rows(merged) + rows(range(n_rows + 2_000_000, n_rows + 2_000_000 + len(merged)))},
        {"op": "delete_dv", "where": f"user_id = {rng.randrange(n_users)}"},
        {
            "op": "update_dv",
            "where": f"event_type = '{rng.choice(event_types)}' AND event_id BETWEEN {lo_upd} AND {lo_upd + 5 * span - 1}",
            "set": {"value": "value + 1.5"},
        },
        {"op": "read_full"},
        {"op": "read_changes"},
        {"op": "compact"},
        {"op": "read_compacted"},
    ]


def replay(con, plan: list[dict]) -> list[object]:
    """Expected outcome of each step, replayed in DuckDB over table ``t``
    (the source rows). Every step's deleted and inserted rows go to a
    change log, because ``read_changes`` reports per-commit changes: a row
    inserted and deleted inside the range appears as both."""
    cols = ", ".join(LAKE_COLS)
    con.execute(f"CREATE TABLE changes AS SELECT {cols}, '' AS _change_type FROM t LIMIT 0")

    def digest(sql):
        return canonical_digest(con.sql(sql).df())

    def delete(where):
        con.execute(f"INSERT INTO changes SELECT {cols}, 'delete' FROM t WHERE {where}")
        n = con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]
        con.execute(f"DELETE FROM t WHERE {where}")
        return n

    def insert(rows):
        con.executemany(f"INSERT INTO t ({cols}) VALUES (?, ?, ?, ?)", rows)
        con.executemany(f"INSERT INTO changes VALUES (?, ?, ?, ?, 'insert')", rows)

    out = []
    for st in plan:
        op = st["op"]
        if op == "append":
            insert(st["rows"])
            out.append(None)
        elif op == "merge_cow":
            ids = [r[0] for r in st["rows"]]
            n_upd = delete(f"event_id IN ({', '.join(map(str, ids))})")
            insert(st["rows"])
            out.append({"rows_updated": n_upd, "rows_inserted": len(ids) - n_upd})
        elif op == "delete_dv":
            out.append({"rows_deleted": delete(st["where"])})
        elif op == "update_dv":
            con.execute(f"CREATE TEMP TABLE upd AS SELECT * FROM t WHERE {st['where']}")
            n = delete(st["where"])
            sets = ", ".join(f"{v} AS {k}" for k, v in st["set"].items())
            rows = con.execute(f"SELECT * REPLACE ({sets}) FROM upd").fetchall()
            con.execute("DROP TABLE upd")
            insert(rows)
            out.append({"rows_updated": n})
        elif op in ("read_full", "read_compacted"):
            out.append(digest(f"SELECT {cols} FROM t"))
        elif op == "read_changes":
            out.append(digest("SELECT * FROM changes"))
        elif op == "compact":
            out.append(None)
        else:
            raise ValueError(f"unknown lakehouse step {op!r}")
    return out


def dir_files(d: Path) -> dict[str, int]:
    """Relative path -> size of every regular file under ``d``."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, d)] = os.path.getsize(p)
    return out


class LakehouseWorkload:
    """Seeded writes beside reads on one manifest table."""

    name = "lakehouse"

    def __init__(self, sf_dir: str, seed: int) -> None:
        self.sf_dir = sf_dir
        self.seed = seed

    def setup(self, spark, work: Path) -> dict:
        from dbt_slabbing_spark.catalog import table
        from dbt_slabbing_spark.operators import layout

        self.spark, self.layout, self.work = spark, layout, work
        t0 = time.perf_counter()
        con = duck_connect(self.sf_dir)
        try:
            con.execute(f"CREATE TABLE t AS SELECT {', '.join(LAKE_COLS)} FROM events")
            n_rows, n_users = con.execute("SELECT count(*), max(user_id) + 1 FROM t").fetchone()
            types = [r[0] for r in con.execute("SELECT DISTINCT event_type FROM t ORDER BY 1").fetchall()]
            self.plan = lakehouse_plan(self.seed, n_rows, n_users, types)
            self.expected = replay(con, self.plan)
        finally:
            con.close()
        oracle_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.base = work / "lake_base"
        shutil.rmtree(self.base, ignore_errors=True)
        src = (
            table(spark, self.sf_dir, "events")
            .select(*LAKE_COLS)
            .repartitionByRange(LAKE_FILES, "event_id")
            .sortWithinPartitions("event_id")
        )
        layout.append_files(spark, str(self.base / "t"), src)
        self.base_version = max(layout.manifest_versions(str(self.base / "t")))
        files = dir_files(self.base / "t")
        self.bytes_per_row = sum(v for n, v in files.items() if n.endswith(".parquet")) / n_rows
        by_op = {st["op"]: exp for st, exp in zip(self.plan, self.expected)}
        self.n_live = by_op["read_full"][0]
        return {"oracle_s": oracle_s, "table_build_s": time.perf_counter() - t0}

    def begin_pass(self, k: int) -> list[Op]:
        """Copy the built table (outside any timing) and bind the steps."""
        d = self.work / f"lake_pass{k}"
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.base, d)
        self.t = str(d / "t")
        self.pass_dir = d
        return [self._bind(st, exp) for st, exp in zip(self.plan, self.expected)]

    def _bind(self, st: dict, expected) -> Op:
        lay, spark, op = self.layout, self.spark, st["op"]
        t = self.t
        calls = {
            "append": lambda: lay.append_files(spark, t, spark.createDataFrame(st["rows"], LAKE_SCHEMA)),
            "merge_cow": lambda: lay.merge_rows(
                spark, t, spark.createDataFrame(st["rows"], LAKE_SCHEMA), on="event_id", mode="cow"
            ),
            "delete_dv": lambda: lay.delete_rows(spark, t, st["where"], mode="dv"),
            "update_dv": lambda: lay.update_rows(spark, t, st["where"], st.get("set", {}), mode="dv"),
            "read_full": lambda: lay.read_table(spark, t).select(*LAKE_COLS),
            "read_compacted": lambda: lay.read_table(spark, t).select(*LAKE_COLS),
            "read_changes": lambda: lay.read_changes(
                spark, t, self.base_version, max(lay.manifest_versions(t))
            ).select(*LAKE_COLS, "_change_type"),
            "compact": lambda: lay.compact_table(spark, t),
        }
        kind = "read" if op.startswith("read") else "write"
        return Op(op, kind, calls[op], expected, st, layer="layout")

    def check(self, op: Op, out) -> None:
        if op.kind == "read":
            got = canonical_digest(out)
        elif op.expected is None:
            return
        else:
            got = {k: out.get(k) for k in op.expected}
        if got != op.expected:
            raise AssertionError(f"{op.name}: got {got}, expected {op.expected}")

    def source_bytes(self, op: Op) -> float:
        """Bytes of the source rows a write touches: the rows it adds or
        changes times the built table's bytes per row."""
        st, exp = op.params, op.expected
        if op.name in ("append", "merge_cow"):
            rows = len(st["rows"])
        elif op.name in ("delete_dv", "update_dv"):
            rows = sum(exp.values())
        else:  # compact rewrites every live row
            rows = self.n_live
        return rows * self.bytes_per_row

    def end_pass(self) -> dict:
        """Space amplification: table directory bytes over the bytes of the
        data files live in the latest snapshot (displaced files and DVs
        count as overhead)."""
        live = self.layout.table_files(self.spark, self.t).toPandas()
        out = {
            "space_amp": sum(dir_files(Path(self.t)).values()) / live["size_bytes"].sum(),
            "live_files": len(live),
            "dv_files": int(live["n_dv_files"].sum()),
            "manifest_versions": len(self.layout.manifest_versions(self.t)),
        }
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        return out

    def close(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


def make_workload(name: str, sf_dir: str, seed: int):
    if name == "queries":
        return QueryWorkload("queries", OLAP + CURATION, sf_dir, seed)
    if name == "lakehouse":
        return LakehouseWorkload(sf_dir, seed)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("queries", "lakehouse")

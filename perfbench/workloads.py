"""The workloads: each builds its inputs from the seed, sets up its
store, runs one op at a time and checks what the engine returned.

An op returns an ``OpResult``; ``ok=False`` counts it as failed.  A
workload may also find failed ops only at the end of the run
(``verify``), and attribute them to the op that wrote the wrong data.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from dataclasses import dataclass
from typing import Dict, List, Optional, Set

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen


@dataclass
class OpResult:
    rows: int  # rows handled: records accepted or rows returned
    ok: bool = True
    input_bytes: int = 0  # JSON bytes the op fed to the engine


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def file_state(path: str) -> Dict[str, tuple]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Workload:
    name = ""

    def __init__(self, spark, seed: int, workdir: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tr = tracer
        self.setup_ok = True
        self.notes: Dict[str, object] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> object:
        """Op ``i``'s inputs, built before its timer starts."""
        return None

    def op(self, i: int, prepared: object) -> OpResult:
        raise NotImplementedError

    def verify(self, op_ids: List[int]) -> Set[int]:
        """Failed op ids found after the run."""
        return set()

    def store_bytes_per_row(self) -> float:
        raise NotImplementedError

    def layer_before(self) -> object:
        return None

    def layer_after(self, before: object, result: OpResult) -> Dict[str, float]:
        return {}

    def run_end_counters(self) -> Dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# merge_ingest
# ---------------------------------------------------------------------------

MERGE_SF = 0.02  # 30k orders, ~120k line items
MERGE_BATCH = 2000  # records per op
MERGE_STALE = 100  # of which re-sends below the cursor
CURSOR_BASE = 10_000_000
ROOT_COLS = ["o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority",
             "o_orderstatus", "o_totalprice", "updated_at"]
LINE_COLS = ["l_discount", "l_extendedprice", "l_linenumber", "l_linestatus",
             "l_partkey", "l_quantity", "l_returnflag", "l_shipdate", "l_suppkey", "l_tax"]


def _json_friendly(tbl: pa.Table) -> pa.Table:
    """Types a JSON round trip preserves: int64, double, string (dates as
    ``YYYY-MM-DD``), so the base load and the dict batches infer alike."""
    cols = {}
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.strftime(col, "%Y-%m-%d")
        elif pa.types.is_integer(col.type):
            col = col.cast(pa.int64())
        cols[name] = col
    return pa.table(cols)


class MergeIngest(Workload):
    """One ``Pipeline.run`` of one batch of nested dicts per op, merged
    (delete-insert) by primary key under an incremental cursor."""

    name = "merge_ingest"

    def make_inputs(self) -> str:
        """Write the base table and build the model; no Spark needed."""
        t = datagen.tpch_tables(self.seed, MERGE_SF)
        orders = _json_friendly(t["orders"])
        lines = _json_friendly(t["lineitem"])
        self.n_keys = orders.num_rows
        rng = np.random.default_rng([self.seed, 10])
        orders = orders.append_column(
            "updated_at", pa.array(rng.permutation(self.n_keys).astype(np.int64))
        )
        self.lines_per_key = datagen.lines_per_order(self.n_keys)
        nested = datagen.nested_orders(orders.select(ROOT_COLS), lines.select(["l_orderkey"] + LINE_COLS))
        os.makedirs(self.workdir, exist_ok=True)
        base_path = os.path.join(self.workdir, "merge_base.parquet")
        pq.write_table(nested, base_path)
        # the independent model: key -> expected record, and who wrote it
        self.expected: Dict[int, dict] = {r["o_orderkey"]: r for r in nested.to_pylist()}
        self.last_writer: Dict[int, int] = {}
        self.cursor = int(orders.column("updated_at").to_numpy().max())
        self.stale_resends = 0
        return base_path

    def setup(self) -> None:
        import dlt_spark

        base_path = self.make_inputs()
        self.store_dir = os.path.join(self.workdir, "store")
        self.pipe = dlt_spark.pipeline("merge_ingest", self.store_dir, "ingest", self.spark)
        self.root_dir = self.pipe.store.root
        base = dlt_spark.resource(
            self.spark.read.parquet(base_path), name="orders",
            write_disposition="merge", primary_key="o_orderkey",
            incremental=dlt_spark.incremental("updated_at"),
        )
        self.pipe.run(base)

    def batch(self, i: int) -> List[dict]:
        """Op ``i``'s records: fresh updates above the cursor for keys the
        seed picks, then stale re-sends below it for other keys."""
        rng = np.random.default_rng([self.seed, 11, i])
        keys = rng.choice(self.n_keys, MERGE_BATCH, replace=False)
        fresh = MERGE_BATCH - MERGE_STALE
        out = []
        for j, key in enumerate(keys.tolist()):
            stale = j >= fresh
            cur = (self.cursor - 1 - (j - fresh)) if stale else CURSOR_BASE + i * MERGE_BATCH + j
            n = int(self.lines_per_key[key])
            out.append({
                "o_custkey": int(rng.integers(0, datagen.sizes(MERGE_SF)["customer"])),
                "o_orderdate": str(datagen.EPOCH_DAY + dt.timedelta(days=int(rng.integers(0, datagen.ORDER_DAYS)))),
                "o_orderkey": key,
                "o_orderpriority": str(datagen.PRIORITIES[rng.integers(0, 5)]),
                "o_orderstatus": "S" if stale else str(datagen.STATUSES[rng.integers(0, 3)]),
                "o_totalprice": round(float(rng.uniform(1000, 500_000)), 2),
                "updated_at": cur,
                "lineitems": [
                    {
                        "l_discount": int(rng.integers(0, 11)) / 100.0,
                        "l_extendedprice": round(float(rng.uniform(900, 105_000)), 2),
                        "l_linenumber": k + 1,
                        "l_linestatus": str(datagen.LINESTATUS[rng.integers(0, 2)]),
                        "l_partkey": int(rng.integers(0, datagen.sizes(MERGE_SF)["part"])),
                        "l_quantity": float(rng.integers(1, 51)),
                        "l_returnflag": str(datagen.RETURNFLAGS[rng.integers(0, 3)]),
                        "l_shipdate": str(datagen.EPOCH_DAY + dt.timedelta(days=int(rng.integers(0, datagen.ORDER_DAYS)))),
                        "l_suppkey": int(rng.integers(0, datagen.sizes(MERGE_SF)["supplier"])),
                        "l_tax": int(rng.integers(0, 9)) / 100.0,
                    }
                    for k in range(n)
                ],
            })
        return out

    def prepare(self, i: int) -> tuple:
        records = self.batch(i)
        return records, sum(len(json.dumps(r)) for r in records)

    def op(self, i: int, prepared: tuple) -> OpResult:
        import dlt_spark

        records, in_bytes = prepared

        def feed():
            yield from records

        res = dlt_spark.resource(
            feed, name="orders", write_disposition="merge", primary_key="o_orderkey",
            incremental=dlt_spark.incremental("updated_at"),
        )
        with self.tr.span("pipeline.run"):
            self.pipe.run(res)
        accepted = 0
        for r in records:
            if r["updated_at"] >= self.cursor:
                self.expected[r["o_orderkey"]] = r
                self.last_writer[r["o_orderkey"]] = i
                accepted += 1
            else:
                self.stale_resends += 1
        self.cursor = max(self.cursor, max(r["updated_at"] for r in records))
        return OpResult(rows=accepted, input_bytes=in_bytes)

    def verify(self, op_ids: List[int]) -> Set[int]:
        """Compare the stored tables with the model built from the
        generated batches; a wrong key fails the op that last wrote it."""
        ds = self.pipe.dataset()
        root = ds.orders.select(*(ROOT_COLS + ["_dlt_id"])).arrow().to_pylist()
        child = ds.orders__lineitems.select(*(LINE_COLS + ["_dlt_root_id", "_dlt_list_idx"])).arrow().to_pylist()
        failed: Set[int] = set()
        last_op = max(op_ids) if op_ids else -1
        problems: Dict[str, int] = {}

        def fail(kind: str, key: Optional[int]) -> None:
            problems[kind] = problems.get(kind, 0) + 1
            writer = self.last_writer.get(key, -1) if key is not None else last_op
            if writer < 0 or writer not in op_ids:
                self.setup_ok = False
            else:
                failed.add(writer)

        by_id = {}
        seen_keys = set()
        for r in root:
            key = r["o_orderkey"]
            by_id[r["_dlt_id"]] = key
            if key in seen_keys:
                fail("duplicate_key", key)
            seen_keys.add(key)
            exp = self.expected.get(key)
            if exp is None or any(r[c] != exp[c] for c in ROOT_COLS):
                fail("root_value", key)
            if r["o_orderstatus"] == "S":
                fail("stale_landed", key)
        for key in set(self.expected) - seen_keys:
            fail("missing_key", key)
        lines: Dict[int, list] = {}
        for c in child:
            key = by_id.get(c["_dlt_root_id"])
            if key is None:
                fail("orphan_child", None)
                continue
            lines.setdefault(key, []).append(c)
        for key, exp in self.expected.items():
            got = sorted(lines.get(key, []), key=lambda c: c["_dlt_list_idx"])
            want = exp["lineitems"]
            if len(got) != len(want) or any(
                g[c] != w[c] for g, w in zip(got, want) for c in LINE_COLS
            ):
                fail("child_value", key)
        import dlt_spark

        committed = dlt_spark.attach("merge_ingest", self.store_dir, "ingest", self.spark)
        stored = committed.state.resource_state("ingest", "orders")["incremental"]["last_value"]
        loaded_max = max(r["updated_at"] for r in root)
        if not (stored == loaded_max == self.cursor):
            fail("cursor", None)
        self.notes["verify_problems"] = problems
        self.notes["stale_resends"] = self.stale_resends
        return failed

    def store_bytes_per_row(self) -> float:
        return dir_bytes(self.root_dir) / self.n_keys

    def layer_before(self):
        return file_state(self.root_dir)

    def layer_after(self, before, result: OpResult) -> Dict[str, float]:
        after = file_state(self.root_dir)
        new = [p for p, st in after.items() if before.get(p) != st]
        written = sum(after[p][0] for p in new)
        commits = sum(1 for p in new if os.sep + "_log" + os.sep in p and p.endswith(".json"))
        return {
            "store.commits": commits,
            "store.files_written": len(new),
            "store.bytes_written": written,
            "store.write_amp": written / result.input_bytes if result.input_bytes else 0.0,
        }

    def run_end_counters(self) -> Dict[str, float]:
        n = 0
        for t in ("_dlt_loads", "_dlt_version", "_dlt_pipeline_state"):
            d = os.path.join(self.root_dir, t)
            if os.path.isdir(d):
                n += sum(1 for e in os.listdir(d) if e.startswith("v_"))
        return {"store.control_dirs": n}


# ---------------------------------------------------------------------------
# relation_reads
# ---------------------------------------------------------------------------

READ_SF = 0.02
WINDOW_DAYS = 61  # date window of every ranged read (~2.5% of orders)
ARROW_ROWS = 10_000  # key range of the Arrow projection
READ_VARIANTS = 6  # predicate sets per run; ops cycle through them


def _canon(rows) -> List[tuple]:
    def cell(v):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        if isinstance(v, float) and math.isnan(v):
            return None
        return v

    return sorted(tuple(cell(v) for v in r) for r in rows)


class RelationReads(Workload):
    """One dashboard refresh per op: a fixed list of ``Dataset`` and
    ``Relation`` reads that each hand results back to Python, ending with
    one registry analytic (PageRank) over the loaded line items."""

    name = "relation_reads"

    def make_inputs(self) -> List[str]:
        """Write the per-year and flat source files and compute every
        variant's expected results with DuckDB; no Spark needed."""
        import duckdb

        import __spark_entry__ as entry

        t = datagen.tpch_tables(self.seed, READ_SF)
        orders, lines, customer = t["orders"], t["lineitem"], t["customer"]
        nested = datagen.nested_orders(orders, lines)
        self.src = os.path.join(self.workdir, "src")
        os.makedirs(self.src, exist_ok=True)
        years = pc.year(nested["o_orderdate"])
        year_paths = []
        for y in datagen.ORDER_YEARS:
            p = os.path.join(self.src, f"orders_{y}.parquet")
            pq.write_table(nested.filter(pc.equal(years, y)), p)
            year_paths.append(p)
        for name, tbl in (("orders", orders), ("lineitem", lines), ("customer", customer)):
            pq.write_table(tbl, os.path.join(self.src, f"flat_{name}.parquet"))
        self.n_orders = orders.num_rows
        self.expected_counts = {
            "customer": customer.num_rows, "orders": orders.num_rows,
            "orders__lineitems": lines.num_rows,
        }

        con = duckdb.connect()
        for name in ("orders", "lineitem", "customer"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.src}/flat_{name}.parquet')"
            )
        rng = np.random.default_rng([self.seed, 20])
        self.variants = []
        for _ in range(READ_VARIANTS):
            lo = datagen.EPOCH_DAY + dt.timedelta(days=int(rng.integers(0, datagen.ORDER_DAYS - WINDOW_DAYS)))
            v = {
                "lo": dt.datetime.combine(lo, dt.time()),
                "hi": dt.datetime.combine(lo + dt.timedelta(days=WINDOW_DAYS), dt.time()),
                "cust": int(rng.integers(0, customer.num_rows)),
                "k0": int(rng.integers(0, self.n_orders - ARROW_ROWS)),
            }
            v["expect"] = self._expected(con, v)
            self.variants.append(v)
        self.expected_max = con.execute("SELECT max(o_orderdate) FROM orders").fetchone()[0]
        self.expected_ranks = sorted(con.sql(entry.oracle_sql()["pagerank"]).fetchall())
        con.close()
        return year_paths

    def setup(self) -> None:
        import dlt_spark

        year_paths = self.make_inputs()
        self.pipe = dlt_spark.pipeline(
            "relation_reads", os.path.join(self.workdir, "store"), "reads", self.spark
        )
        self.root_dir = self.pipe.store.root
        for p in year_paths:
            self.pipe.run(dlt_spark.resource(
                self.spark.read.parquet(p), name="orders", write_disposition="append",
                columns={"o_orderdate": {"name": "o_orderdate", "sort": True}},
            ))
        info = self.pipe.run(dlt_spark.resource(
            self.spark.read.parquet(os.path.join(self.src, "flat_customer.parquet")),
            name="customer", write_disposition="replace",
        ))
        self.last_load_id = info.load_id
        self.ds = self.pipe.dataset()

    @staticmethod
    def _query_sql(lo, hi, lineitem: str, join_on: str) -> str:
        return (
            "SELECT o.o_orderpriority, count(*) AS n, sum(l.l_quantity) AS qty, "
            "max(l.l_extendedprice) AS top_price "
            f"FROM orders o JOIN {lineitem} l ON {join_on} "
            f"WHERE o.o_orderdate >= TIMESTAMP '{lo:%Y-%m-%d %H:%M:%S}' "
            f"AND o.o_orderdate < TIMESTAMP '{hi:%Y-%m-%d %H:%M:%S}' "
            "GROUP BY o.o_orderpriority"
        )

    def _expected(self, con, v) -> dict:
        lo, hi = v["lo"], v["hi"]
        q = con.execute(self._query_sql(lo, hi, "lineitem", "l.l_orderkey = o.o_orderkey")).fetchall()
        top = con.execute(
            "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
            "WHERE o_orderdate >= ? AND o_orderdate < ? ORDER BY o_totalprice DESC LIMIT 100",
            [lo, hi],
        ).fetchall()
        join = con.execute(
            "SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice FROM orders o "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey = ?",
            [v["cust"]],
        ).fetchall()
        arrow = con.execute(
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
            "WHERE o_orderkey >= ? AND o_orderkey < ?",
            [v["k0"], v["k0"] + ARROW_ROWS],
        ).fetchall()
        return {"query": _canon(q), "top": top, "join": _canon(join), "arrow": _canon(arrow)}

    def op(self, i: int, prepared: object) -> OpResult:
        v = self.variants[i % READ_VARIANTS]
        ds, tr = self.ds, self.tr
        with tr.span("dash.query"):
            q = ds.query(self._query_sql(
                v["lo"], v["hi"], "orders__lineitems", "l._dlt_parent_id = o._dlt_id"
            )).fetchall()
        with tr.span("dash.where_fetch"):
            top = (
                ds.orders.where("o_orderdate", "gte", v["lo"]).where("o_orderdate", "lt", v["hi"])
                .order_by("o_totalprice", "desc").limit(100)
                .select("o_orderkey", "o_totalprice", "o_orderdate").fetchall()
            )
        with tr.span("dash.join_fetch"):
            join = (
                ds.orders.where("o_custkey", "eq", v["cust"]).join(ds.orders__lineitems)
                .select("o_orderkey", "l_linenumber", "l_extendedprice").fetchall()
            )
        with tr.span("dash.row_counts"):
            counts = dict(ds.row_counts().fetchall())
        with tr.span("dash.max"):
            top_date = ds.orders.select("o_orderdate").max()
        with tr.span("dash.arrow"):
            tbl = (
                ds.orders.where("o_orderkey", "gte", v["k0"]).where("o_orderkey", "lt", v["k0"] + ARROW_ROWS)
                .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate").arrow()
            )
        with tr.span("dash.latest_load_id"):
            latest = ds.latest_load_id
        with tr.span("dataops.pagerank", jobs=True):
            with tr.span("dataops.pagerank.construct", jobs=True):
                ranked = self._supply_rank(ds.orders__lineitems.select("l_partkey", "l_suppkey").spark_df())
            with tr.span("dataops.pagerank.execute", jobs=True):
                ranks = ranked.collect()

        exp = v["expect"]
        ok = (
            _canon(q) == exp["query"]
            and _top_matches(top, exp["top"])
            and _canon(join) == exp["join"]
            and counts == self.expected_counts
            and top_date == self.expected_max
            and _canon(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names))) == exp["arrow"]
            and latest == self.last_load_id
            and sorted(tuple(r) for r in ranks) == self.expected_ranks
        )
        rows = len(q) + len(top) + len(join) + len(counts) + 1 + tbl.num_rows + 1 + len(ranks)
        return OpResult(rows=rows, ok=ok)

    @staticmethod
    def _supply_rank(lines):
        """Top-20 PageRank of the part<->supplier graph of the loaded line
        items: the registry's ``pagerank`` query, fed from the store."""
        from pyspark.sql import functions as F

        from dlt_spark.dataops.graph import pagerank

        fwd = lines.select(
            F.col("l_partkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1_000_000_000)).alias("dst"),
        ).distinct()
        rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        return (
            pagerank(fwd.unionByName(rev), iters=3)
            .select("id", "rank_nano")
            .orderBy(F.desc("rank_nano"), F.col("id"))
            .limit(20)
        )

    def store_bytes_per_row(self) -> float:
        return dir_bytes(self.root_dir) / self.n_orders


def _top_matches(got, want) -> bool:
    """Top-100 by price: the price sequence must match exactly; rows tied
    on the last price may legitimately differ between engines."""
    if [r[1] for r in got] != [r[1] for r in want]:
        return False
    if not want:
        return True
    edge = want[-1][1]
    return sorted(tuple(r) for r in got if r[1] != edge) == sorted(
        tuple(r) for r in want if r[1] != edge
    )


WORKLOADS = {w.name: w for w in (MergeIngest, RelationReads)}

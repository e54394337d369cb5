"""``jobspec_batch``: ``graph.build.run_job`` on the flagship job spec
(``__spark_entry__.FLAGSHIP_SPEC``: lineitem ⋈ orders ⋈ customer, then
the grouped ``Customer``, ``Part`` and ``ORDERED`` targets), nodes and
relationships written to the ``noop`` sink, repeated for the measured
time.

Joins, GROUP BY and shuffles through the ``plans`` compiler, with no
decode and no streaming sink. The TPC-H-shaped tables are generated
from the seed at scale factor ``SF``; the last job's targets are
checked against the DuckDB ``oracle_sql()`` entries, and that job is
the one operation the result counts as attempted.
"""

from __future__ import annotations

import json
import os
import time

from harness import Bench, median, repeat_for

SF = 0.1
#: Job runs before timing. The first pays planning and code generation
#: cold; job times keep falling for some thirty runs while the JIT
#: compiles the hot paths (after twelve full runs, the next ten still
#: ran 10-15% slower than the jobs after them). Most of that is per-job
#: planning and scheduling code, so most warm runs read a small copy of
#: the tables (SF_WARM), at a third of a full run's cost; the last few
#: read the measured tables.
SF_WARM = 0.005
WARM_SMALL_RUNS = 20
WARM_RUNS = 3
ORACLE_QUERIES = {
    "jobspec_customer_nodes": ("Customer", ["custkey", "name",
                                            "mktsegment"]),
    "jobspec_part_nodes_agg": ("Part", ["partkey", "revenue", "total_qty"]),
    "jobspec_ordered_edges": ("ORDERED", ["custkey", "partkey", "qty",
                                          "n_lines"]),
}
TABLES = ("customer", "orders", "lineitem")


def write_tpch(out_dir: str, sf: float, seed: int) -> int:
    """Seeded customer/orders/lineitem parquet files with TPC-H's key
    structure (sparse order keys, a third of customers without orders,
    1-7 lines per order, 2-decimal prices). Returns the lineitem rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    os.makedirs(out_dir, exist_ok=True)

    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    pq.write_table(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), os.path.join(out_dir, "customer.parquet"))

    i = np.arange(n_ord, dtype=np.int64)
    ok = (i // 8) * 32 + (i % 8) + 1
    cust = rng.integers(1, n_cust + 1, n_ord)
    cust = np.where(cust % 3 == 0, cust % n_cust + 1, cust)
    day = np.datetime64("1992-01-01", "us")
    odate = day + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D")
    pq.write_table(pa.table({
        "o_orderkey": ok,
        "o_custkey": cust.astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"]
                                    )[rng.integers(0, 5, n_ord)],
    }), os.path.join(out_dir, "orders.parquet"))

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - start + 1).astype(np.int32)
    partkey = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1000)
              ) / 100.0
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pq.write_table(pa.table({
        "l_orderkey": l_ok,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, max(2, int(10_000 * sf)) + 1, n_li
                                  ).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": np.repeat(odate, lines)
        + rng.integers(1, 122, n_li) * np.timedelta64(1, "D"),
    }), os.path.join(out_dir, "lineitem.parquet"))
    return n_li


class Batch:
    def __init__(self, bench: Bench):
        self.b = bench
        self.data = bench.path("tpch")
        self.warm_data = bench.path("tpch_warm")

    def fixtures(self) -> None:
        self.n_lines = write_tpch(self.data, SF, self.b.seed)
        write_tpch(self.warm_data, SF_WARM, self.b.seed + 1)

    def _views(self, data: str) -> None:
        for t in TABLES:
            self.b.spark.read.parquet(os.path.join(data, f"{t}.parquet")
                                      ).createOrReplaceTempView(t)

    def run_once(self):
        """Parse the spec, build the graph, execute it into ``noop``."""
        from __spark_entry__ import FLAGSHIP_SPEC

        from dataflow_flex_templates_spark.graph import build
        from dataflow_flex_templates_spark.spec import parser

        spec = parser.parse_job_spec(json.dumps(FLAGSHIP_SPEC))
        res = build.run_job(self.b.spark, spec)
        with self.b.span("graph.execute"):
            for df in (res.nodes, res.relationships):
                df.write.format("noop").mode("overwrite").save()
        return res

    def warm_up(self) -> None:
        self._views(self.warm_data)
        for _ in range(WARM_SMALL_RUNS):
            self.run_once()
        self._views(self.data)
        for _ in range(WARM_RUNS):
            self.run_once()

    def timed_run(self):
        t0 = time.monotonic()
        res = self.run_once()
        return res, time.monotonic() - t0

    def measure(self) -> dict:
        started = time.monotonic()
        runs = repeat_for(self.b.seconds, self.timed_run, lambda r: r[1])
        walls = [w for _, w in runs]
        return {
            "last": runs[-1][0],
            "started": started,
            "samples": [round(w, 3) for w in walls],
            "ops": len(walls),
            "rows_per_s": self.n_lines / median(walls),
            "wall_s": sum(walls),
        }

    def oracle(self, result: dict) -> dict:
        import duckdb
        from __spark_entry__ import oracle_sql

        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            sql = oracle_sql()
            return {q: con.execute(sql[q]).df() for q in ORACLE_QUERIES}
        finally:
            con.close()

    def check(self, result: dict, oracle: dict
              ) -> tuple[int, int, list[str]]:
        """The last job's targets against DuckDB; returns (1 attempted,
        failed, mismatch messages). Only that job's output is checked,
        so only it counts: every job of the pass ran the same plan over
        the same tables, but checking each would re-run it."""
        from pyspark.sql import functions as F

        bad = []
        for q, (target, cols) in ORACLE_QUERIES.items():
            df = result["last"].target_frames[target]
            if "revenue" in cols:
                df = df.withColumn("revenue", F.round("revenue", 4))
            msg = frame_mismatch(df.select(*cols).toPandas(), oracle[q])
            if msg:
                bad.append(f"{q}: {msg}")
        return 1, (1 if bad else 0), bad


def frame_mismatch(got, want) -> str | None:
    """The repository's oracle rule (``testing.oracle.compare_frames``:
    same column names, same multiset of rows with floats rounded to 4
    places), vectorized for frames of a few hundred thousand rows.
    Returns None on a match, else a description."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} oracle rows"
    cols = sorted(got.columns)

    def canon(df):
        df = df[cols].copy()
        for c in cols:
            if pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].round(4)
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        return df.sort_values(cols).reset_index(drop=True)

    a, b = canon(got), canon(want)
    diff = ~((a == b) | (a.isna() & b.isna())).all(axis=1)
    if diff.any():
        i = int(diff.idxmax())
        return (f"{int(diff.sum())} rows differ, first: "
                f"{a.iloc[i].to_dict()} vs {b.iloc[i].to_dict()}")
    return None

"""warehouse_queries: the 22 registered ``tpch_*`` queries.

The tables are generated from the seed with the registry's star schema
(column set, types and value domains) and written as parquet; set-up
loads them through ``sources.tables.load_table``.  A pass runs every
query once, in an order the seed permutes; an op is one query: the
registry builder call, then ``collect``.  Each result must match its
DuckDB oracle under the same order-insensitive comparison
``tools/parity.py`` makes; the oracles are computed before set-up and
are not timed.
"""

from __future__ import annotations

import math
import os
import random
import shutil

import duckdb
import pyarrow.parquet as pq

import data
from harness import component_sizes, median

SIZES = component_sizes("warehouse_queries")

QUERIES = [
    "tpch_q1_pricing", "tpch_q2_min_cost_supplier", "tpch_q3_priority", "tpch_q4_priority_check",
    "tpch_q5_local_supplier", "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q9_product_profit", "tpch_q10_returned_items",
    "tpch_q11_important_parts", "tpch_q12_late_lines", "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue", "tpch_q15_top_supplier", "tpch_q16_supplier_count",
    "tpch_q17_small_qty_revenue", "tpch_q18_large_orders", "tpch_q19_disjunctive_filter",
    "tpch_q20_promotion_suppliers", "tpch_q21_waiting_suppliers", "tpch_q22_dormant_customers",
]


def canonical(rows, colnames) -> list[tuple]:
    """Columns sorted by name, values by repr (NaN spelled out), rows sorted:
    the comparison tools/parity.py applies."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


class WarehouseQueries:
    name = "warehouse_queries"

    def __init__(self, seed: int, size: str, work_dir: str, tracer, cpus: int) -> None:
        self.tracer = tracer
        self.sf_dir = os.path.join(work_dir, "warehouse")
        os.makedirs(self.sf_dir, exist_ok=True)
        for name, table in data.warehouse_tables(seed, SIZES[size]["sf"]).items():
            pq.write_table(table, os.path.join(self.sf_dir, f"{name}.parquet"))
        self.order = random.Random(seed).sample(QUERIES, len(QUERIES))
        self.reset_counters()

    def compute_oracle(self) -> None:
        from ub_etl_spark.registry import load_all

        registry = load_all()
        self.specs = {q: registry[q] for q in QUERIES}
        con = duckdb.connect()
        for f in os.listdir(self.sf_dir):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{self.sf_dir}/{f}'")
        self.expected = {}
        for q, spec in self.specs.items():
            res = con.execute(spec.oracle)
            self.expected[q] = (sorted(d[0] for d in res.description),
                                canonical(res.fetchall(), [d[0] for d in res.description]))
        con.close()

    def prepare(self, spark) -> None:
        from ub_etl_spark.sources.tables import load_table

        with self.tracer.span("sources.tables.load"):
            for f in sorted(os.listdir(self.sf_dir)):
                load_table(spark, self.sf_dir, f[:-8])

    def pass_items(self, pass_no: int) -> list[str]:
        return list(self.order)

    def run_op(self, spark, op_id: int, q: str):
        tr = self.tracer
        with tr.span(f"queries.{q}"):
            with tr.span("queries.build"):
                df = self.specs[q].fn(spark, self.sf_dir)
            with tr.span("queries.exec"):
                rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    @staticmethod
    def release(spark) -> None:
        """Free what a builder persisted, as tools/parity.py does between queries."""
        from ub_etl_spark.session import release_persisted

        release_persisted()

    def fetch(self, q: str, out) -> tuple:
        cols, rows = out
        return sorted(cols), canonical(rows, cols)

    @staticmethod
    def corrupt(res: tuple) -> tuple:
        cols, rows = res
        return cols, rows[1:] if rows else [("corrupt",)]  # one dropped row

    def check(self, q: str, res: tuple) -> bool:
        return res == self.expected[q]

    def final_check(self) -> bool:
        return True

    def stored_and_input_bytes(self) -> tuple[int, int]:
        return 0, 0  # writes nothing

    def reset_counters(self) -> None:
        """Per-layer numbers here all come from spans."""

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        out = {
            "sources.tables.load_s": median(tr.durations("sources.tables.load")),
            "queries.build_s": median(tr.durations("queries.build")),
            "queries.exec_s": median(tr.durations("queries.exec")),
        }
        out.update({f"queries.{q}_s": median(tr.durations(f"queries.{q}")) for q in QUERIES})
        return out

    def close(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)

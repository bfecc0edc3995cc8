"""The query part of the batch workload: a fixed list of
``plans.REGISTRY`` queries over corpus tables generated from the seed.

The list holds one query each of graph iteration, near-duplicate
search, TPC-H, event windows, app parity and multimodal; the other
slow queries of the full-registry sweep would each add seconds to
every run (see README.md). Each result is collected inside the timed
region; its order-insensitive digest is compared, outside it, with
DuckDB running the query's oracle SQL over the same tables."""

from __future__ import annotations

from perfbench import gen, reference
from perfbench.common import work_dir

QUERIES = (
    "graph_pagerank",
    "dedup_minhash",
    "q3_shipping_priority",
    "win_sliding",
    "app_alerts_windowed",
    "mm_image_meta",
)
SF = 0.005  # lineitem 30k rows


class Registry:
    """The generated tables, their oracle digests and the queries' runs."""

    def __init__(self, seed: int):
        from wally_spark.plans import REGISTRY
        from wally_spark.tables import TABLES

        self._registry = REGISTRY
        self.data = work_dir(f"registry-{seed}")
        self.table_rows = gen.registry_tables(seed, self.data, SF)
        self.want = reference.oracle_digests(
            self.data, TABLES, {q: REGISTRY[q].oracle for q in QUERIES})

    def run(self, spark, query: str):
        df = self._registry[query].spark_fn(spark, self.data)
        return df.columns, df.collect()

    def failures(self, query: str, out) -> int:
        columns, rows = out
        return int(reference.digest(columns, [tuple(r) for r in rows]) != self.want[query])

"""olap_star: read-only declared queries over a generated star schema.

Each op is one declared query from the registry: build the DataFrame
(planning + ``catalog`` loads) and run it to a pandas result — what an
interactive analyst waits for. No writes, no ``llm``/``versioned``
code: this is the control workload for write-path and LLM changes.

The mix is fixed; the seed orders it (a fresh seeded permutation per
pass) and generates the data. A round is ``PASSES`` full passes, so
every run samples the same query mix whatever its length. A query's
first execution in the run also compiles its plan.
"""

from __future__ import annotations

import hashlib
import os
import random

import duckdb

from perfbench import gen

SF = 0.02
# a round: the mix three times, each pass in a fresh seeded order. The
# first pass of a run also compiles each plan and runs ~2x slower; with
# two passes the median read sat between the compiling and the warm
# reads and moved ~15% from run to run, with three it is a warm read.
PASSES = 3
# TPC-H's star-schema core plus a sample of each other oracle-backed
# read-only family (joins, windows, events, aggregates); the demo
# bodies that build and commit tables (p_*, sim_index_*) stay out.
MIX = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "j_semi_urgent_customers",
    "w_topk_parts_per_brand",
    "e_sliding_hour_30m",
    "a_rollup_revenue",
)
WARMUP = ("q06_forecast_revenue", "a_histogram_bins")


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result under the FIXTURES.md §3
    canonicalization the repository's oracle comparison uses."""
    from tests.oracle_compare import canonicalize

    h = hashlib.sha256(",".join(sorted(c.lower() for c in pdf.columns)).encode())
    for row in canonicalize(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


class OlapStar:
    name = "olap_star"
    reads_per_round = PASSES * len(MIX)

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "inputs", "star")
        self.rng = random.Random(seed)
        self.rounds: list[list] = []  # per round: (query name, result frame)

    def generate(self) -> dict:
        return gen.gen_star(self.seed, self.data, SF)

    def prepare(self, spark, rec) -> None:
        from unity_to_bigquery_spark.registry import all_queries

        self.queries = all_queries()
        for name in WARMUP:
            self.queries[name].spark(spark, self.data).toPandas()

    def run_round(self, spark, rec) -> int:
        order = []
        for _ in range(PASSES):
            order += self.rng.sample(MIX, len(MIX))
        results = []
        for name in order:
            with rec.op("read", name):
                with rec.span("queries.build"):
                    df = self.queries[name].spark(spark, self.data)
                with rec.span("queries.exec"):
                    results.append((name, df.toPandas()))
        self.rounds.append(results)
        return 0

    def check(self) -> list[str]:
        """Each query's oracle SQL on DuckDB over the same files; every
        timed execution of the query must hash-match it."""
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        want = {name: result_hash(con.sql(self.queries[name].oracle).df()) for name in MIX}
        con.close()
        return [
            f"round {i}: {name} differs from the DuckDB oracle"
            for i, results in enumerate(self.rounds)
            for name, pdf in results
            if result_hash(pdf) != want[name]
        ]

    @staticmethod
    def layer_metrics(stats: list) -> dict:
        return {}

    @staticmethod
    def workload_metrics(stats: list) -> dict:
        return {}

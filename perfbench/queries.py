"""operator_queries: 13 driver-contract leaves, timed to a noop sink.

The leaves are the ``ops/`` (dedup, similarity) and ``graph/`` (fixpoint)
targets; no crawler or store code runs. They read the four sf0.01 test
tables of ``TESTDATA.md`` (``data/sf0.01``, unchanged copies), which are
read-only, so the seed only sets the order in which the timed unit runs
the leaves.

Set-up computes every leaf's ``oracle_sql()`` result
with DuckDB, and runs each leaf once with ``collect()``: that pass warms
the session and is the output check (same normalisation as
``scripts/check_oracle.py``). The timed unit is one pass over all 13
leaves, each written to the noop sink; its results are not compared, so
it counts no operations.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import __spark_entry__ as entry
from scripts.check_oracle import norm_rows

DEDUP = ["dedup_exact_groups", "dedup_minhash_lsh_candidates", "dedup_simhash",
         "dedup_canonical_docs", "doc_dup_ngram_fraction"]
FIXPOINT = ["component_size_hist", "landmark_hops", "sssp_cheapest_3hop",
            "pagerank_cust_supp", "kcore_cosupply"]
LEAVES = ["pricing_summary", *DEDUP, "cosine_topk_bruteforce", "ann_lsh_topk",
          *FIXPOINT]
# longest first (most jobs), so the parallel warm pass ends soonest
WARM_ORDER = ["component_size_hist", "pagerank_cust_supp", "dedup_canonical_docs",
              "kcore_cosupply", "landmark_hops", "sssp_cheapest_3hop",
              "doc_dup_ngram_fraction", "ann_lsh_topk", "dedup_minhash_lsh_candidates",
              "cosine_topk_bruteforce", "pricing_summary", "dedup_simhash",
              "dedup_exact_groups"]

# the sf0.01 test tables the leaves read, copied unchanged into the
# benchmark so a run reads only its checkout; at this size every leaf is
# bound by job latency and planning, which is what the fixpoint and dedup
# work targets
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "sf0.01")
TABLES = ("lineitem", "orders", "documents", "embeddings")


class OperatorQueries:
    setup_ops = len(LEAVES)  # output checks made during set-up

    def __init__(self, work: str, seed: int):
        self.dir = TABLES_DIR
        self.order = list(LEAVES)
        random.Random(seed).shuffle(self.order)
        self.fns = {q: entry.queries()[q] for q in LEAVES}
        self.setup_failures: list[str] = []
        self.facts: dict = {}

    def make_inputs(self) -> None:
        """Compute every leaf's oracle result."""
        import duckdb

        rows = {t: pq.read_metadata(os.path.join(self.dir, f"{t}.parquet")).num_rows
                for t in TABLES}
        self.docs_in = rows["documents"] * len(DEDUP)
        self.edges_in = rows["lineitem"] * len(FIXPOINT)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.dir, t)}.parquet'")
            oracles = entry.oracle_sql()
            self.want = {}
            for q in LEAVES:
                rel = con.sql(oracles[q])
                self.want[q] = (sorted(rel.columns),
                                norm_rows(rel.columns, rel.fetchall()))
        finally:
            con.close()

    def setup(self, spark) -> None:
        """The warm pass, which is also the output check. It is not timed,
        so the leaves run side by side to keep set-up short."""
        self.spark = spark
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = dict(zip(WARM_ORDER, pool.map(self._collect, WARM_ORDER)))
        for q, res in got.items():
            if isinstance(res, Exception):  # a failed leaf is a counted failure
                self.setup_failures.append(f"{q}: {type(res).__name__}: {res}")
                continue
            self.facts[f"rows.{q}"] = len(res[1])
            if res != self.want[q]:
                self.setup_failures.append(
                    f"{q}: {len(res[1])} rows differ from the oracle's "
                    f"{len(self.want[q][1])}")

    def _collect(self, q: str):
        try:
            df = self.fns[q](self.spark, self.dir)
            cols = df.columns
            rows = [[r[c] for c in cols] for r in df.collect()]
            return sorted(cols), norm_rows(cols, rows)
        except Exception as e:
            return e

    def prepare(self) -> None:
        pass

    def run_once(self, span=None) -> dict:
        """The timed unit: every leaf once, in the seed's order. Its
        throughputs are those of the two leaf groups: rows of ``documents``
        per second of the dedup leaves, and rows of ``lineitem`` (the edge
        source) per second of the fixpoint leaves."""
        steps = {}
        for q in self.order:
            t = time.perf_counter()
            with (span(f"queries.{q}") if span else contextlib.nullcontext()):
                self.fns[q](self.spark, self.dir).write.format("noop") \
                    .mode("overwrite").save()
            steps[q] = time.perf_counter() - t
        return {"docs_per_s": self.docs_in / sum(steps[q] for q in DEDUP),
                "triples_per_s": self.edges_in / sum(steps[q] for q in FIXPOINT),
                "ops": 0, "steps": steps}

    def check(self) -> list[str]:
        return []

    def describe(self) -> dict:
        return {"leaf_order": self.order, **self.facts}


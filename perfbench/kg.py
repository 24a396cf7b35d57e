"""kg_core_recrawl: the weekly re-crawl of the core crawlers into a lake
that already holds the graph.

Set-up (not timed) builds the *base* lake from the seeded corpus generator
``iyp_spark.fixtures_spark``: ``run_pipeline_batched`` over
``BENCH_CRAWLERS``, then every post pass. Each timed unit restores the
base lake and times the re-crawl of ``BENCH_CRAWLERS`` over the same
documents, followed by ``POST_ORDER``: the store's read-modify-write path
(``upsert_nodes`` merging into an existing dictionary, non-fresh
``replace_triples_multi`` and ``replace_triples``, ``enrich_nodes``,
``clean_links`` over the whole graph).

Checks after every unit: each re-crawled partition equals the same
partition of the base lake, which is a fresh build of the same documents,
and the digest of the whole store (every node and triple) equals the base
lake's. Node ids are ``xxhash64(label, key)``, so re-crawling the same
documents must leave the graph unchanged. The digest also repeats across
runs of one seed (``repeat_check.py``).
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from iyp_spark import fixtures, fixtures_spark, framework
from iyp_spark.crawlers import BENCH_CRAWLERS
from iyp_spark.post import POST_ORDER
from iyp_spark.store import GraphStore

# 28k documents: set-up and one timed unit must fit the per-run time
# budget on a 4-core host
SCALE = 10
_SEQ_STRIDE = 100_000  # fixtures_spark pads seq to 8 digits: keep it < 1e8


@contextlib.contextmanager
def seeded_generators(seed: int):
    """Make the corpus generators depend on ``seed``. ``fixtures`` keys its
    RNG with a fixed ``"seed42:<name>"`` and ``fixtures_spark`` hashes a
    row sequence that starts at 0; both are redirected here, from outside,
    for the duration of the block."""
    if SCALE * 1000 > _SEQ_STRIDE:
        raise ValueError("corpus too large for the sequence stride")
    offset = (seed % 997) * _SEQ_STRIDE
    base, rng = fixtures_spark._base, fixtures._rng

    def shifted_base(spark, name, n):
        return base(spark, name, n).withColumn(
            "seq", F.col("seq") + F.lit(offset)
        ).withColumn(
            "doc_id", F.concat(F.lit(name + "/"), F.lpad(F.col("seq"), 8, "0"))
        )

    fixtures_spark._base = shifted_base
    fixtures._rng = lambda name: random.Random(f"seed{seed}:{name}")
    try:
        yield
    finally:
        fixtures_spark._base, fixtures._rng = base, rng


def partition_digests(store: GraphStore, names: list[str]) -> dict[str, tuple]:
    """Order-insensitive digest (row count, sum of row hashes) of each
    named triples partition."""
    t = store.read_triples().filter(F.col("reference_name").isin(names))
    rows = (
        t.select("reference_name", _row_hash(t, ["props"]).alias("h"))
        .groupBy("reference_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()
    )
    return {r["reference_name"]: (r["n"], str(r["s"])) for r in rows}


def store_digest(store: GraphStore) -> tuple:
    """Digest of every node and every triple in the store."""
    out = []
    for df in (store.read_nodes(), store.read_triples()):
        r = df.select(_row_hash(df, ["props"]).alias("h")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
        out.append((r["n"], str(r["s"])))
    return tuple(out)


def _row_hash(df, map_cols: list[str]):
    cols = [F.to_json(c) if c in map_cols else F.col(c) for c in df.columns]
    return F.xxhash64(*cols).cast("decimal(38,0)")


class KgCoreRecrawl:
    setup_ops = 0  # output checks made during set-up

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.work = work
        self.crawlers = [c.NAME for c in BENCH_CRAWLERS]
        self.setup_failures: list[str] = []
        self.facts: dict = {}

    def make_inputs(self) -> None:
        """Nothing: the corpora are generated by Spark."""

    def setup(self, spark) -> None:
        self.base = GraphStore(spark, os.path.join(self.work, "base"))
        self.store = GraphStore(spark, os.path.join(self.work, "lake"))
        with seeded_generators(self.seed):
            self.base.write_documents(
                fixtures_spark.generate_corpus(spark, SCALE))
        framework.run_pipeline_batched(self.base, BENCH_CRAWLERS)
        for post in POST_ORDER:
            post(self.base).run()
        self.n_docs = self.base.read_documents().count()
        self.expected = partition_digests(self.base, self.crawlers)
        self.base_digest = store_digest(self.base)
        self.facts["docs"] = self.n_docs

    def prepare(self) -> None:
        """Restore the base lake."""
        shutil.rmtree(self.store.root, ignore_errors=True)
        shutil.copytree(self.base.root, self.store.root)

    def run_once(self, span=None) -> dict:
        """The timed unit. Its throughputs are re-crawled documents and
        triples written by the crawl per second of the whole unit."""
        steps = {}
        t0 = t = time.perf_counter()
        res = framework.run_pipeline_batched(self.store, BENCH_CRAWLERS)
        steps["crawl"] = time.perf_counter() - t
        for post in POST_ORDER:
            t = time.perf_counter()
            post(self.store).run()
            steps[post.NAME] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        return {"docs_per_s": self.n_docs / wall,
                "triples_per_s": res["triples"] / wall,
                "ops": len(BENCH_CRAWLERS) + len(POST_ORDER), "steps": steps}

    def check(self) -> list[str]:
        """Failures of the last iteration, one string per failed operation."""
        got = partition_digests(self.store, self.crawlers)
        bad = [f"{n}: partition {got.get(n)} != base lake {self.expected.get(n)}"
               for n in self.crawlers if got.get(n) != self.expected.get(n)]
        digest = store_digest(self.store)
        if digest != self.base_digest:
            bad.append(f"store digest {digest} != base lake {self.base_digest}")
        return bad

    def describe(self) -> dict:
        return {"store_digest": self.base_digest, **self.facts}

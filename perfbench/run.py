"""Benchmark of the iyp_spark knowledge-graph engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one Spark session at
``local[<cores this process may use>]``, one client in a closed loop:
the next timed unit starts when the previous one has finished.

- ``--trace 0`` measures: set-up, then timed units until ``--seconds``
  have passed (at least one), and prints every end-to-end metric.
- ``--trace 1`` wraps the public calls of each layer in spans
  (``spans.py``), runs exactly one timed unit so every count is
  reproducible, prints every per-layer metric and a self-time table, and
  writes the spans to ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Operations are the
checked crawlers and post passes of ``kg_core_recrawl`` and the checked
query leaves of ``operator_queries``; a failed or wrong one counts in
``failed``, and ``failed / attempted`` is the error rate.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

import host as h  # noqa: E402
from spans import Tracer, skew_of  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("kg_core_recrawl", "operator_queries")

STORE_OPS = ("upsert_nodes", "replace_triples", "replace_triples_multi",
             "enrich_nodes")
POSTS = ("ip2prefix", "address_family", "country_information",
         "url2hostname", "clean_links")
# public functions the 13 query leaves import from ops/ and graph/
LEAF_CALLS = {
    "ops.dedup": ("exact_dedup_groups", "with_mutants", "lsh_candidate_pairs",
                  "simhash", "canonical_docs", "dup_ngram_fraction"),
    "ops.similarity": ("cosine_topk", "lsh_topk"),
    "graph.canonicalize": ("connected_components", "multi_source_bfs"),
    "graph.metrics": ("weighted_sssp", "pagerank_integer", "k_core"),
}
SPARK_TOTALS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("tasks_failed", "count"), ("exec_run_s", "s"),
                ("exec_cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in print order."""
    from queries import LEAVES

    out = [("crawlers.transform.s", "s"), ("crawlers.transform.calls", "count"),
           ("framework.run_pipeline_batched.self_s", "s"),
           ("framework.run_pipeline_batched.jobs", "count")]
    for op in STORE_OPS:
        out += [(f"store.{op}.s", "s"), (f"store.{op}.calls", "count"),
                (f"store.{op}.rows", "count"), (f"store.{op}.jobs", "count"),
                (f"store.{op}.exec_cpu_s", "s"),
                (f"store.{op}.shuffle_write_mb", "MB"),
                (f"store.{op}.spill_mb", "MB")]
    out += [("store.log_lineage.s", "s"), ("store.log_lineage.calls", "count")]
    for p in POSTS:
        out += [(f"post.{p}.s", "s"), (f"post.{p}.jobs", "count"),
                (f"post.{p}.exec_cpu_s", "s")]
    for q in LEAVES:
        out += [(f"queries.{q}.s", "s"), (f"queries.{q}.jobs", "count"),
                (f"queries.{q}.shuffle_write_mb", "MB")]
    out += [(f"spark.{k}", u) for k, u in SPARK_TOTALS]
    out += [("spark.task_skew", "ratio"), ("host.steal_frac", "ratio"),
            ("host.probe_ms", "ms"), ("host.peak_rss_mb", "MB"),
            ("trace.overhead_s", "s")]
    return out


def instrument(tracer) -> None:
    """Wrap the public calls of each layer in spans, from outside."""
    import importlib

    from iyp_spark import framework
    from iyp_spark.crawlers import REGISTRY
    from iyp_spark.post import POST_ORDER
    from iyp_spark.store import GraphStore

    tracer.wrap(framework, "run_pipeline_batched",
                "framework.run_pipeline_batched")
    done = set()
    for cls in REGISTRY.values():
        for k in cls.__mro__:
            if (k is not framework.SparkCrawler and "transform" in vars(k)
                    and k not in done):
                tracer.wrap(k, "transform", "crawlers.transform")
                done.add(k)
    for op in STORE_OPS:
        tracer.wrap(GraphStore, op, f"store.{op}", rows=True)
    tracer.wrap(GraphStore, "log_lineage", "store.log_lineage")
    for p in POST_ORDER:
        tracer.wrap(p, "run", "post." + p.NAME.rsplit(".", 1)[-1])
    for mod, fns in LEAF_CALLS.items():
        m = importlib.import_module(f"iyp_spark.{mod}")
        for fn in fns:
            tracer.wrap(m, fn, f"{mod}.{fn}")


def layer_metrics(tracer, host: dict) -> dict[str, float]:
    t = tracer.totals()

    def g(name, key):
        return t.get(name, {}).get(key, 0)

    m: dict[str, float] = {}
    for name, _ in per_layer_names():
        span, _, key = name.rpartition(".")
        if span == "framework.run_pipeline_batched" and key == "jobs":
            m[name] = g(span, "self_jobs")
        elif span in ("spark", "host", "trace"):
            continue
        else:
            m[name] = g(span, key)
    run = t.get("run", {})
    for k, _ in SPARK_TOTALS:
        m[f"spark.{k}"] = run.get(k, 0)
    m["spark.task_skew"] = skew_of(run.get("skew", []))
    m["host.steal_frac"] = host["steal_frac"]
    m["host.probe_ms"] = host["probe_ms"]
    m["host.peak_rss_mb"] = host["peak_rss_mb"]
    m["trace.overhead_s"] = tracer.overhead_s
    return m


def _descendants() -> list[int]:
    return [p for p in h.process_tree() if p != os.getpid()]


def stop_spark(spark) -> None:
    """Shut the JVM down and wait until every process this run started
    has ended. Closing the gateway's stdin makes the JVM exit; its
    shutdown hook stops the SparkContext, which is faster than
    ``spark.stop()`` followed by the exit."""
    gateway = spark.sparkContext._gateway
    pids = _descendants()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 60
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if pids:
            time.sleep(0.05)
    for p in pids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, 9)


def measure(args, work: str) -> dict:
    from iyp_spark.session import get_spark

    if args.workload == "kg_core_recrawl":
        from kg import KgCoreRecrawl as W
    else:
        from queries import OperatorQueries as W
    wl = W(work, args.seed)
    cores = len(os.sched_getaffinity(0))
    # inputs that need no Spark are made while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(wl.make_inputs)
        spark = get_spark(f"perfbench_{args.workload}", cores=cores, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # span attribution reads every job of the traced unit back from
            # the status store, so none may be evicted
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(work, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        })
    try:
        inputs.result()
        wl.setup(spark)
        setup_s = time.perf_counter() - T_START

        tracer = None
        if args.trace:
            tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
            instrument(tracer)
        probe = h.probe_ms()
        steal0, ncpu = h.steal_seconds()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        sampler = h.TreeSampler({os.getpid(), jvm_pid})
        sampler.start()
        units, failures = [], list(wl.setup_failures)
        attempted = wl.setup_ops
        t_region = time.perf_counter()
        while True:
            wl.prepare()
            cpu0, t0 = sampler.cpu_seconds(), time.perf_counter()
            with (tracer.span("run") if tracer else contextlib.nullcontext()):
                counts = wl.run_once(tracer.span if tracer else None)
            units.append({"wall": time.perf_counter() - t0,
                          "cpu": sampler.cpu_seconds() - cpu0, **counts})
            attempted += counts["ops"]
            failures += wl.check()
            if tracer or time.perf_counter() - t_region >= args.seconds:
                break
        region = time.perf_counter() - t_region
        sampler.stop()
        host = {"steal_frac": (h.steal_seconds()[0] - steal0) / (region * ncpu),
                "probe_ms": probe, "peak_rss_mb": sampler.peak_rss_bytes / 2**20}
        if tracer:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"))
            lm = layer_metrics(tracer, host)
            metrics = {n: {"value": lm[n], "unit": u} for n, u in per_layer_names()}
            by_layer = tracer.self_time_by_layer()
        else:
            med = lambda f: statistics.median(f(u) for u in units)  # noqa: E731
            metrics = {
                "wall_s": (med(lambda u: u["wall"]), "s"),
                "docs_per_s": (med(lambda u: u["docs_per_s"]), "1/s"),
                "triples_per_s": (med(lambda u: u["triples_per_s"]), "1/s"),
                "cpu_s": (med(lambda u: u["cpu"]), "s"),
                "setup_s": (setup_s, "s"),
            }
            metrics = {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}
        facts = wl.describe()
    finally:
        stop_spark(spark)

    for f in failures:
        print(f"# FAILED {f}")
    print(f"# host steal_frac={host['steal_frac']:.4f} probe_ms={host['probe_ms']:.1f} "
          f"peak_rss_mb={host['peak_rss_mb']:.1f}")
    print("# facts " + json.dumps(facts, sort_keys=True))
    print(f"# error_rate {len(failures) / attempted} "
          f"({len(failures)} of {attempted} operations)")
    print(f"# {len(units)} timed units in {region:.3f} s")
    for i, u in enumerate(units):
        print(f"# unit {i} steps " + json.dumps(u["steps"]))
    if tracer:
        total = sum(by_layer.values())
        print("# self time by layer (s, share):")
        for layer, s in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            print(f"#   {layer:<22} {s:9.3f} {s / total:6.1%}")
        top = sorted(by_layer, key=by_layer.get, reverse=True)[:3]
        print(f"# top 3 layers: {', '.join(top)}")
    for n, v in metrics.items():
        print(f"# {n} {v['value']} {v['unit']}")
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "iyp_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no iyp_spark package beside {HERE}; run it from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[1:1] = [ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # 2 GiB of heap is ample for these inputs and keeps a run small on a
    # shared host
    os.environ["IYP_SPARK_DRIVER_MEM"] = "2g"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

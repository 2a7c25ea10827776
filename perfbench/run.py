"""Crawl-and-query benchmark for scrapy_playwright_scrapegraphai_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload

One workload per process, on ``local[N]`` with N = the machine's CPU
count (``os.cpu_count()``), closed loop (one client, one operation at a
time); the run refuses to start when N exceeds the process's CPU
affinity set. A run (``--trace 0``):

1. writes the workload's inputs from ``--seed`` under ``.perfbench/``
   and computes the correctness references (crawl oracle, DuckDB
   fingerprints), untimed;
2. set-up (``setup_s``): starts the JVM, ships the package to the Python
   workers and runs the workload's contract queries once, collecting and
   checking each result;
3. crawls: the first ``CrawlEngine.run()`` of the session on the workload
   corpus (``crawl_wall_s``, ``crawl_urls_per_s``). The crawl is the
   measured operation; the workloads are sized so that it fills the
   ``--seconds`` window (30 s) on the host they were tuned on;
4. restarts the engine once on the checkpoint and checks that the
   rebuilt frontier has every row (untimed; the traced run reports the
   restart as ``store.rebuild_s``).

The crawl's final frontier is compared with the oracle crawler's and
every query result with its DuckDB fingerprint; a mismatch or an
exception counts in ``failed``. ``--trace 1`` runs ``layers.run_traced``
instead and reports the per-layer metrics. The last stdout line is the
result JSON; the same object, with host facts and raw samples, is written
to ``.perfbench/results/`` as soon as the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "scrapy_playwright_scrapegraphai_spark"
WORK = os.path.join(ROOT, ".perfbench")

# Sizes were tuned on a 4-CPU / 15 GB host (see NOTES.md).
# Both crawls use the program's bench corpus generator and seed list
# (one hub per host, max_depth=1, crawl_delay 1 s).
WORKLOADS = {
    # a full crawl in one big wave: the hubs step, then every page of
    # every host at once (point lookup of ~1.8k urls, above the parquet
    # In-pushdown cap) — the Python parse of ~160 links and 300 words per
    # page is the variable part of the crawl
    "crawl_wide": {
        "hosts": 16, "pages_per_host": 96, "mega_host_factor": 4,
        "links_per_page": 160, "words_per_page": 300, "max_depth": 1,
        "superstep_seconds": 1024.0, "max_supersteps": 1000,
        "events": 10000, "documents": 500,
        "queries": ["dedup_exact", "text_tokens"],
    },
    # a politeness-bounded crawl stopped after two supersteps: step 2
    # ranks ~5k pending urls, admits 8 per host and defers the rest, and
    # streams the pages table (pending above lookup_pushdown_threshold) —
    # per-superstep fixed cost dominates, the parse is nearly idle
    "crawl_polite": {
        "hosts": 16, "pages_per_host": 320, "mega_host_factor": 1,
        "links_per_page": 40, "words_per_page": 120, "max_depth": 1,
        "superstep_seconds": 8.0, "max_supersteps": 2,
        "events": 10000, "documents": 500,
        "queries": ["first_writer_dedup", "politeness_topk"],
    },
}

E2E_UNITS = {
    "setup_s": "s", "crawl_wall_s": "s", "crawl_urls_per_s": "1/s",
    "snapshot_bytes_per_url": "B",
}


# -- host ----------------------------------------------------------------------


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def heap_gb() -> int:
    """Driver heap limit: a quarter of MemTotal, 1-4 GiB (the host is
    shared). Only the limit is set: the heap grows as the program uses
    it, so the traced run's memory metrics follow the program."""
    return max(1, min(4, meminfo_kb("MemTotal") // (4 << 20)))


def host_facts(cores: int, heap: int) -> dict:
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "master": f"local[{cores}]",
        "mem_total_kb": meminfo_kb("MemTotal"),
        "heap_gb": heap,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


# -- Spark session ---------------------------------------------------------------


def start_spark(cores: int, heap: int, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}g")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(local, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local} -Dderby.system.home={local}")
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from scrapy_playwright_scrapegraphai_spark.entry_queries import (
        ensure_worker_imports,
    )

    ensure_worker_imports(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- workload pieces ---------------------------------------------------------------


def crawl_config(spec: dict, max_supersteps: int | None = None):
    from scrapy_playwright_scrapegraphai_spark.plans.driver import CrawlConfig

    return CrawlConfig(
        superstep_seconds=spec["superstep_seconds"],
        max_supersteps=(spec["max_supersteps"] if max_supersteps is None
                        else max_supersteps),
    )


def engine(spark, pages_path: str, spec: dict, ckpt: str,
           max_supersteps: int | None = None):
    """A CrawlEngine on the workload inputs. ``max_supersteps`` caps the
    supersteps this ``run()`` call may execute; 0 only bootstraps a fresh
    checkpoint or rebuilds the frontier of an existing one (restart)."""
    import inputs
    from scrapy_playwright_scrapegraphai_spark.plans.driver import CrawlEngine

    seeds, robots = inputs.seeds_and_robots(spec)
    return CrawlEngine(
        spark,
        spark.read.parquet(pages_path),
        spark.createDataFrame(seeds, inputs.SEEDS_DDL),
        spark.createDataFrame(robots, inputs.ROBOTS_DDL),
        ckpt,
        crawl_config(spec, max_supersteps),
    )


def frontier_rows(result) -> list[tuple]:
    return sorted(
        tuple(r) for r in result.frontier.select(
            "discovery_seq", "url", "url_state", "depth").collect()
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Counts:
    """Attempted / failed operations; every failure is reported."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] FAILED: {what}", file=sys.stderr)


def run_query(spark, name: str, tables: str, counts: Counts,
              want: tuple | None = None) -> float | None:
    """Wall of ``fn(spark, sf).count()``, or with ``want`` of collecting
    the result and checking its fingerprint; None if it raised."""
    import inputs
    from scrapy_playwright_scrapegraphai_spark.entry_queries import QUERIES

    try:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, tables)
        if want is None:
            df.count()
            ok = True
        else:
            ok = inputs.fingerprint(df.toPandas()) == want
        wall = time.perf_counter() - t0
    except Exception:  # counted as a failed operation, run continues
        traceback.print_exc()
        wall, ok = None, False
    counts.check(ok, f"query {name}")
    return wall


def prepare(workload: str, seed: int) -> dict:
    """Write the inputs and compute the correctness references."""
    import inputs

    spec = WORKLOADS[workload]
    d = os.path.join(WORK, f"{workload}-seed{seed}")
    shutil.rmtree(d, ignore_errors=True)
    pages = inputs.write_corpus(os.path.join(d, "corpus"), spec, seed)
    tables = inputs.write_tables(os.path.join(d, "tables"), spec["events"],
                                 spec["documents"], seed)
    return {
        "dir": d, "pages": pages, "tables": tables,
        "crawl_oracle": inputs.crawl_oracle(pages, spec),
        "query_oracle": inputs.query_oracle(tables, spec["queries"]),
    }


def run_untraced(workload: str, cores: int, heap: int,
                 prep: dict) -> tuple[Counts, dict]:
    spec = WORKLOADS[workload]
    counts = Counts()
    ckpt = os.path.join(prep["dir"], "ckpt")

    t0 = time.perf_counter()
    spark = start_spark(cores, heap)
    try:
        walls = {name: run_query(spark, name, prep["tables"], counts,
                                 prep["query_oracle"][name])
                 for name in spec["queries"]}
        setup_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        result = engine(spark, prep["pages"], spec, ckpt).run(resume=False)
        crawl_wall = time.perf_counter() - t0
        rows = frontier_rows(result)
        counts.check(rows == prep["crawl_oracle"], "crawl frontier vs oracle")
        steps = result.metrics.orderBy("superstep").collect()
        fetched = sum(r["n_fetched_ok"] for r in steps)
        step_walls = [r["wall_time_s"] for r in steps]

        n = engine(spark, prep["pages"], spec, ckpt, 0).run().frontier.count()
        counts.check(n == len(rows), "restarted frontier row count")
    finally:
        stop_spark(spark)
    n_urls = len(rows) + fetched
    metrics = {
        "setup_s": setup_s,
        "crawl_wall_s": crawl_wall,
        "crawl_urls_per_s": n_urls / crawl_wall,
        "snapshot_bytes_per_url": dir_bytes(ckpt) / len(rows),
    }
    samples = {"query_walls_s": walls, "frontier_rows": len(rows),
               "bloom_bytes": os.path.getsize(
                   os.path.join(ckpt, "bloom_shards.bin")),
               "fetched_pages": fetched, "superstep_walls_s": step_walls}
    return counts, {"metrics": metrics, "samples": samples}


# -- entry ---------------------------------------------------------------------


def run_all(args) -> int:
    """Every workload in its own process; print each metric by name."""
    rc = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} trace={trace}: exit {out.returncode}")
                sys.stderr.write(out.stderr[-4000:])
                rc = 1
                continue
            res = json.loads(lines[-1])
            print(f"{w} trace={trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for name, m in res["metrics"].items():
                print(f"  {name:36s} {m['value']:>14.4f} {m['unit']}")
            rc |= out.returncode
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    cores, affinity = os.cpu_count(), len(os.sched_getaffinity(0))
    if cores > affinity:
        # local[N] on fewer than N CPUs silently time-slices the task
        # threads
        print(f"perfbench: {cores} CPUs exceed the CPU affinity set "
              f"({affinity} CPUs)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    sys.path[:0] = [ROOT, HERE]
    for sub in ("tmp", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    heap = heap_gb()
    facts = host_facts(cores, heap)
    t0 = time.perf_counter()
    prep = prepare(args.workload, args.seed)
    print(f"[perfbench] inputs and oracles: {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)
    if args.trace:
        import layers

        counts, out = layers.run_traced(args.workload, cores, heap, prep)
        units = layers.UNITS
    else:
        counts, out = run_untraced(args.workload, cores, heap, prep)
        units = E2E_UNITS
    for d in (prep["dir"], os.path.join(WORK, "tmp"),
              os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)

    result = {
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in out["metrics"].items()},
    }
    record = dict(result, workload=args.workload, seed=args.seed,
                  trace=args.trace, host=facts, samples=out["samples"])
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record[k] for k in ("host", "samples")}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

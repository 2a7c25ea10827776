"""Traced run: per-layer metrics for one crawl workload.

The crawl engine runs to superstep k-1; superstep k is then replayed from
the benchmark by calling each layer's public functions in the engine's
order, materializing every output before the next call, so each span is
that layer's self time. The engine then commits superstep k itself and
the replayed new rows must equal the committed ones (replay parity). The
Spark event log of this session gives the task-level counters; the
contract queries of both workloads are timed one by one.

Spans (name, start, end, parent) are kept in memory and written to
``.perfbench/results/`` at the end of the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

import run as R

# supersteps replayed per workload: the wide crawl's one big wave; for the
# polite crawl the seed step (In-pushdown point lookup) and the
# politeness-bounded streaming-scan step (pending above
# lookup_pushdown_threshold)
REPLAY_STEPS = {"crawl_wide": [2], "crawl_polite": [1, 2]}

KERNEL_SAMPLE_PAGES = 200

UNITS = {
    "kernels.parse_page_ms": "ms",
    "kernels.classify_links_ms": "ms",
    "kernels.links_per_page": "count",
    "udfs.parse_pages_s": "s",
    "udfs.explode_parsed_s": "s",
    "udfs.child_rows": "count",
    "udfs.python_share": "ratio",
    "politeness.admit_tagged_s": "s",
    "politeness.admitted_ratio": "ratio",
    "driver.fetch_join_s": "s",
    "driver.pages_scanned_rows": "count",
    "frontier.first_writer_dedup_s": "s",
    "frontier.dedup_keep_ratio": "ratio",
    "frontier.anti_join_seen_s": "s",
    "frontier.new_ratio": "ratio",
    "frontier.assign_global_seq_s": "s",
    "frontier.finalize_new_rows_s": "s",
    "seenset.probe_s": "s",
    "seenset.maybe_ratio": "ratio",
    "seenset.false_positive_ratio": "ratio",
    "seenset.bloom_bytes": "B",
    "store.write_step_s": "s",
    "store.bytes_written": "B",
    "store.files_written": "count",
    "store.rebuild_s": "s",
    "driver.supersteps": "count",
    "driver.superstep_wall_p50_s": "s",
    "driver.superstep_wall_max_s": "s",
    "driver.seed_superstep_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.driver_idle_s": "s",
    "spark.cpu_util": "ratio",
    "trace.coverage": "ratio",
    "jvm.heap_peak_mb": "MB",
    "process.peak_rss_mb": "MB",
}
QUERY_NAMES = sorted({q for w in R.WORKLOADS.values() for q in w["queries"]})
UNITS.update({f"query.{q}_s": "s" for q in QUERY_NAMES})

# replay spans, in the engine's order; each maps to the metric of its layer
SPAN_METRIC = {
    "politeness.admit_tagged": "politeness.admit_tagged_s",
    "driver.fetch_join": "driver.fetch_join_s",
    "udfs.parse_pages": "udfs.parse_pages_s",
    "udfs.explode_parsed": "udfs.explode_parsed_s",
    "frontier.first_writer_dedup": "frontier.first_writer_dedup_s",
    "seenset.with_maybe_flag": "seenset.probe_s",
    "frontier.anti_join_seen": "frontier.anti_join_seen_s",
    "frontier.assign_global_seq": "frontier.assign_global_seq_s",
    "frontier.finalize_new_rows": "frontier.finalize_new_rows_s",
    "store.write_step": "store.write_step_s",
}


class Tracer:
    """In-memory spans; Spark jobs started inside a span carry its name
    as their job description, so the event log maps onto the spans."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": t0, "end": time.time(),
                               "parent": parent})
            self._stack.pop()
            sc.setJobDescription(self._stack[-1] if self._stack else None)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


def replay_step(tr: Tracer, spark, prep: dict, spec: dict, ckpt: str,
                frontier, k: int, counters: dict, scratch: str) -> list:
    """Replay superstep k from the engine's state after k-1; return the
    replayed new rows (sorted) and add this step's counters."""
    from pyspark.sql import functions as F

    from scrapy_playwright_scrapegraphai_spark.functions import kernels, udfs
    from scrapy_playwright_scrapegraphai_spark.operators import frontier as FR
    from scrapy_playwright_scrapegraphai_spark.operators import politeness
    from scrapy_playwright_scrapegraphai_spark.operators.seenset import (
        BloomShards,
    )
    from scrapy_playwright_scrapegraphai_spark.plans.store import SnapshotStore

    import inputs

    cfg = R.crawl_config(spec)
    store = SnapshotStore(ckpt)
    next_seq = store.read_manifest(k - 1)["meta"]["next_seq"]
    _, robots_rows = inputs.seeds_and_robots(spec)
    robots = spark.createDataFrame(robots_rows, inputs.ROBOTS_DDL)
    native, n_rules = politeness.robots_dim_profile(robots)
    pages = spark.read.parquet(prep["pages"])
    work = frontier.filter(
        (F.col("url_state") == "pending") & (F.col("is_root") | ~F.col("is_target"))
    )
    n_pending = work.count()
    lookup = n_pending <= cfg.lookup_pushdown_threshold
    seen = frontier.filter(~F.col("is_root"))
    # the seen set the engine's bloom holds at step k: every non-root url
    bloom = BloomShards.sized_for(cfg.expected_urls, cfg.bloom_shards)
    bloom.add_df(seen.select("url"))

    cached = []

    def done(df):
        df = df.cache()
        cached.append(df)
        return df, df.count()

    with tr.span(f"replay step {k}"):
        with tr.span("politeness.admit_tagged"):
            tagged, n_work = done(politeness.admit_tagged(
                work, robots, cfg.superstep_seconds,
                1 if lookup else cfg.salt_shards, order_cols=cfg.order_cols,
                native_robots=native,
                broadcast_robots=n_rules <= cfg.robots_broadcast_max_rows,
            ))
        admitted = tagged.filter(F.col("_disposition") == "admitted").drop(
            "_disposition")
        n_admitted = admitted.count()
        with tr.span("driver.fetch_join"):
            content = pages.select("url", "html").filter(F.col("html").isNotNull())
            if lookup:  # the engine's point-lookup path
                urls = [r["url"] for r in work.select("url").collect()]
                content = content.filter(F.col("url").isin(urls)).coalesce(
                    max(8, spark.sparkContext.defaultParallelism))
            fetched, n_fetched = done(content.join(F.broadcast(admitted), "url"))
        with tr.span("udfs.parse_pages"):
            parsed, n_parsed = done(udfs.parse_pages(fetched))
        with tr.span("udfs.explode_parsed"):
            children, n_children = done(udfs.explode_parsed(parsed))
        with tr.span("frontier.first_writer_dedup"):
            batch, n_batch = done(FR.first_writer_dedup(
                children, order_cols=["parent_seq", "item_seq"],
                key_cols=["url"]))
        with tr.span("seenset.with_maybe_flag"):
            flagged = bloom.with_maybe_flag(batch).localCheckpoint(eager=True)
        n_maybe = flagged.filter(F.col("_maybe")).count()
        with tr.span("frontier.anti_join_seen"):
            new, n_new = done(
                flagged.filter(~F.col("_maybe")).drop("_maybe").unionByName(
                    FR.anti_join_seen(
                        flagged.filter(F.col("_maybe")).drop("_maybe"), seen,
                        unique_urls=True))
                .drop("partition_id", "found_count"))
        with tr.span("frontier.assign_global_seq"):
            seq, _ = done(FR.assign_global_seq(
                new, ["parent_seq", "item_seq"], start=next_seq, mode="plan",
                key_bound=next_seq))
        with tr.span("frontier.finalize_new_rows"):
            new_rows, _ = done(FR.finalize_new_rows(seq, k))
        out = os.path.join(scratch, f"step{k}")
        with tr.span("store.write_step"):
            SnapshotStore(out).write_step(k, {
                "new_rows": new_rows,
                "page_text": parsed.select(
                    "discovery_seq", F.col("page_url").alias("url"), "text"),
            }, {"step": k})

    # single-core kernel cost on a sample of this step's fetched pages
    sample = fetched.orderBy("discovery_seq").limit(KERNEL_SAMPLE_PAGES).select(
        "url", "html", "url_type", "target_patterns", "seed_pattern",
        "depth", "max_depth").collect()
    t_parse = t_class = 0.0
    n_links = 0
    for r in sample:
        t0 = time.perf_counter()
        links, _ = kernels.parse_page(r["html"], r["url"])
        t1 = time.perf_counter()
        kernels.classify_links(r["url"], links, r["url_type"],
                               r["target_patterns"], r["seed_pattern"],
                               r["depth"], r["max_depth"])
        t_parse += t1 - t0
        t_class += time.perf_counter() - t1
        n_links += len(links)

    rows = sorted(tuple(r) for r in new_rows.collect())
    for df in cached:
        df.unpersist()
    for key, v in {
        "n_work": n_work, "n_admitted": n_admitted,
        "n_fetched": n_fetched, "n_parsed": n_parsed,
        "n_children": n_children, "n_batch": n_batch, "n_maybe": n_maybe,
        "n_maybe_new": n_new - (n_batch - n_maybe), "n_new": n_new,
        "kernel_pages": len(sample), "kernel_parse_s": t_parse,
        "kernel_classify_s": t_class, "kernel_links": n_links,
        "bytes_written": R.dir_bytes(out),
        "files_written": sum(len(f) for _, _, f in os.walk(out)),
    }.items():
        counters[key] = counters.get(key, 0) + v
    return rows


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def heap_peak_mb(spark) -> float:
    """Sum of the peak use of the JVM's heap memory pools (an upper bound
    on the peak heap in use: the pools peak at different times)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    ) / 2**20


def eventlog_metrics(path: str, windows: list[tuple[float, float]],
                     cores: int) -> dict:
    """Task counters of the jobs submitted inside ``windows`` (epoch s),
    and the input rows read by the jobs of the fetch-join spans."""
    jobs, stage_job, tasks = {}, {}, []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000,
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description") or "",
                }
                for s in ev["Stage IDs"]:
                    stage_job[s] = ev["Job ID"]
            elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif e == "SparkListenerTaskEnd":
                tasks.append(ev)

    def inside(t):
        return any(a <= t <= b for a, b in windows)

    crawl_jobs = {j for j, v in jobs.items() if inside(v["start"])}
    stages, n_tasks = set(), 0
    cpu_ns = gc_ms = shuffle_b = spill_b = scanned = 0
    for t in tasks:
        job = stage_job.get(t["Stage ID"])
        m = t.get("Task Metrics") or {}
        if jobs.get(job, {}).get("desc") == "driver.fetch_join":
            scanned += (m.get("Input Metrics") or {}).get("Records Read", 0)
        if job not in crawl_jobs:
            continue
        stages.add(t["Stage ID"])
        n_tasks += 1
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        spill_b += m.get("Disk Bytes Spilled", 0)

    # driver idle: window time covered by no running job
    busy = 0.0
    for a, b in windows:
        ivs = sorted((max(a, v["start"]), min(b, v.get("end", b)))
                     for j, v in jobs.items() if j in crawl_jobs)
        ivs = [(s, e) for s, e in ivs if s < e]
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
    wall = sum(b - a for a, b in windows)
    return {
        "spark.jobs": len(crawl_jobs),
        "spark.stages": len(stages),
        "spark.tasks": n_tasks,
        "spark.task_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_write_mb": shuffle_b / 2**20,
        "spark.spill_mb": spill_b / 2**20,
        "spark.driver_idle_s": wall - busy,
        "spark.cpu_util": cpu_ns / 1e9 / (wall * cores),
        "driver.pages_scanned_rows": scanned,
    }


def run_traced(workload: str, cores: int, heap: int, prep: dict):
    import inputs

    spec = R.WORKLOADS[workload]
    counts = R.Counts()
    ckpt = os.path.join(prep["dir"], "ckpt")
    scratch = os.path.join(prep["dir"], "replay")
    event_dir = os.path.join(prep["dir"], "eventlog")
    query_oracle = inputs.query_oracle(prep["tables"], QUERY_NAMES)

    spark = R.start_spark(cores, heap, event_dir)
    try:
        tr = Tracer(spark)
        metrics: dict = {}
        # contract queries: a checked warm-up pass, then one timed pass
        for name in QUERY_NAMES:
            R.run_query(spark, name, prep["tables"], counts, query_oracle[name])
        for name in QUERY_NAMES:
            with tr.span(f"query.{name}"):
                R.run_query(spark, name, prep["tables"], counts)
            metrics[f"query.{name}_s"] = tr.seconds(f"query.{name}")

        windows: list[tuple[float, float]] = []
        counters: dict = {}
        replayed: dict[int, list] = {}

        def crawl(resume: bool, max_supersteps: int):
            t0 = time.time()
            res = R.engine(spark, prep["pages"], spec, ckpt, max_supersteps).run(
                resume=resume)
            windows.append((t0, time.time()))
            return res

        started, done_steps = False, 0
        for k in REPLAY_STEPS[workload]:
            res = crawl(started, k - 1 - done_steps)
            started, done_steps = True, k - 1
            replayed[k] = replay_step(tr, spark, prep, spec, ckpt, res.frontier, k,
                                      counters, scratch)
        # the engine commits the replayed steps itself and finishes the crawl
        res = crawl(True, spec["max_supersteps"] - done_steps)
        rows = R.frontier_rows(res)
        counts.check(rows == prep["crawl_oracle"], "crawl frontier vs oracle")

        from scrapy_playwright_scrapegraphai_spark.plans.store import SnapshotStore

        store = SnapshotStore(ckpt)
        for k, want in replayed.items():
            got = sorted(tuple(r) for r in store.read_table(spark, k, "new_rows")
                         .select(*res.frontier.columns).collect())
            counts.check(got == want, f"replay parity at superstep {k}")

        t0 = time.perf_counter()
        R.engine(spark, prep["pages"], spec, ckpt, 0).run().frontier.count()
        metrics["store.rebuild_s"] = time.perf_counter() - t0
        metrics["seenset.bloom_bytes"] = os.path.getsize(
            os.path.join(ckpt, "bloom_shards.bin"))
        metrics["jvm.heap_peak_mb"] = heap_peak_mb(spark)
        metrics["process.peak_rss_mb"] = (vm_hwm_mb(jvm_pid(spark))
                                          + vm_hwm_mb(os.getpid()))

        steps = res.metrics.orderBy("superstep").collect()
        step_walls = [r["wall_time_s"] for r in steps]
    finally:
        R.stop_spark(spark)

    for span, name in SPAN_METRIC.items():
        metrics[name] = tr.seconds(span)
    c = counters
    kernel_ms = 1e3 * (c["kernel_parse_s"] + c["kernel_classify_s"]) / c[
        "kernel_pages"]
    metrics.update({
        "kernels.parse_page_ms": 1e3 * c["kernel_parse_s"] / c["kernel_pages"],
        "kernels.classify_links_ms":
            1e3 * c["kernel_classify_s"] / c["kernel_pages"],
        "kernels.links_per_page": c["kernel_links"] / c["kernel_pages"],
        "udfs.child_rows": c["n_children"],
        "udfs.python_share": kernel_ms * c["n_parsed"] / (
            1e3 * cores * metrics["udfs.parse_pages_s"]),
        "politeness.admitted_ratio": c["n_admitted"] / c["n_work"],
        "frontier.dedup_keep_ratio": c["n_batch"] / c["n_children"],
        "frontier.new_ratio": c["n_new"] / c["n_batch"],
        "seenset.maybe_ratio": c["n_maybe"] / c["n_batch"],
        "seenset.false_positive_ratio": c["n_maybe_new"] / max(1, c["n_maybe"]),
        "store.bytes_written": c["bytes_written"],
        "store.files_written": c["files_written"],
        "driver.supersteps": len(steps),
        "driver.superstep_wall_p50_s": statistics.median(step_walls),
        "driver.superstep_wall_max_s": max(step_walls),
        "driver.seed_superstep_s": step_walls[0],
        "trace.coverage": sum(
            s["end"] - s["start"] for s in tr.spans
            if s["parent"] and s["parent"].startswith("replay step")
        ) / sum(step_walls[k - 1] for k in replayed),
    })
    (log,) = glob.glob(os.path.join(event_dir, "*"))
    metrics.update(eventlog_metrics(log, windows, cores))

    name = f"{os.path.basename(prep['dir'])}-spans.json"
    with open(os.path.join(R.WORK, "results", name), "w") as fh:
        json.dump(tr.spans, fh)
    samples = {"replayed_steps": list(replayed), "counters": counters,
               "superstep_walls_s": step_walls}
    return counts, {"metrics": metrics, "samples": samples}

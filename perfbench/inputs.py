"""Seeded benchmark inputs and the oracles that check results against them.

Everything here is a pure function of the workload spec and ``--seed``:
the crawl corpus (the program's own ``generate_bench_corpus``), the
seeds/robots lists, and two analytics tables (``events``, ``documents``)
shaped like the contract-query testdata. The program only ever sees the
files written here.

Correctness references are computed once per run, outside every timed
section: the single-process crawl oracle's final frontier, and for each
contract query the fingerprint of its DuckDB ``oracle_sql()`` result.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEEDS_DDL = (
    "url_seed_root_id int, category string, url string, url_type int, "
    "target_patterns array<string>, seed_pattern string, max_depth int"
)
ROBOTS_DDL = (
    "main_domain string, allow_patterns array<string>, "
    "deny_patterns array<string>, crawl_delay_s double"
)

_VOCAB = (
    "a the key agg row scan slow fast table value part hash join sort merge "
    "window batch stream spark query data line order group column filter "
    "customer small big vector"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# -- crawl corpus ----------------------------------------------------------


def write_corpus(root: str, spec: dict, seed: int) -> str:
    """Write the workload pages corpus; return its path."""
    from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
        generate_bench_corpus,
    )

    path = os.path.join(root, "pages.parquet")
    generate_bench_corpus(
        path,
        n_hosts=spec["hosts"],
        pages_per_host=spec["pages_per_host"],
        links_per_page=spec["links_per_page"],
        mega_host_factor=spec["mega_host_factor"],
        words_per_page=spec["words_per_page"],
        seed=seed,
    )
    return path


def seeds_and_robots(spec: dict):
    from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
        bench_seeds_and_robots,
    )

    seeds, robots = bench_seeds_and_robots(spec["hosts"])
    for s in seeds:
        s["max_depth"] = spec["max_depth"]
    return seeds, robots


def crawl_oracle(pages_path: str, spec: dict) -> list[tuple]:
    """Final frontier ``(discovery_seq, url, url_state, depth)`` of the
    single-process oracle crawler on the same corpus, seeds and budget."""
    from scrapy_playwright_scrapegraphai_spark.oracle.crawler import crawl

    t = pq.read_table(pages_path, columns=["url", "html"])
    pages = dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
    seeds, robots = seeds_and_robots(spec)
    res = crawl(pages, seeds, robots, superstep_seconds=spec["superstep_seconds"],
                max_supersteps=spec["max_supersteps"])
    return sorted(
        (r.discovery_seq, r.url, r.url_state, r.depth) for r in res.frontier
    )


# -- analytics tables -------------------------------------------------------


def write_tables(root: str, n_events: int, n_docs: int, seed: int) -> str:
    """Write ``events`` and ``documents`` parquet under ``root``; return it.

    Shapes follow the contract testdata: strictly increasing event
    timestamps over January 2024, ~67 events per user, five event types,
    ``{"k": n}`` json props; documents of 5-90 vocabulary words in five
    languages over twenty sources, with exact and one-word-edit copies so
    the dedup queries find real groups.
    """
    os.makedirs(root, exist_ok=True)
    rng = random.Random(f"tables/{seed}")
    epoch = dt.datetime(2024, 1, 1)
    step_us = 30 * 86400 * 10**6 // max(1, n_events)
    ts_us = 0
    events = {k: [] for k in ("event_id", "ts", "user_id", "event_type",
                              "value", "props")}
    n_users = max(1, n_events // 67)
    for i in range(n_events):
        ts_us += 1 + rng.randrange(step_us)
        events["event_id"].append(i)
        events["ts"].append(epoch + dt.timedelta(microseconds=ts_us))
        events["user_id"].append(rng.randrange(n_users))
        events["event_type"].append(rng.choice(_EVENT_TYPES))
        events["value"].append(round(rng.expovariate(1 / 60) + 0.01, 2))
        events["props"].append('{"k": %d}' % rng.randrange(100))
    pq.write_table(
        pa.table(events, schema=pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ])),
        os.path.join(root, "events.parquet"),
    )

    docs = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    for i in range(n_docs):
        if i >= 20 and i % 10 == 0:
            text = docs["text"][rng.randrange(i)]  # exact copy
        elif i >= 20 and i % 10 == 5:
            words = docs["text"][rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            text = " ".join(words)  # near copy
        else:
            text = " ".join(rng.choices(_VOCAB, k=rng.randint(5, 90)))
        docs["doc_id"].append(i)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(_LANGS))
        docs["source"].append(f"src{i % 20}")
        docs["n_chars"].append(len(text))
    pq.write_table(
        pa.table(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64()),
        ])),
        os.path.join(root, "documents.parquet"),
    )
    return root


def fingerprint(df) -> tuple[int, str]:
    """(row count, order-independent hash) of a pandas result.

    Normalized the way the contract test compares Spark with DuckDB:
    columns sorted by name, floats as float64, every other value as str.
    """
    df = df.reindex(sorted(df.columns), axis=1)
    cols = []
    for c in df.columns:
        s = df[c]
        cols.append(s.astype("float64").map(repr) if s.dtype.kind in "fc"
                    else s.astype(str))
    rows = sorted("\x1f".join(v) for v in zip(*cols)) if cols else []
    h = hashlib.sha256()
    h.update("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(df), h.hexdigest()


def query_oracle(tables_dir: str, names: list[str]) -> dict[str, tuple]:
    """Fingerprint of each query's DuckDB ``oracle_sql()`` result."""
    import duckdb

    from scrapy_playwright_scrapegraphai_spark.entry_queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in ("events", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(tables_dir, t)}.parquet'"
            )
        return {n: fingerprint(con.execute(ORACLE_SQL[n]).df()) for n in names}
    finally:
        con.close()

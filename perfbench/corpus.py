"""Seeded benchmark corpus.

The workload seed picks a window of feed ids; rows come from the
generator's public row builders (``page_row``, ``seed_row``,
``feed_host``), so the generator's own ``SEED`` stays untouched and the
same ``--seed`` always yields the same inputs.  Every window keeps the
generator's shape: 30% of feeds on 3 hot hosts, and each failure mode on
one feed id residue mod 97.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass
from typing import Dict, Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from podcast_crawler_spark.functions.schemas import (
    PAGES_SCHEMA,
    ROBOTS_SCHEMA,
    SEEDS_SCHEMA,
)
from podcast_crawler_spark.operators.frontier import USER_AGENT
from podcast_crawler_spark.sources import pagesgen
from podcast_crawler_spark.sources.bucketed import write_bucketed_pages

FEED_STRIDE = 1_000_000  # feed ids per window: windows never overlap
# seeds carry their feed id as rank = feed_id + 1 in a 32-bit column, so
# the windows must end below 2**31 - 1; a seed picks window seed mod WINDOWS
WINDOWS = (2**31 - 2) // FEED_STRIDE
HOT_DELAY_S, TAIL_DELAY_S = 2.0, 0.5  # crawl delays the generator's robots use

# residue mod 97 -> the outcome the generator designs for it
FAILURE_MODES = {
    pagesgen.FAIL_MISSING_TITLE: "parse_missing_title",
    pagesgen.FAIL_BAD_ENTITY: "parse_bad_entity",
    pagesgen.FAIL_BAD_ENCLOSURE: "parse_bad_enclosure",
    pagesgen.FAIL_NO_PAGE: "fetch_no_page",
    pagesgen.ROBOTS_DENIED: "robots_denied",
}
PARSE_FAILURES = (
    pagesgen.FAIL_MISSING_TITLE,
    pagesgen.FAIL_BAD_ENTITY,
    pagesgen.FAIL_BAD_ENCLOSURE,
)


def feed_window(seed: int, n_feeds: int) -> range:
    """Any integer seed maps to one of WINDOWS disjoint feed id windows."""
    if n_feeds > FEED_STRIDE:
        raise ValueError(f"at most {FEED_STRIDE} feeds per seed")
    lo = 1 + (seed % WINDOWS) * FEED_STRIDE
    return range(lo, lo + n_feeds)


def describe(window: range) -> Dict:
    """What the window holds: N, hot-host share, per-failure-mode counts."""
    hosts = Counter(pagesgen.feed_host(f) for f in window)
    hot = {h for h, c in hosts.items() if c > 1}
    residues = Counter(f % 97 for f in window)
    return {
        "n_feeds": len(window),
        "feed_ids": [window.start, window.stop - 1],
        "hot_hosts": len(hot),
        "hot_host_share": round(sum(hosts[h] for h in hot) / len(window), 4),
        "failure_modes": {
            name: residues.get(r, 0) for r, name in FAILURE_MODES.items()
        },
    }


def _pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [r for f in pdf["id"] if (r := pagesgen.page_row(int(f))) is not None]
        yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


@dataclass
class Corpus:
    window: range
    pages_table: str
    pages_dir: str
    seeds_dir: str
    robots_dir: str

    def seeds(self, spark):
        return spark.read.parquet(self.seeds_dir)

    def robots(self, spark):
        return spark.read.parquet(self.robots_dir)

    def pages(self, spark):
        return spark.table(self.pages_table)


def _write_local(rows, schema, out_dir: str) -> str:
    """A small table written by the driver alone (no Spark job)."""
    os.makedirs(out_dir, exist_ok=True)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    pq.write_table(table, os.path.join(out_dir, "part-00000.parquet"))
    return out_dir


def build(spark, window: range, out_dir: str, table: str, partitions: int) -> Corpus:
    """Generate pages, seeds and robots for *window*.  Pages (whose golden
    text costs a parse per feed) are generated by Spark straight into a
    url-bucketed table, the fetch layout ``run_epoch`` reads; seeds and
    robots are small and written by the driver."""
    ids = spark.range(window.start, window.stop, 1, partitions)
    write_bucketed_pages(
        ids.mapInPandas(_pages, schema=PAGES_SCHEMA),
        table,
        buckets=partitions,
        one_file_per_bucket=True,
    )
    seeds_dir = _write_local(
        [pagesgen.seed_row(f) for f in window], SEEDS_SCHEMA, os.path.join(out_dir, "seeds")
    )
    robots = {}
    for f in window:
        host = pagesgen.feed_host(f)
        delay = HOT_DELAY_S if f % 10 < 3 else TAIL_DELAY_S
        robots.setdefault(host, (host, USER_AGENT, ["/private/"], delay))
    robots_dir = _write_local(
        sorted(robots.values()), ROBOTS_SCHEMA, os.path.join(out_dir, "robots")
    )
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return Corpus(window, table, os.path.join(wh, table), seeds_dir, robots_dir)

"""Independent oracle: reads the engine's snapshot files with DuckDB and
recomputes what the outputs must be from the generator's documented
rules (residues mod 97, hot hosts, robots prefixes).  No engine operator
is reused here; a wrong row anywhere counts toward ``wrong_rows``."""

from __future__ import annotations

import json
import os
import re
from datetime import datetime
from typing import Dict, Iterable, List, Optional, Set

import duckdb

from .corpus import PARSE_FAILURES, Corpus
from podcast_crawler_spark.sources import pagesgen

_FEED_ID = re.compile(r"/show-(\d+)\.xml$")
_PATH = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
TABLES = ("frontier", "podcasts", "episodes", "metrics", "seen_shards")


def feed_id(url: str) -> int:
    m = _FEED_ID.search(url)
    if m is None:
        raise ValueError(f"not a corpus feed url: {url}")
    return int(m.group(1))


def expected_outcome(fid: int) -> str:
    """Outcome of a feed's first fetch, from the generator's residues."""
    r = fid % 97
    if r == pagesgen.ROBOTS_DENIED:
        return "not_scheduled"
    if r == pagesgen.FAIL_NO_PAGE:
        return "fetch_failed"
    if r in PARSE_FAILURES:
        return "parse_failed"
    return "parsed"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def manifest(root: str, table: str, snapshot_id: Optional[int] = None) -> Optional[Dict]:
    snap_dir = os.path.join(root, table, "_snapshots")
    if snapshot_id is None:
        ids = [
            int(f[:-5])
            for f in (os.listdir(snap_dir) if os.path.isdir(snap_dir) else [])
            if f.endswith(".json") and f[:-5].isdigit()
        ]
        if not ids:
            return None
        snapshot_id = max(ids)
    with open(os.path.join(snap_dir, f"{snapshot_id}.json")) as fh:
        return json.load(fh)


def _files(man: Dict) -> List[str]:
    out = []
    for seg in man.get("segments") or [man["data_dir"]]:
        out += sorted(
            os.path.join(seg, f) for f in os.listdir(seg) if f.endswith(".parquet")
        )
    return out


def table_sql(man: Dict) -> str:
    """A DuckDB subquery over one snapshot, resolving merge-on-read
    segments last-write-wins on the manifest's key."""
    files = ", ".join(f"'{f}'" for f in _files(man))
    scan = f"read_parquet([{files}], union_by_name = true)"
    res = man.get("resolve")
    if res and len(man.get("segments") or []) > 1:
        return (
            f"(SELECT * FROM {scan} QUALIFY row_number() OVER "
            f"(PARTITION BY {res['key']} ORDER BY {res['order_col']} DESC) = 1)"
        )
    return f"(SELECT * FROM {scan})"


def digest(con, man: Optional[Dict]) -> Optional[str]:
    """Order-independent content digest of one snapshot's resolved rows."""
    if man is None:
        return None
    return con.execute(
        "SELECT md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) FROM "
        f"(SELECT CAST(pb_row AS VARCHAR) AS r FROM {table_sql(man)} pb_row)"
    ).fetchone()[0]


def state_digests(con, root: str) -> Dict[str, Optional[str]]:
    return {t: digest(con, manifest(root, t)) for t in ("frontier", "podcasts", "episodes")}


def live_state_bytes(root: str) -> int:
    """Bytes of the data files the current snapshots reference."""
    total = 0
    for t in TABLES:
        man = manifest(root, t)
        if man is not None:
            total += sum(os.path.getsize(f) for f in _files(man))
    return total


def frontier_rows(root: str) -> int:
    return manifest(root, "frontier")["row_count"]


# -- epoch_drain -----------------------------------------------------------


def expected_epoch_counts(window: Iterable[int]) -> Dict[str, int]:
    c = {"scheduled": 0, "fetch_failures": 0, "parse_failures": 0, "parsed": 0}
    for f in window:
        o = expected_outcome(f)
        if o == "not_scheduled":
            continue
        c["scheduled"] += 1
        if o == "fetch_failed":
            c["fetch_failures"] += 1
        elif o == "parse_failed":
            c["parse_failures"] += 1
        else:
            c["parsed"] += 1
    return c


_DRAIN_STATE = {
    "not_scheduled": ("pending", 0),
    "fetch_failed": ("pending", 1),
    "parse_failed": ("failed", 0),
    "parsed": ("parsed", 0),
}


def check_drain(con, root: str, corpus: Corpus) -> Dict[str, int]:
    """One unbounded-budget epoch on a fresh frontier: every frontier row's
    state, the podcast set, per-feed episode counts and the epoch's
    counters must follow from the residues.  Returns wrong rows by table."""
    fman = manifest(root, "frontier")
    front = con.execute(
        f"SELECT url, state, retries FROM {table_sql(fman)}"
    ).fetchall()
    wrong_frontier = abs(len(front) - len(corpus.window))
    parsed_urls = set()
    for url, state, retries in front:
        want = _DRAIN_STATE[expected_outcome(feed_id(url))]
        if (state, retries) != want:
            wrong_frontier += 1
        if want[0] == "parsed":
            parsed_urls.add(url)

    pods = {
        r[0]
        for r in con.execute(
            f"SELECT rss_feed_url FROM {table_sql(manifest(root, 'podcasts'))}"
        ).fetchall()
    }
    wrong_podcasts = len(pods ^ parsed_urls)

    pages = f"read_parquet('{corpus.pages_dir}/*.parquet')"
    items = dict(
        con.execute(
            "SELECT url, (length(decode(html)) - length(replace(decode(html), "
            f"'<item>', ''))) // 6 FROM {pages}"
        ).fetchall()
    )
    eps = dict(
        con.execute(
            "SELECT rss_feed_url, count(*) FROM "
            f"{table_sql(manifest(root, 'episodes'))} GROUP BY ALL"
        ).fetchall()
    )
    wrong_episodes = sum(abs(eps.get(u, 0) - items[u]) for u in parsed_urls)
    wrong_episodes += sum(n for u, n in eps.items() if u not in parsed_urls)

    want = expected_epoch_counts(corpus.window)
    got = fman["metrics"]
    wrong_counts = sum(abs(got[k] - v) for k, v in want.items())
    return {
        "frontier": wrong_frontier,
        "podcasts": wrong_podcasts,
        "episodes": wrong_episodes,
        "epoch_counts": wrong_counts,
    }


def check_texts(con, corpus: Corpus, parsed) -> int:
    """Rows of ``parsed`` (url, extracted_text, parse_error_kind) whose
    outcome or extracted text differs from the generator's golden
    ``pages.text``."""
    pages = f"read_parquet('{corpus.pages_dir}/*.parquet')"
    golden = dict(con.execute(f"SELECT url, text FROM {pages}").fetchall())
    wrong = abs(len(parsed) - len(golden))
    for url, text, err in parsed:
        ok = feed_id(url) % 97 not in PARSE_FAILURES
        if (err is None) != ok or (ok and text != golden.get(url)):
            wrong += 1
    return wrong


# -- epoch_steady ----------------------------------------------------------


def scheduled_between(con, pre: Dict, post: Dict) -> Set[str]:
    """URLs an epoch scheduled: exactly the frontier rows whose state,
    retry count or next fetch time it changed."""
    rows = con.execute(
        f"SELECT b.url FROM {table_sql(post)} b JOIN {table_sql(pre)} a USING (url_hash) "
        "WHERE b.state IS DISTINCT FROM a.state OR b.retries IS DISTINCT FROM a.retries "
        "OR b.next_fetch_ts IS DISTINCT FROM a.next_fetch_ts"
    ).fetchall()
    return {r[0] for r in rows}


def expected_schedule(
    con, pre: Dict, corpus: Corpus, epoch_ts: datetime, budget: int
) -> Set[str]:
    """Top-*budget* rows per host by ``(next_fetch_ts, priority, url_hash)``
    among due, robots-allowed rows of the frontier before the epoch."""
    ts = epoch_ts.replace(tzinfo=None).isoformat(sep=" ")
    robots = f"read_parquet('{corpus.robots_dir}/*.parquet')"
    rows = con.execute(
        f"""
        WITH due AS (
          SELECT f.url, f.host, f.next_fetch_ts, f.priority, f.url_hash,
                 regexp_extract(f.url, '{_PATH}', 1) AS path
          FROM {table_sql(pre)} f
          WHERE f.state <> 'failed' AND f.next_fetch_ts <= TIMESTAMP '{ts}'
        ), rules AS (
          SELECT host, flatten(list(disallow_prefixes)) AS prefixes FROM {robots}
          WHERE user_agent IN ('PodcastCrawler/1.0', '*') GROUP BY host
        ), allowed AS (
          SELECT due.* FROM due LEFT JOIN rules USING (host)
          WHERE NOT coalesce(
            len(list_filter(rules.prefixes, p -> starts_with(due.path, p))) > 0,
            false)
        )
        SELECT url FROM allowed QUALIFY row_number() OVER (
          PARTITION BY host ORDER BY next_fetch_ts, priority, url_hash) <= {budget}
        """
    ).fetchall()
    return {r[0] for r in rows}


def due_rows(con, pre: Dict, epoch_ts: datetime) -> int:
    """Frontier rows due at *epoch_ts* (before robots and budgets)."""
    ts = epoch_ts.replace(tzinfo=None).isoformat(sep=" ")
    return con.execute(
        f"SELECT count(*) FROM {table_sql(pre)} "
        f"WHERE state <> 'failed' AND next_fetch_ts <= TIMESTAMP '{ts}'"
    ).fetchone()[0]


def expected_podcast_count(scheduled_so_far: Set[str]) -> int:
    return sum(1 for u in scheduled_so_far if expected_outcome(feed_id(u)) == "parsed")


# -- API reads -------------------------------------------------------------


def check_reads(con, root: str, rec: Dict) -> int:
    """Compare one recorded read round with the same snapshots read here.
    *rec* holds the snapshot ids the round saw and each route's result."""
    pods = table_sql(manifest(root, "podcasts", rec["snapshots"]["podcasts"]))
    eps = table_sql(manifest(root, "episodes", rec["snapshots"]["episodes"]))
    mets = table_sql(manifest(root, "metrics", rec["snapshots"]["metrics"]))
    r = rec["results"]
    wrong = 0
    count = con.execute(f"SELECT count(*) FROM {pods}").fetchone()[0]
    wrong += abs(count - r["podcast_count"])
    page = [
        x[0]
        for x in con.execute(
            f"SELECT podcast_id FROM {pods} ORDER BY podcast_id LIMIT {rec['per_page']}"
        ).fetchall()
    ]
    wrong += _list_diff(page, r["podcasts_page"])
    ep_page = [
        x[0]
        for x in con.execute(
            f"SELECT guid FROM {eps} WHERE podcast_id = {rec['podcast_id']} "
            f"ORDER BY pub_date DESC NULLS LAST, guid LIMIT {rec['per_page']}"
        ).fetchall()
    ]
    wrong += _list_diff(ep_page, r["episodes_page"])
    q = rec["query"].replace("'", "''")
    hits = con.execute(
        f"SELECT count(*) FROM {pods} WHERE title ILIKE '%{q}%'"
    ).fetchone()[0]
    wrong += abs(hits - r["search"])
    epochs = [x[0] for x in con.execute(f"SELECT epoch FROM {mets} ORDER BY epoch").fetchall()]
    wrong += _list_diff(epochs, r["metrics"])
    return wrong


def _list_diff(want: List, got: List) -> int:
    return sum(1 for a, b in zip(want, got) if a != b) + abs(len(want) - len(got))


# -- admission -------------------------------------------------------------


def frontier_urls(con, root: str, snapshot_id: Optional[int] = None) -> Set[str]:
    man = manifest(root, "frontier", snapshot_id)
    return {r[0] for r in con.execute(f"SELECT url FROM {table_sql(man)}").fetchall()}

"""The oracle on a tiny hand-built corpus and hand-built snapshots (no Spark)."""

import json
import os
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import oracle
from perfbench.corpus import FEED_STRIDE, WINDOWS, Corpus, describe, feed_window
from podcast_crawler_spark.feedparse.rssparse import parse_feed_result
from podcast_crawler_spark.sources import pagesgen

T0 = datetime(2025, 1, 1)


def write_snapshot(root, table, snap_id, segments, resolve=None):
    """Lay out one snapshot the way SnapshotTable does: parquet segments
    plus a JSON manifest.  *segments* is a list of row-dict lists."""
    dirs = []
    for i, rows in enumerate(segments):
        d = os.path.join(root, table, "data", f"snap-{snap_id}-{i}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "part-0.parquet"))
        dirs.append(d)
    man = {
        "snapshot_id": snap_id,
        "data_dir": dirs[-1],
        "row_count": sum(len(r) for r in segments),
        "files": [{"file": "part-0.parquet", "bytes": 1, "rows": len(segments[-1])}],
        "metrics": {},
    }
    if resolve:
        man["segments"] = dirs
        man["resolve"] = resolve
    snap = os.path.join(root, table, "_snapshots")
    os.makedirs(snap, exist_ok=True)
    with open(os.path.join(snap, f"{snap_id}.json"), "w") as fh:
        json.dump(man, fh)
    return man


@pytest.fixture()
def con():
    return oracle.connect()


def test_windows_are_disjoint_and_keep_the_generator_shape():
    a, b = feed_window(0, 970), feed_window(1, 970)
    assert set(a).isdisjoint(b)
    d = describe(b)
    assert d["n_feeds"] == 970 and d["hot_hosts"] == 3
    assert d["hot_host_share"] == pytest.approx(0.3)
    assert all(v == 10 for v in d["failure_modes"].values())


def test_every_seed_maps_to_ids_that_fit_the_seed_schema():
    # rank = feed_id + 1 is a 32-bit column
    for seed in (-1, WINDOWS - 1, 2**31 + 5, 2**40, 2**64):
        w = feed_window(seed, 1000)
        assert w.start >= 1 and w.stop <= 2**31 - 1
    assert feed_window(WINDOWS + 3, 10) == feed_window(3, 10)
    with pytest.raises(ValueError):
        feed_window(0, FEED_STRIDE + 1)


def test_expected_epoch_counts_follow_residues():
    c = oracle.expected_epoch_counts(feed_window(3, 970))
    assert c["scheduled"] == 960  # 10 robots-denied feeds never scheduled
    assert c["fetch_failures"] == 10 and c["parse_failures"] == 30
    assert c["parsed"] == 920
    assert oracle.feed_id("https://x.example.org/feeds/show-1234.xml") == 1234
    with pytest.raises(ValueError):
        oracle.feed_id("https://x.example.org/ep/1")


def test_generator_residues_are_what_the_oracle_expects():
    """The designed failures really fail (and only those), per the kernel."""
    for fid in feed_window(5, 200):
        row = pagesgen.page_row(fid)
        outcome = oracle.expected_outcome(fid)
        if outcome == "fetch_failed":
            assert row is None
            continue
        res = parse_feed_result(row[2], row[0])
        assert (res["error_kind"] is not None) == (outcome == "parse_failed")


def _tiny_pages(tmp_path, window):
    rows = [r for f in window if (r := pagesgen.page_row(f)) is not None]
    d = tmp_path / "pages"
    d.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            [{"url": r[0], "html": r[2], "text": r[3]} for r in rows]
        ),
        d / "part-0.parquet",
    )
    corpus = Corpus(window, "t", str(d), "", "")
    return corpus, rows


def test_check_texts(tmp_path, con):
    window = feed_window(7, 120)
    corpus, rows = _tiny_pages(tmp_path, window)
    parsed = []
    for url, _, html, _, _ in rows:
        res = parse_feed_result(html, url)
        parsed.append((url, res["text"], res["error_kind"]))
    assert oracle.check_texts(con, corpus, parsed) == 0
    url, text, err = parsed[0]
    bad = [(url, text + "x", err)] + parsed[1:]
    assert oracle.check_texts(con, corpus, bad) == 1
    assert oracle.check_texts(con, corpus, parsed[1:]) == 1  # a row missing


def test_digest_is_order_free_and_resolves_segments(tmp_path, con):
    rows = [{"guid": "a", "_epoch": 1, "v": 1}, {"guid": "b", "_epoch": 1, "v": 2}]
    m1 = write_snapshot(str(tmp_path / "x"), "episodes", 1, [rows])
    m2 = write_snapshot(str(tmp_path / "y"), "episodes", 1, [rows[::-1]])
    assert oracle.digest(con, m1) == oracle.digest(con, m2)
    newer = [{"guid": "a", "_epoch": 2, "v": 9}]
    m3 = write_snapshot(
        str(tmp_path / "z"), "episodes", 2, [rows, newer],
        resolve={"key": "guid", "order_col": "_epoch"},
    )
    got = con.execute(f"SELECT guid, v FROM {oracle.table_sql(m3)} ORDER BY guid").fetchall()
    assert got == [("a", 9), ("b", 2)]
    assert oracle.digest(con, m3) != oracle.digest(con, m1)


def _frontier_row(url, host, prio, ts, state="pending"):
    return {
        "url": url, "host": host, "priority": prio, "next_fetch_ts": ts,
        "state": state, "url_hash": int(url.rsplit("/", 1)[1]), "retries": 0,
    }


def test_expected_schedule_top_k_per_host(tmp_path, con):
    robots = tmp_path / "robots"
    robots.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"host": "a", "user_agent": "PodcastCrawler/1.0",
                 "disallow_prefixes": ["/private/"], "crawl_delay_s": 2.0},
                {"host": "b", "user_agent": "OtherBot",
                 "disallow_prefixes": ["/"], "crawl_delay_s": 1.0},
            ]
        ),
        robots / "part-0.parquet",
    )
    corpus = Corpus(range(0), "t", "", "", str(robots))
    later = T0 + timedelta(hours=1)
    front = [
        _frontier_row("https://a/feeds/1", "a", 5, T0),
        _frontier_row("https://a/feeds/2", "a", 1, T0),
        _frontier_row("https://a/private/3", "a", 0, T0),  # robots-denied
        _frontier_row("https://a/feeds/4", "a", 0, T0, state="failed"),
        _frontier_row("https://a/feeds/5", "a", 0, later),  # not due
        _frontier_row("https://a/feeds/6", "a", 9, T0),  # beyond budget
        _frontier_row("https://b/x/7", "b", 3, T0),  # rule for another agent
        _frontier_row("https://c/y/8", "c", 3, T0, state="parsed"),  # no rules
    ]
    pre = write_snapshot(str(tmp_path / "s"), "frontier", 1, [front])
    want = oracle.expected_schedule(con, pre, corpus, T0, budget=2)
    assert want == {"https://a/feeds/2", "https://a/feeds/1", "https://b/x/7", "https://c/y/8"}
    assert oracle.due_rows(con, pre, T0) == 6

    post_rows = [dict(r) for r in front]
    post_rows[1]["next_fetch_ts"] = T0 + timedelta(hours=2)  # parsed and rescheduled
    post_rows[6]["retries"] = 1  # fetch failure
    post = write_snapshot(str(tmp_path / "s"), "frontier", 2, [post_rows])
    assert oracle.scheduled_between(con, pre, post) == {"https://a/feeds/2", "https://b/x/7"}


def test_expected_podcast_count_skips_designed_failures():
    ok = "https://h/feeds/show-1.xml"
    no_page = f"https://h/feeds/show-{97 + pagesgen.FAIL_NO_PAGE}.xml"
    bad = f"https://h/feeds/show-{pagesgen.FAIL_BAD_ENTITY}.xml"
    assert oracle.expected_podcast_count({ok, no_page, bad}) == 1

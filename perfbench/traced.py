"""Traced compositions of one crawl epoch and one URL admission.

Each mirrors its engine entry point (``plans.epoch.run_epoch``,
``plans.epoch.admit_urls``) call for call, in the same order, but runs
the layers one after another and materializes every output at its
boundary so each layer gets its own span and its own Spark stages.  The
commits therefore run sequentially here, where ``run_epoch`` overlaps
them on three threads; the difference shows in the tracing overhead.
The workloads check that both paths leave identical state.
"""

from __future__ import annotations

from datetime import datetime

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from podcast_crawler_spark.functions.udfs import explode_episodes, parse_pages
from podcast_crawler_spark.functions.urlfns import (
    canonicalize_url,
    host_hash,
    is_valid_url,
    url_hash,
    url_host,
)
from podcast_crawler_spark.operators.frontier import (
    CrawlConfig,
    apply_epoch_results,
    schedule_epoch,
)
from podcast_crawler_spark.operators.seen import (
    bloom_probe_partitioned,
    update_bloom_shards,
)
from podcast_crawler_spark.plans.checkpoint import resolve_lww
from podcast_crawler_spark.plans.epoch import (
    PASSTHROUGH,
    CrawlState,
    _stamp_stages,
    seen_shards_current,
)
from podcast_crawler_spark.sources.bucketed import fetch_join_bucketed

from .tracing import Tracer

SCRATCH_COLS = [
    "url",
    "url_hash",
    "fetch_ok",
    "podcast",
    "episodes",
    "parse_error_kind",
    "parse_error_message",
]
METRICS_SCHEMA = pa.schema(
    [
        pa.field("epoch", pa.int32()),
        pa.field("epoch_ts", pa.timestamp("us")),
        pa.field("scheduled", pa.int64()),
        pa.field("fetched", pa.int64()),
        pa.field("parsed", pa.int64()),
        pa.field("fetch_failures", pa.int64()),
        pa.field("parse_failures", pa.int64()),
    ]
)


def _files_bytes(man) -> tuple:
    return len(man["files"]), sum(f["bytes"] for f in man["files"])


def _commit_out(spark, tr: Tracer, table, updates, key, epoch_no, cfg, out) -> None:
    with tr.span("checkpoint.delta_write"):
        if table.current_snapshot_id() is None:
            table.commit(updates, metrics={"epoch": epoch_no})
        else:
            table.commit_delta(updates, key, "_epoch", metrics={"epoch": epoch_no})
    n, b = _files_bytes(table.manifest())
    out["delta_bytes"] += b
    out["files_written"] += n
    if table.num_segments() >= cfg.compact_segments:
        with tr.span("checkpoint.compact"):
            table.compact(spark, metrics={"epoch": epoch_no})
        n, b = _files_bytes(table.manifest())
        out["compactions"] += 1
        out["files_written"] += n


def traced_epoch(
    spark, state: CrawlState, robots, epoch_ts: datetime, cfg: CrawlConfig, tr: Tracer
) -> dict:
    """One epoch, layer by layer; returns the epoch's counters."""
    epoch_no = state.completed_epochs() + 1
    out = {"delta_bytes": 0, "files_written": 0, "compactions": 0}
    with tr.span("checkpoint.read"):
        frontier = state.frontier.read(spark)

    with tr.span("frontier.schedule"):
        scheduled = schedule_epoch(
            frontier.select(
                "url", "url_hash", "host", "host_hash", "priority",
                "next_fetch_ts", "state",
            ),
            robots,
            epoch_ts,
            cfg,
        ).persist()
        out["scheduled_rows"] = scheduled.count()

    with tr.span("bucketed.fetch"):
        fetched = fetch_join_bucketed(scheduled, spark, cfg.pages_bucketed_table).persist()
        row = fetched.agg(
            F.count(F.lit(1)), F.sum(F.col("fetch_ok").cast("long"))
        ).first()
        out["fetch_rows"], out["fetch_ok"] = row[0], row[1] or 0

    with tr.span("udfs.parse"):
        obs = Observation(f"traced-epoch-{epoch_no}")
        parse_ok = F.col("fetch_ok") & F.col("parse_error_kind").isNull()
        observed = parse_pages(fetched, passthrough=PASSTHROUGH).observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.coalesce(F.sum(F.col("fetch_ok").cast("long")), F.lit(0)).alias("n_fetch_ok"),
            F.coalesce(F.sum(parse_ok.cast("long")), F.lit(0)).alias("n_parse_ok"),
        )
        parsed = observed.select(*SCRATCH_COLS).persist(StorageLevel.DISK_ONLY)
        parsed.write.format("noop").mode("overwrite").save()
        m = obs.get
    out.update(total=m["total"], n_fetch_ok=m["n_fetch_ok"], n_parse_ok=m["n_parse_ok"])

    ok = parsed.filter(F.col("parse_error_kind").isNull())
    epoch_lit = F.lit(epoch_no)
    podcasts_new = resolve_lww(
        ok.select(
            F.xxhash64("podcast.rss_feed_url").alias("podcast_id"),
            F.col("podcast.*"),
            epoch_lit.alias("_epoch"),
        ),
        "rss_feed_url",
        "_epoch",
    )
    episodes_new = resolve_lww(
        explode_episodes(parsed).withColumn("_epoch", epoch_lit), "guid", "_epoch"
    )

    with tr.span("frontier.update"):
        outcomes = parsed.select(
            "url_hash", "fetch_ok", "parse_error_kind", "parse_error_message"
        )
        if m["total"] <= cfg.broadcast_outcomes_max_rows:
            outcomes = F.broadcast(outcomes)
        new_frontier = _stamp_stages(
            apply_epoch_results(frontier, outcomes, epoch_ts, cfg), epoch_ts
        )
        if m["total"] > cfg.broadcast_outcomes_max_rows:
            new_frontier = new_frontier.repartition(cfg.num_partitions, "host_hash")
        new_frontier = new_frontier.persist()
        new_frontier.count()

    scoped = {}
    if cfg.commit_advisory_bytes:
        for k, v in (
            ("spark.sql.adaptive.advisoryPartitionSizeInBytes", cfg.commit_advisory_bytes),
            ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"),
        ):
            scoped[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
    try:
        if m["n_parse_ok"] > 0:
            _commit_out(spark, tr, state.podcasts, podcasts_new, "rss_feed_url", epoch_no, cfg, out)
            _commit_out(spark, tr, state.episodes, episodes_new, "guid", epoch_no, cfg, out)
        with tr.span("checkpoint.frontier_write"):
            staged = state.frontier.prepare(new_frontier)
    finally:
        for k, old in scoped.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
    out["frontier_bytes"] = sum(f["bytes"] for f in staged["files"])
    out["files_written"] += len(staged["files"])

    total, n_fetch_ok, n_parse_ok = m["total"], m["n_fetch_ok"], m["n_parse_ok"]
    with tr.span("checkpoint.publish"):
        state.metrics.commit_local(
            [
                (
                    epoch_no,
                    epoch_ts.replace(tzinfo=None),
                    total,
                    n_fetch_ok,
                    n_parse_ok,
                    total - n_fetch_ok,
                    n_fetch_ok - n_parse_ok,
                )
            ],
            METRICS_SCHEMA,
            metrics={"epoch": epoch_no},
        )
        state.frontier.publish(
            staged,
            metrics={
                "epoch": epoch_no,
                "epoch_ts": epoch_ts.isoformat(),
                "scheduled": total,
                "fetched": n_fetch_ok,
                "parsed": n_parse_ok,
                "fetch_failures": total - n_fetch_ok,
                "parse_failures": n_fetch_ok - n_parse_ok,
            },
        )
    out["files_written"] += 1
    for df in (scheduled, fetched, parsed, new_frontier):
        df.unpersist()
    return out


def traced_admit(
    spark, state: CrawlState, urls, epoch_ts: datetime, cfg: CrawlConfig, tr: Tracer,
    priority: int = 1_000_000,
) -> dict:
    """One ``admit_urls`` call (bloom path), layer by layer."""
    out = {}
    with tr.span("checkpoint.read"):
        frontier = state.frontier.read(spark)
        shards = seen_shards_current(spark, state, cfg)
        meta = state.seen_shards.manifest()["metrics"]
        num_shards = meta.get("num_shards") or cfg.num_partitions
        rows_before = state.frontier.manifest()["row_count"]
    cand = (
        urls.select("url")
        .filter(is_valid_url(F.col("url")))
        .withColumn("canonical_url", canonicalize_url(F.col("url")))
        .withColumn("url_hash", url_hash(F.col("canonical_url")))
    )
    w = Window.partitionBy("canonical_url").orderBy("url")
    cand = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    with tr.span("seen.probe"):
        probed = bloom_probe_partitioned(cand, shards, "url_hash", num_shards).persist()
        row = probed.agg(
            F.count(F.lit(1)), F.sum(F.col("maybe_seen").cast("long"))
        ).first()
        out["candidates"], out["maybes"] = row[0], row[1] or 0
    definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybes = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    seen_keys = frontier.select("url_hash")

    hits = None
    with tr.span("admit.verify"):
        out["hits"] = 0
        if out["maybes"] == 0:
            fresh = definite_new
        elif out["maybes"] <= cfg.verify_broadcast_max_rows:
            hits = seen_keys.join(
                F.broadcast(maybes.select("url_hash")), "url_hash", "left_semi"
            ).persist()
            out["hits"] = hits.count()
            fresh = definite_new.unionByName(
                maybes.join(F.broadcast(hits), "url_hash", "left_anti")
            )
        else:
            fresh = definite_new.unionByName(
                maybes.join(seen_keys, "url_hash", "left_anti")
            )
        fresh = fresh.persist()
        fresh.count()

    rows = fresh.select(
        "url",
        "canonical_url",
        "url_hash",
        url_host(F.col("url")).alias("host"),
        host_hash(url_host(F.col("url"))).alias("host_hash"),
        F.lit(priority).cast("int").alias("priority"),
        F.lit(epoch_ts).cast("timestamp").alias("next_fetch_ts"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(cfg.max_retries).cast("int").alias("max_retries"),
        F.lit("pending").alias("state"),
        F.lit(None).cast("string").alias("last_error"),
        F.lit(None).cast("string").alias("error_kind"),
        F.lit(None)
        .cast(
            "array<struct<name:string,status:string,start_ts:timestamp,"
            "end_ts:timestamp,error:string>>"
        )
        .alias("stages"),
    )
    with tr.span("seen.fold"):
        expected = meta.get("expected_keys") or 100_000
        state.seen_shards.commit(
            update_bloom_shards(
                state.seen_shards.read(spark),
                cand.select("url_hash"),
                "url_hash",
                num_shards,
                expected_keys_per_shard=max(1, expected // num_shards),
            ),
            metrics={
                "op": "seen_fold",
                "epoch": state.completed_epochs(),
                "expected_keys": expected,
                "num_shards": num_shards,
            },
        )
    out["shard_bytes"] = _files_bytes(state.seen_shards.manifest())[1]
    with tr.span("admit.frontier_commit"):
        state.frontier.commit(
            frontier.unionByName(rows.select(*frontier.columns)).repartition(
                cfg.num_partitions, "host_hash"
            ),
            metrics={"epoch": state.completed_epochs(), "op": "admit_discovered"},
        )
    out["admitted_rows"] = state.frontier.manifest()["row_count"] - rows_before
    probed.unpersist()
    fresh.unpersist()
    if hits is not None:
        hits.unpersist()
    return out

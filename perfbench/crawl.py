"""The `crawl` workload: the frontier engine on a seeded synthetic web.

A run is one pass: a fresh catalog, ``bootstrap()``, then a fixed plan
of epochs with the bench crawl config (wide 10 h epoch windows,
replenish 1000, 32 shards).  Epoch 1 is the fat one: it carries the
per-URL work (politeness walk, flat resolver, discovery groupBy, bloom
flag, admission anti-join), and host 0 holds 30% of the pages, so the
top-k/rank skew path runs.  After ``restart_after`` epochs the engine
restarts: flush metrics, ``spark.catalog.clearCache()``, a new
``FrontierEngine`` on the same catalog root, ``bootstrap()`` (the resume
path, which reads the snapshot layer back).  ``compact_delta_ratio`` is
set so the delta log compacts in the next epoch, which folds the bloom
and rebuilds its broadcast.  Every epoch also pays the per-epoch fixed cost.

The timed window runs from the first epoch's start to the end of the
final ``flush_pending_metrics()``, restart included.  The pass runs once
whatever ``--seconds`` says, so every run measures the same cold work.
"""

from __future__ import annotations

import glob
import json
import os
import time

from harness import (Ctx, Result, cpu_stat, cpu_window, dir_stats, jvm_gc_ms,
                     jvm_peak_rss_mb, log, median)

SIZES = {
    "full": dict(n_pages=20_000, n_hosts=140, n_seeds=12_000, epochs=2,
                 restart_after=1),
    "tiny": dict(n_pages=3_000, n_hosts=40, n_seeds=1_000, epochs=2,
                 restart_after=1),
}
LOG_COLS = ("seq", "url_hash", "url_canon", "host", "hop", "seed_id",
            "retry_count", "fetch_start_ms", "fetch_ms", "status", "outcome",
            "epoch")


def crawl_config(epochs: int):
    from bitextor_spark.config import CrawlConfig

    return CrawlConfig(
        max_epochs=epochs, max_retries=1, max_fetches=10_000_000,
        replenish_per_epoch=1000, epoch_window_ms=36_000_000,
        num_host_shards=32, bloom_bits_per_shard=1 << 20,
        compact_delta_ratio=1.0,
    )


def _new_engine(spark, cfg, root, dfs):
    from bitextor_spark.frontier.engine import FrontierEngine

    return FrontierEngine(spark, cfg, root, dfs["pages"], dfs["robots"],
                          dfs["seeds"], use_bloom=True)


def crawl_pass(spark, cfg, root, dfs, plan, restart=True) -> dict:
    """Bootstrap a fresh catalog and run the epoch plan."""
    t_setup = time.time()
    eng = _new_engine(spark, cfg, root, dfs)
    eng.bootstrap()
    out = {"setup_s": time.time() - t_setup, "epochs": [], "resume_s": None}
    t0 = time.time()
    out["start"] = t0
    for i in range(plan["epochs"]):
        t_restart = None
        if restart and i == plan["restart_after"]:
            t_restart = time.time()
            eng.flush_pending_metrics()
            spark.catalog.clearCache()
            eng = _new_engine(spark, cfg, root, dfs)
            eng.bootstrap()
        epoch_no = int(eng.meta()["epoch"])
        te = time.time()
        st = eng.run_epoch()
        t_end = time.time()
        if t_restart is not None:
            out["resume_s"] = t_end - t_restart
        timings = dict(eng.last_timings)
        out["epochs"].append({
            "epoch": epoch_no, "start": te, "end": t_end, "wall": t_end - te,
            "attempts": st.attempts, "fetched": st.fetched,
            "new_urls": st.new_urls, "queued": st.queued_remaining,
            "n_jobs": timings.pop("n_jobs", 0), "phases": timings,
        })
    eng.flush_pending_metrics()
    out["end"] = time.time()
    out["wall"] = out["end"] - t0
    out["engine"] = eng
    return out


def compactions(root: str) -> int:
    """Base rewrites of the frontier after bootstrap, from the manifests."""
    snaps = set()
    for path in glob.glob(os.path.join(root, "**", "manifest-*.json"),
                          recursive=True):
        with open(path) as fh:
            fr = json.load(fh)["tables"].get("frontier", {})
        if fr.get("kind") == "replace":
            snaps.update(fr.get("paths", []))
    return max(len(snaps) - 1, 0)


def digests(spark, eng, robots, cfg) -> dict:
    """Order-sensitive fetch-log digest per epoch, a frontier digest, and
    the seed-independent invariants.  bit_xor of xxhash64 never
    overflows (a plain sum of hashes does under ANSI mode)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    fl = eng.fetch_log().select(*LOG_COLS).localCheckpoint()
    per_epoch = {
        int(r["epoch"]): {"n": int(r["n"]), "xor": int(r["x"])}
        for r in fl.groupBy("epoch").agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*LOG_COLS)).alias("x")).collect()
    }
    fr = eng.frontier()
    fr_row = fr.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url_hash").alias("u"),
        F.bit_xor(F.xxhash64(*fr.columns)).alias("x")).collect()[0]
    missing = (fl.select("url_hash").distinct()
               .join(fr.select("url_hash"), "url_hash", "left_anti").count())
    # politeness: consecutive fetch starts per host keep the effective delay
    w = Window.partitionBy("host").orderBy("fetch_start_ms", "seq")
    cd = F.least(F.coalesce(F.col("crawl_delay_s"), F.lit(0)),
                 F.lit(cfg.respect_crawl_delay_up_to_s)) * 1000
    snooze = F.greatest(
        F.lit(cfg.min_delay_ms),
        F.least(F.lit(cfg.max_delay_ms),
                (F.lit(cfg.delay_factor) * F.col("p_ms")).cast("long")))
    violations = (
        fl.join(robots.select("host", "crawl_delay_s"), "host", "left")
        .withColumn("p_start", F.lag("fetch_start_ms").over(w))
        .withColumn("p_ms", F.lag("fetch_ms").over(w))
        .filter(F.col("p_start").isNotNull())
        .filter(F.col("fetch_start_ms") - F.col("p_start")
                < F.col("p_ms") + F.greatest(snooze, cd))
        .count())
    return {
        "per_epoch": {str(k): v for k, v in sorted(per_epoch.items())},
        "frontier": {"n": int(fr_row["n"]), "xor": int(fr_row["x"])},
        "frontier_unique": int(fr_row["u"]) == int(fr_row["n"]),
        "fetched_missing": int(missing),
        "politeness_violations": int(violations),
    }


def check(got: dict, epochs: list[dict], pin: dict | None,
          tamper: bool) -> tuple[bool, list[str]]:
    errs = []
    if tamper:  # fault injection: one epoch's digest gains a phantom row
        first = next(iter(got["per_epoch"].values()))
        first["n"] += 1
        first["xor"] ^= 1
    if not got["frontier_unique"]:
        errs.append("frontier url_hash not unique")
    if got["fetched_missing"]:
        errs.append(f"{got['fetched_missing']} fetched URLs not in frontier")
    if got["politeness_violations"]:
        errs.append(f"{got['politeness_violations']} politeness violations")
    attempts = [e["attempts"] for e in epochs]
    counts = [got["per_epoch"].get(str(e["epoch"]), {}).get("n", 0)
              for e in epochs]
    if counts != attempts:
        errs.append(f"fetch_log rows per epoch {counts} != attempts "
                    f"{attempts}")
    if pin is not None:
        if attempts != pin["attempts"]:
            errs.append(f"attempts {attempts} != pinned {pin['attempts']}")
        if got["per_epoch"] != pin["per_epoch"]:
            errs.append("fetch_log digest != pinned uninterrupted crawl")
        if got["frontier"] != pin["frontier"]:
            errs.append("frontier digest != pinned uninterrupted crawl")
    return not errs, errs


def run(ctx: Ctx, write_pin: bool = False) -> Result:
    from bitextor_spark.frontier.world import spark_world

    import harness
    from evlog import Wrappers, phase_split, read_event_log, window_split

    plan = SIZES[ctx.size]
    ctx.fingerprint = harness.fingerprint(ctx, plan)
    spark = harness.start_spark(
        ctx, shuffle_partitions=2 * (os.cpu_count() or 1),
        conf={"spark.sql.adaptive.enabled": "false"})
    log(f"session up at {time.time() - ctx.t_proc0:.2f}s")
    wraps = Wrappers().install() if ctx.trace else None
    dfs = spark_world(spark, n_pages=plan["n_pages"], n_hosts=plan["n_hosts"],
                      mean_outlinks=10, seed=ctx.seed,
                      n_seeds=plan["n_seeds"])
    cfg = crawl_config(plan["epochs"])
    root = os.path.join(ctx.work, "data", "catalog")
    gc0, cpu0 = jvm_gc_ms(spark), cpu_stat()
    p = crawl_pass(spark, cfg, root, dfs, plan, restart=not write_pin)
    t_start, t_end = p["start"], p["end"]
    gc1, box = jvm_gc_ms(spark), cpu_window(cpu0, cpu_stat())
    if wraps:
        wraps.remove()
    epochs = p["epochs"]
    n_bytes, n_files = dir_stats(root)
    log(f"setup {p['setup_s']:.2f}s wall {p['wall']:.2f}s epochs "
        f"{[round(e['wall'], 2) for e in epochs]} attempts "
        f"{[e['attempts'] for e in epochs]}")
    if p["wall"] > ctx.seconds:
        log(f"the pass took {p['wall']:.2f}s, over --seconds {ctx.seconds}")

    t_chk = time.time()
    got = digests(spark, p["engine"], dfs["robots"], cfg)
    log(f"checks {time.time() - t_chk:.2f}s")
    key = f"{ctx.size}/{ctx.seed}"
    if write_pin:
        harness.save_pin("crawl", key, {
            "attempts": [e["attempts"] for e in epochs],
            "per_epoch": got["per_epoch"], "frontier": got["frontier"]})
    ok, errs = check(got, epochs, harness.pinned("crawl", key), ctx.tamper)
    for e in errs:
        log(f"CHECK FAILED: {e}")
    peak_rss = jvm_peak_rss_mb(spark)

    tot_att = sum(e["attempts"] for e in epochs)
    e2e = {
        "items_per_s": tot_att / p["wall"],
        "work_s": p["wall"],
        "setup_s": t_start - ctx.t_proc0,
    }
    layers: dict[str, float] = {}
    if ctx.trace:
        for ph in harness.ENGINE_PHASES:
            layers[f"engine.{ph}.wall_s"] = sum(
                e["phases"].get(ph, 0.0) for e in epochs)
        fetched = sum(e["fetched"] for e in epochs)
        new_urls = sum(e["new_urls"] for e in epochs)
        layers.update({
            "engine.jobs_per_epoch": median(e["n_jobs"] for e in epochs),
            "engine.fat_epoch_s": epochs[0]["wall"],
            "engine.resume_epoch_s": p["resume_s"] or 0.0,
            "engine.phase_cover_pct": 100.0 * sum(
                sum(e["phases"].values()) for e in epochs)
            / sum(e["wall"] for e in epochs),
            "frontier.attempts": tot_att,
            "frontier.fetched": fetched,
            "frontier.new_urls": new_urls,
            "frontier.queued_remaining": epochs[-1]["queued"],
            "frontier.fetched_per_attempt": fetched / max(tot_att, 1),
            "frontier.new_per_attempt": new_urls / max(tot_att, 1),
            "seen.broadcast_calls": wraps.bcast_calls,
            "seen.broadcast_s": wraps.bcast_s,
            "snapshots.commits": wraps.commits,
            "snapshots.commit_s": wraps.commit_s,
            "snapshots.bytes_written_mb": n_bytes / 2**20,
            "snapshots.bytes_per_attempt": n_bytes / max(tot_att, 1),
            "snapshots.files": n_files,
            "snapshots.compactions": compactions(root),
            "jvm.gc_s": (gc1 - gc0) / 1000.0,
            "jvm.peak_rss_mb": peak_rss,
        })
        layers.update(box)
    harness.stop_spark(ctx)
    if ctx.trace:
        ev = read_event_log(ctx.event_dir)
        layers.update(phase_split(ev, epochs, t_start, t_end))
        layers.update(window_split(ev, t_start, t_end))
    return Result(correct=ok, attempted=len(epochs), e2e=e2e,
                  layers=layers, notes={"errors": errs, "box": box})

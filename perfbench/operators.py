"""The `operators` workload: the bypass that never touches the engine.

The battery of the 24 headline registry queries (``harness.BATTERY``)
runs once over seeded synthetic tables (``tables.py``), each
materialized in full (an eager ``localCheckpoint``, so the checked rows
are the timed ones without a second run), followed by a fixed number of
rounds of a standalone frontier-dedup bloom: ``seen.update_blooms``
builds shards from a seeded key range and ``seen.flag_maybe_seen``
probes a mix of inserted and fresh keys.  This covers ``operators/``,
``functions/``, ``plans/``, ``sources/warc`` and ``seen`` without the
crawl loop.  ``work_s`` is the wall of the whole timed window, battery
and bloom rounds together, as the crawl's is its whole timed window.

Correctness, outside the timed window: every query's rows, normalized by
``tools/driver_gate.normalize`` (columns by name, floats to 6 places),
must equal its DuckDB oracle over the same tables as a multiset of rows,
and for pinned (size, seed) pairs the row count and row hash must equal
the pins.
The bloom must flag every inserted key (no false negatives).
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import Counter

from tools.driver_gate import normalize

from harness import (BATTERY, Ctx, Result, cpu_stat, cpu_window, jvm_gc_ms,
                     jvm_peak_rss_mb, log, median)

SIZES = {
    "full": dict(sf=0.01, bloom_keys=500_000, bloom_rounds=3),
    "tiny": dict(sf=0.001, bloom_keys=50_000, bloom_rounds=1),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
BLOOM_BITS, BLOOM_K = 1 << 24, 5


def same_rows(a, b) -> bool:
    """Normalized results equal as multisets of rows.  ``normalize`` sorts
    rows by their text, which puts -0.0 and 0.0 (equal values: a rounded
    cosine of zero comes back signed from one engine and not the other)
    at different places, so the sorted lists can differ on equal rows."""
    return a[0] == b[0] and Counter(a[1]) == Counter(b[1])


def row_hash(cols, rows) -> str:
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]


def _warm_up(spark, sf_dir):
    """Untimed: start the Python workers (numpy/pandas/pyarrow imports)
    and run one parquet scan + aggregate that is not in the battery, so
    the session's one-time costs land on no timed query.  Each battery
    query then runs once, in a fixed order, as warm as the queries
    before it leave the session."""
    import pandas as pd
    from pyspark.sql import functions as F

    def touch(batches):
        import bitextor_spark.functions.text  # noqa: F401

        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    n = os.cpu_count() or 1
    spark.range(0, 4 * n, 1, n).mapInPandas(touch, "n long").collect()
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .groupBy("o_orderstatus").agg(F.sum("o_totalprice")) \
        .write.format("noop").mode("overwrite").save()


def battery(spark, sf_dir) -> tuple[dict, dict]:
    """Each query once, fully materialized; its walls and kept rows."""
    from bitextor_spark.queries import QUERIES

    walls, kept = {}, {}
    for name in BATTERY:
        t0 = time.perf_counter()
        kept[name] = QUERIES[name](spark, sf_dir).localCheckpoint(eager=True)
        walls[name] = time.perf_counter() - t0
    return walls, kept


def bloom_round(spark, seed: int, n_keys: int) -> dict:
    """Build shards from keys [base, base+n) and probe half inserted,
    half fresh keys; returns walls and the exact flag counts."""
    from pyspark.sql import functions as F

    from bitextor_spark.frontier import seen

    n_shards = 2 * (os.cpu_count() or 1)
    base = (seed % 1_000_003) * 4 * n_keys
    inserted = spark.range(base, base + n_keys).select(
        F.xxhash64("id").alias("url_hash"))
    t0 = time.perf_counter()
    blooms = seen.update_blooms(
        seen.empty_blooms(spark, n_shards, BLOOM_BITS), inserted,
        n_shards, BLOOM_BITS, BLOOM_K).localCheckpoint()
    t1 = time.perf_counter()
    half = n_keys // 2
    probes = spark.range(base + n_keys - half, base + 2 * n_keys - half) \
        .select(F.xxhash64("id").alias("url_hash"),
                (F.col("id") < base + n_keys).alias("inserted"))
    counts = {
        bool(r["inserted"]): int(r["n"])
        for r in seen.flag_maybe_seen(probes, blooms, n_shards, BLOOM_BITS,
                                      BLOOM_K)
        .filter("maybe_seen").groupBy("inserted").count()
        .withColumnRenamed("count", "n").collect()
    }
    t2 = time.perf_counter()
    blooms.unpersist()
    return {"build_s": t1 - t0, "probe_s": t2 - t1, "n_keys": n_keys,
            "hits_inserted": counts.get(True, 0), "n_inserted_probes": half,
            "false_positives": counts.get(False, 0)}


def oracle_rows(sf_dir: str, names) -> dict:
    import duckdb

    from bitextor_spark.queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    out = {}
    for name in names:
        rel = con.sql(ORACLES[name])
        out[name] = normalize(list(rel.columns), rel.fetchall())
    con.close()
    return out


def run(ctx: Ctx, write_pin: bool = False) -> Result:
    import harness
    from evlog import read_event_log, window_split
    from tables import write_tables

    plan = SIZES[ctx.size]
    ctx.fingerprint = harness.fingerprint(ctx, plan)
    sf_dir = os.path.join(ctx.work, "data", "sf")
    write_tables(sf_dir, plan["sf"], ctx.seed)
    spark = harness.start_spark(ctx, shuffle_partitions=os.cpu_count() or 1,
                                conf={})
    _warm_up(spark, sf_dir)

    gc0, cpu0 = jvm_gc_ms(spark), cpu_stat()
    t_start = time.time()
    setup_s = t_start - ctx.t_proc0
    walls, kept = battery(spark, sf_dir)
    log(f"battery: {sum(walls.values()):.2f}s "
        + " ".join(f"{n}={w:.2f}" for n, w in walls.items()))
    # the first bloom round runs about twice as long as the rest (its
    # first-run cost); the median of the fixed number of rounds drops it
    blooms = [bloom_round(spark, ctx.seed, plan["bloom_keys"])
              for _ in range(plan["bloom_rounds"])]
    t_end = time.time()
    gc1, box = jvm_gc_ms(spark), cpu_window(cpu0, cpu_stat())
    log(f"timed window {t_end - t_start:.2f}s; bloom build/probe s: " + ", ".join(
        f"{b['build_s']:.2f}/{b['probe_s']:.2f}" for b in blooms))
    if t_end - t_start > ctx.seconds:
        log(f"the timed window took {t_end - t_start:.2f}s, over --seconds "
            f"{ctx.seconds}")

    # ---- correctness, outside the timed window ----
    got = {}
    for name in BATTERY:
        ck = kept[name]
        got[name] = normalize(ck.columns, [tuple(r) for r in ck.collect()])
        ck.unpersist()
    if ctx.tamper:  # fault injection: one query loses a row
        cols, rows = got[BATTERY[0]]
        got[BATTERY[0]] = (cols, rows[1:])
    errs = []
    want = oracle_rows(sf_dir, BATTERY)
    for name in BATTERY:
        if not same_rows(got[name], want[name]):
            errs.append(f"{name}: rows differ from the DuckDB oracle "
                        f"({len(got[name][1])} vs {len(want[name][1])})")
    b0 = blooms[0]
    for b in blooms:
        if b["hits_inserted"] != b["n_inserted_probes"]:
            errs.append(f"bloom: {b['n_inserted_probes'] - b['hits_inserted']}"
                        " inserted keys not flagged")
        if b["false_positives"] != b0["false_positives"]:
            errs.append("bloom: false positives differ between rounds")
    pin_now = {"queries": {n: [len(got[n][1]), row_hash(*got[n])]
                           for n in BATTERY},
               "bloom_false_positives": b0["false_positives"]}
    key = f"{ctx.size}/{ctx.seed}"
    if write_pin:
        if errs:
            raise RuntimeError("refusing to pin failing results: "
                               + "; ".join(errs))
        harness.save_pin("operators", key, pin_now)
    pin = harness.pinned("operators", key)
    if pin is not None:
        for n in BATTERY:
            if pin_now["queries"][n] != pin["queries"].get(n):
                errs.append(f"{n}: row count/hash {pin_now['queries'][n]} != "
                            f"pinned {pin['queries'].get(n)}")
        if pin_now["bloom_false_positives"] != pin["bloom_false_positives"]:
            errs.append("bloom false positives != pinned")
    for e in errs:
        log(f"CHECK FAILED: {e}")
    log(f"checks {time.time() - t_end:.2f}s")
    peak_rss = jvm_peak_rss_mb(spark)
    harness.stop_spark(ctx)

    bloom_rates = [2 * b["n_keys"] / (b["build_s"] + b["probe_s"])
                   for b in blooms]
    e2e = {
        "items_per_s": median(bloom_rates),
        "work_s": t_end - t_start,
        "setup_s": setup_s,
    }
    layers: dict[str, float] = {}
    if ctx.trace:
        layers["queries.battery_s"] = sum(walls.values())
        layers.update({f"queries.{n}_s": v for n, v in walls.items()})
        layers.update({
            "seen.build_keys_per_s": median(
                b["n_keys"] / b["build_s"] for b in blooms),
            "seen.probe_keys_per_s": median(
                b["n_keys"] / b["probe_s"] for b in blooms),
            "seen.false_positives": b0["false_positives"],
            "jvm.gc_s": (gc1 - gc0) / 1000.0,
            "jvm.peak_rss_mb": peak_rss,
        })
        layers.update(box)
        layers.update(window_split(read_event_log(ctx.event_dir),
                                   t_start, t_end))
    attempted = len(BATTERY) + 2 * len(blooms)
    return Result(correct=not errs, attempted=attempted, e2e=e2e,
                  layers=layers, notes={"errors": errs, "box": box})

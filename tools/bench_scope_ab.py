"""Decompose the discovery stage's cost: scope expressions vs winner-agg.

The r5 stage profile shows the epoch's largest
stage is the discovery tail — resolver → apply_scope → groupBy(url_canon)
min(struct) — burning ~400 s of task time at 16 cores on the fat epoch
while the resolver alone is ~1.3 s.  Two suspects remain inside that
stage:

- ``apply_scope``'s expressions: 4× ``parse_url`` (CodegenFallback — one
  boxed java.net.URI construction per call per row) and the
  ``F.aggregate``/``F.filter`` higher-order functions (interpreted per
  path segment, outside whole-stage codegen);
- the ``min(struct)`` winner pick: struct buffers are not HashAggregate
  mutable types, so Spark plans a SortAggregate — a full per-partition
  sort of the ~8M-row resolver output on both sides of the exchange.

This harness races the shipped tail against surgical knockouts on the
bench world's resolver output (persisted once, so only the tail differs).
Variants:

  full        apply_scope + groupBy min(struct)   (shipped)
  cheapscope  joins kept, in_scope = seed-domain only (no parse_url/HOF)
  countagg    apply_scope + count(*) agg          (HashAggregate)
  optscope    optimized scope exprs + min(struct) (candidate fix)

Run: ``python tools/bench_scope_ab.py [cpus]``.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def winner_agg(scoped):
    return scoped.groupBy("url_canon").agg(
        F.min(
            F.when(
                F.col("in_scope"),
                F.struct("fetch_start_ms", "disc_host", "disc_url",
                         "hop", "seed_id", "host", "trans_hops",
                         "priority"),
            )
        ).alias("w"),
        F.sum(F.when(F.col("in_scope"), 1).otherwise(0)).alias("n_disc"),
        F.sum(F.when(~F.col("in_scope"), 1).otherwise(0)).alias("n_reject"),
        F.max("host").alias("_any_host"),
    )


def main() -> None:
    from bitextor_spark.config import CrawlConfig
    from bitextor_spark.frontier.world import spark_world
    from bitextor_spark.functions.urls import make_flat_resolver
    from bitextor_spark.plans.scope import apply_scope
    from bitextor_spark.session import get_spark

    cpus = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_CPUS", "16"
    )
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=32,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    cfg = CrawlConfig()
    dfs = spark_world(spark, n_pages=800_000, n_hosts=6000, mean_outlinks=10,
                      seed=42, n_seeds=100)
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    disc_in = dfs["pages"].select(
        F.col("url_canon").alias("disc_url"),
        F.lit(1).cast("int").alias("hop"),
        F.lit(0).cast("long").alias("seed_id"),
        F.lit(0).cast("long").alias("fetch_start_ms"),
        F.col("host").alias("disc_host"),
        F.lit(0).cast("int").alias("parent_trans"),
        F.lit(1.0).alias("parent_priority"),
        F.slice("outlinks", 1, cfg.max_outlinks).alias("outlinks"),
    )
    _pass = ["disc_url", "hop", "seed_id", "fetch_start_ms", "disc_host",
             "parent_trans"]
    raw_links = disc_in.mapInArrow(
        make_flat_resolver("disc_url", "outlinks", "parent_priority", _pass),
        StructType(
            [disc_in.schema[n] for n in _pass]
            + [StructField("cash", DoubleType()),
               StructField("cand_canon", StringType()),
               StructField("cand_host", StringType()),
               StructField("cand_reg_domain", StringType())]
        ),
    )
    from bitextor_spark.plans.scope import is_embed_col

    candidates = raw_links.select(
        F.col("cand_canon").alias("url_canon"),
        (F.col("hop") + 1).cast("int").alias("hop"),
        "seed_id", "fetch_start_ms", "disc_host", "disc_url",
        F.col("cand_host").alias("host"),
        F.col("cand_reg_domain").alias("reg_domain"),
        F.when(is_embed_col(F.col("cand_canon"), cfg), F.col("parent_trans") + 1)
        .otherwise(F.lit(0)).cast("int").alias("trans_hops"),
        F.col("cash").alias("priority"),
    )
    candidates = candidates.persist()
    n_cand = candidates.count()
    # same shape the engine materializes at bootstrap: the distinct seed
    # registered domains (cost-equivalent stand-in: every world domain)
    seed_domains = candidates.select("reg_domain").distinct().persist()
    seed_domains.count()
    robots = dfs["robots"].persist()
    robots.count()

    def full(c):
        return winner_agg(apply_scope(c, seed_domains, robots, cfg))

    def cheapscope(c):
        df = (
            c.join(
                F.broadcast(
                    seed_domains.withColumn("_seed_dom", F.lit(True))
                ),
                "reg_domain", "left",
            )
            .join(
                F.broadcast(robots.select("host", "disallow_prefixes")),
                "host", "left",
            )
            .withColumn(
                "in_scope", F.coalesce(F.col("_seed_dom"), F.lit(False))
            )
            .drop("_seed_dom", "disallow_prefixes")
        )
        return winner_agg(df)

    def countagg(c):
        return (
            apply_scope(c, seed_domains, robots, cfg)
            .groupBy("url_canon")
            .agg(
                F.sum(F.when(F.col("in_scope"), 1).otherwise(0)).alias("n_disc"),
                F.sum(F.when(~F.col("in_scope"), 1).otherwise(0)).alias(
                    "n_reject"
                ),
                F.max("host").alias("_any_host"),
            )
        )

    variants = {"full": full, "cheapscope": cheapscope, "countagg": countagg}

    def force(df):
        t0 = time.time()
        n = df.count()
        return time.time() - t0, n

    for v in variants.values():
        force(v(candidates))  # warm
    print(f"candidates={n_cand}")
    for i in range(3):
        parts = []
        for name, v in variants.items():
            t, n = force(v(candidates))
            parts.append(f"{name} {t:.2f}s (n={n})")
        print(f"round {i}: " + "  ".join(parts))
    spark.stop()


if __name__ == "__main__":
    main()

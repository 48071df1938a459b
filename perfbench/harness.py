"""Shared plumbing for the benchmark workloads: checkout-local scratch
space, the Spark session, box/JVM probes, the run fingerprint and the
result record."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import pyspark

ENGINE_PHASES = ("pin_delta", "topk_gate", "plan_candidates", "state_updates",
                 "discovery_dag", "metrics_dag", "commit")
PHASE_FIELDS = (("wall_s", "s"), ("driver_s", "s"), ("task_s", "s"),
                ("offcpu_s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"),
                ("spill_mb", "MB"), ("skew", "ratio"))
# The operator battery: the repository's 24 headline registry queries
# (bench.HEADLINE, same order), and the package functions each one calls:
#   q1_pricing_summary, w1_topk_per_group, events_windowed_agg,
#   events_sessionize      none (plain SQL plans)
#   o1_multikey_sort       plans.ordering.global_row_number
#   o4_range_batching      plans.ordering.global_ntile
#   dedup_exact_first      operators.dedup.first_per_group
#   dedup_minhash_lsh      operators.dedup.minhash_signature,
#                          minhash_lsh_pairs, token_hashes;
#                          functions.hashes.h64, functions.text.tokens
#   dedup_simhash_pairs    operators.dedup.simhash_signatures, simhash_pairs,
#                          hamming_pairs
#   dedup_ngram_jaccard    operators.dedup.ngram_jaccard_pairs;
#                          functions.text.shingles
#   dedup_embedding_cosine operators.similarity.embedding_neardup_pairs,
#                          lsh_table_bucket
#   ann_cosine_topk        operators.similarity.cosine_topk, dot
#   ann_lsh_bucketed       operators.similarity.bucketed_ann_topk, sign_bucket
#   ann_ivf_topk           operators.similarity.ivf_cosine_topk, nearest
#   text_analysis          functions.text.tokens, token_count,
#                          stopword_count, normalized_text
#   tfidf_similarity       operators.tfidf.tfidf_vectors,
#                          tfidf_similarity_join
#   t1_jaccard_overlap, word_freq, inverted_index, f6_structure_distance
#                          functions.text.tokens
#   warc_roundtrip_stats   sources.warc.write_warc_shards, read_warc
#   p7_langid_trigram      models.load_langid_profile
#   img_phash_neardup, img_pipeline
#                          functions.images (synthesized images, no table)
# Once, cold, at sf 0.01 the 24 take 30-40 s on a 4-core box, mostly
# per-query planning and first-run cost.
BATTERY = (
    "q1_pricing_summary", "w1_topk_per_group", "o1_multikey_sort",
    "o4_range_batching", "dedup_exact_first", "dedup_minhash_lsh",
    "dedup_simhash_pairs", "dedup_ngram_jaccard", "dedup_embedding_cosine",
    "ann_cosine_topk", "ann_lsh_bucketed", "text_analysis",
    "tfidf_similarity", "t1_jaccard_overlap", "events_windowed_agg",
    "events_sessionize", "word_freq", "inverted_index", "ann_ivf_topk",
    "warc_roundtrip_stats", "f6_structure_distance", "p7_langid_trigram",
    "img_phash_neardup", "img_pipeline",
)


def _layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in printed order.  A traced run
    prints all of them on every workload; a layer it does not run reads 0."""
    units = {}
    for ph in ENGINE_PHASES:
        for f, u in PHASE_FIELDS:
            units[f"engine.{ph}.{f}"] = u
    units.update({
        "engine.jobs_per_epoch": "count", "engine.fat_epoch_s": "s",
        "engine.resume_epoch_s": "s",
        "engine.side.jobs": "count", "engine.side.task_s": "s",
        "engine.phase_cover_pct": "%",
        "frontier.attempts": "count", "frontier.fetched": "count",
        "frontier.new_urls": "count", "frontier.queued_remaining": "count",
        "frontier.fetched_per_attempt": "ratio",
        "frontier.new_per_attempt": "ratio",
        "seen.broadcast_calls": "count", "seen.broadcast_s": "s",
        "seen.false_positives": "count",
        "seen.build_keys_per_s": "1/s", "seen.probe_keys_per_s": "1/s",
        "snapshots.commits": "count", "snapshots.commit_s": "s",
        "snapshots.bytes_written_mb": "MB",
        "snapshots.bytes_per_attempt": "B", "snapshots.files": "count",
        "snapshots.compactions": "count",
    })
    units["queries.battery_s"] = "s"
    for q in BATTERY:
        units[f"queries.{q}_s"] = "s"
    units.update({
        "spark.jobs": "count", "spark.task_s": "s", "spark.driver_s": "s",
        "spark.offcpu_s": "s", "spark.shuffle_mb": "MB",
        "spark.spill_mb": "MB",
        "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
        "host.steal_pct": "%", "host.busy_pct": "%",
    })
    return units


LAYER_UNITS = _layer_units()
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
E2E_UNITS = {"items_per_s": "1/s", "work_s": "s", "setup_s": "s"}


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str
    tamper: bool
    root: str
    work: str
    t_proc0: float  # wall clock at process start
    spark: object = None
    event_dir: str | None = None
    fingerprint: dict = field(default_factory=dict)


@dataclass
class Result:
    """A run's outcome.  A failed check fails every operation of the run;
    an operation that raises aborts the run instead."""
    correct: bool
    attempted: int
    e2e: dict[str, float]
    layers: dict[str, float]
    notes: dict = field(default_factory=dict)

    def line(self, trace: bool) -> dict:
        units = LAYER_UNITS if trace else E2E_UNITS
        src = self.layers if trace else self.e2e
        metrics = {k: {"value": float(src.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        failed = 0 if self.correct else self.attempted
        return {"correct": bool(self.correct), "attempted": int(self.attempted),
                "failed": int(failed), "metrics": metrics}


def prepare_dirs(work: str) -> dict[str, str]:
    """Scratch dirs under the checkout; TMPDIR points there so Python-side
    temp files (driver and workers) stay inside it too."""
    dirs = {k: os.path.join(work, k)
            for k in ("tmp", "spark-local", "warehouse", "events", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # no JVM, the spark-submit launcher included, writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = dirs["tmp"]
    return dirs


def start_spark(ctx: Ctx, shuffle_partitions: int, conf: dict[str, str]):
    """local[nproc] session with at most nproc task threads; every file it
    writes lands under the run's scratch dir."""
    from bitextor_spark.session import get_spark

    dirs = prepare_dirs(ctx.work)
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ctx.root, os.environ.get("PYTHONPATH")) if p)
    jopts = (f"-Djava.io.tmpdir={dirs['tmp']} "
             f"-Dderby.system.home={dirs['warehouse']}")
    full = {
        "spark.driver.memory": "3g",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": jopts,
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        ctx.event_dir = dirs["events"]
        full.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + dirs["events"],
        })
    full.update(conf)
    ncpu = os.cpu_count() or 1
    spark = get_spark(app_name=f"perfbench-{ctx.workload}",
                      master=f"local[{ncpu}]",
                      shuffle_partitions=shuffle_partitions, extra_conf=full)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def stop_spark(ctx: Ctx) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    spark, ctx.spark = ctx.spark, None
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass


# ------------------------------------------------------------------ pins --

def _load_pins() -> dict:
    if not os.path.exists(PINS):
        return {}
    with open(PINS) as fh:
        return json.load(fh)


def pinned(workload: str, key: str) -> dict | None:
    """Digests recorded for (size/seed) ``key``, or None."""
    return _load_pins().get(workload, {}).get(key)


def save_pin(workload: str, key: str, value: dict) -> None:
    pins = _load_pins()
    pins.setdefault(workload, {})[key] = value
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


# ---------------------------------------------------------------- probes --

def cpu_stat() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            return list(map(int, fh.readline().split()[1:]))
    except (OSError, ValueError):
        return None


def cpu_window(before, after) -> dict[str, float]:
    """Box-wide steal% and busy% between two /proc/stat samples."""
    if not before or not after:
        return {}
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    if total <= 0:
        return {}
    idle = d[3] + d[4]
    steal = d[7] if len(d) > 7 else 0
    return {"host.steal_pct": 100.0 * steal / total,
            "host.busy_pct": 100.0 * (total - idle) / total}


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the gateway JVM."""
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except Exception:
        pass
    return 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    n_bytes = n_files = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(base, f))
                n_files += 1
            except OSError:
                pass
    return n_bytes, n_files


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ----------------------------------------------------------- fingerprint --

def source_digest(root: str) -> str:
    """Content hash of the package sources: identifies the code measured
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "bitextor_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                             cwd=root, capture_output=True, text=True,
                             timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fingerprint(ctx: Ctx, params: dict) -> dict:
    mem_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return {
        "workload": ctx.workload, "seed": ctx.seed, "size": ctx.size,
        "seconds": ctx.seconds, "trace": ctx.trace,
        "nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__, "git": git_sha(ctx.root),
        "src": source_digest(ctx.root), "params": params,
    }


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)

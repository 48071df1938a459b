"""Crawl scope rules (C7/C8) as Catalyst column expressions.

The Heritrix decide-rule chain (crawler-beans.cxml:131-186) folds into one
boolean column: hop limit, host blacklist substrings
(bitextor/Snakefile:99-100), seed-domain prefix acceptance, path-depth
limit, pathological-repetition limit, robots disallow prefixes. Everything
runs JVM-side inside whole-stage codegen.

Path extraction (r5 rewrite, measured): ``parse_url`` is CodegenFallback —
one boxed ``java.net.URI`` construction per call per row — and in Spark 4
it THROWS on invalid URLs (a raw space or a stray ``|`` in a discovered
link would kill the epoch job). The scope chain needed it 4× per row plus
higher-order functions (interpreted per path segment), together ~4 s of
the 12 s discovery materialization at 16 cores on the fat bench epoch.
``url_path_col`` replaces all of it: one compiled-regex fast path for the
RFC-3986 ASCII common case (codegen, never throws) with a
``try_parse_url`` fallback for the residue (unicode paths, IPv6 hosts,
invalid URLs → NULL); segment depth becomes split-arithmetic and the
pathological-repeat rule becomes a single backreference regex. Exact
parity with the parse_url/HOF originals (rebuilt there as references) is
asserted in tests/test_scope_fast.py over adversarial URL corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bitextor_spark.config import CrawlConfig

# RFC-3986 ASCII subset java.net.URI accepts verbatim: on this set the
# regex extraction equals URI.getRawPath exactly (probed + property-
# tested); everything else falls back to try_parse_url. The gate is two
# LINEAR regexes — plain character classes with possessive quantifiers
# (a per-char `(?:pchar|%hh)*` alternation form measured ~2x slower than
# the java.net.URI it replaced) — plus one bad-%-escape lookahead scan.
_PC = r"\-A-Za-z0-9._~!$&'()*+,;=:@%"
FAST_URL_PATTERN = (
    r"^[A-Za-z][A-Za-z0-9+.\-]*+://"
    rf"[{_PC}]*+"
    rf"(?:/[{_PC}/]*+)?"
    rf"(?:\?[{_PC}/?]*+)?"
    rf"(?:#[{_PC}/?]*+)?$"
)
_BAD_PCT = r"%(?![0-9A-Fa-f]{2})"
_PATH_EXTRACT = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"


def url_path_col(url_col: Column) -> Column:
    """``parse_url(url, 'PATH')`` twin that never throws.

    Fast path: two class-based rlikes + one regexp_extract (whole-stage
    codegen) for clean ASCII URLs. Residue: ``try_parse_url`` (NULL on
    invalid input — Spark 4's plain ``parse_url`` raises INVALID_URL
    instead)."""
    return F.when(
        url_col.rlike(FAST_URL_PATTERN) & ~url_col.rlike(_BAD_PCT),
        F.regexp_extract(url_col, _PATH_EXTRACT, 1),
    ).otherwise(F.try_parse_url(url_col, F.lit("PATH")))


def _depth_of_path(path_col: Column) -> Column:
    """Non-empty path segment count from a PATH column, split-arithmetic
    only: strip boundary slashes, split on slash runs. '' → 0; NULL flows
    through exactly like the HOF original (size of a null array)."""
    trimmed = F.regexp_replace(path_col, r"^/+|/+$", "")
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, "/+"))
    )


def _has_repeat_run_col(path_col: Column, max_repetitions: int) -> Column:
    """True when some path segment repeats adjacently more than
    ``max_repetitions`` times — the boolean the scope chain needs, as ONE
    backreference regex instead of the HOF max-run scan. ``(?:^|/)``
    anchors the capture to a segment start; each ``/+\\1`` occurrence
    self-enforces that the capture ended at a segment boundary (a
    mid-segment capture-end is never followed by ``/``), so the FULL
    segment is the only capture that can ever succeed — which makes the
    possessive quantifiers below semantics-preserving while removing the
    backtracking (linear scan even on kilobyte single-segment paths); the
    lookahead closes the final boundary."""
    pat = rf"(?:^|/)/*+([^/]++)(?:/++\1){{{max_repetitions}}}(?=/|$)"
    return path_col.rlike(pat)


def path_depth_col(url_col: Column) -> Column:
    """Non-empty path segment count of a URL (fast path extraction)."""
    return _depth_of_path(url_path_col(url_col))


def blacklist_col(host_col: Column, cfg: CrawlConfig) -> Column:
    """True when the host matches a blacklist substring (C8)."""
    pattern = "|".join(cfg.blacklist_hosts)
    return host_col.rlike(pattern)


def is_embed_col(url_col: Column, cfg: CrawlConfig) -> Column:
    """Transclusion-kind link: resource extension ⇒ embed hop ('E' in the
    Heritrix hop path; kind derived from the URL, deterministic on both
    engine and simulator)."""
    path = F.lower(F.coalesce(url_path_col(url_col), F.lit("")))
    out = F.lit(False)
    for ext in cfg.embed_extensions:
        out = out | path.endswith(ext)
    return out


def regex_reject_col(url_col: Column, cfg: CrawlConfig) -> Column:
    """Custom REJECT regex list (MatchesListRegexDecideRule slot)."""
    out = F.lit(False)
    for pat in cfg.reject_url_regexes:
        out = out | url_col.rlike(pat)
    return out


def _robots_disallowed_of_path(path_col: Column, prefixes_col: Column) -> Column:
    return F.when(prefixes_col.isNull(), F.lit(False)).otherwise(
        F.exists(prefixes_col, lambda p: path_col.startswith(p))
    )


def apply_scope(
    candidates: DataFrame,
    seed_domains: DataFrame,  # single column reg_domain (broadcast)
    robots: DataFrame,  # host, crawl_delay_s, disallow_prefixes (broadcast)
    cfg: CrawlConfig,
    hop_col: str = "hop",
    trans_col: str = "trans_hops",
) -> DataFrame:
    """Annotate candidates (url_canon, host, reg_domain, hop, trans_hops)
    with in_scope.

    Full decide-rule chain, last-match-wins order re-expressed as one
    boolean (crawler-beans.cxml:131-186):

      REJECT-all → ACCEPT seed-domain → REJECT hops>max →
      ACCEPT transclusion (1 ≤ trans_hops ≤ max) → REJECT path-depth →
      REJECT pathological-repeat → REJECT blacklist → REJECT custom-regex →
      REJECT robots-disallow → ACCEPT prerequisite

      in_scope = prereq ∨ (¬late_rejects ∧ (trans_ok ∨ (seed ∧ hop_ok)))

    Returns the input plus boolean ``in_scope``; the caller splits kept/
    rejected so per-host reject metrics (C17) fall out of one pass. If the
    input has no ``trans_hops`` column it is treated as 0 (seed scope).

    The path is extracted ONCE per row into a hidden column (explicit
    reuse — no reliance on codegen subexpression elimination) and every
    path-derived rule reads it."""
    if trans_col not in candidates.columns:
        candidates = candidates.withColumn(trans_col, F.lit(0))
    df = (
        candidates.join(
            F.broadcast(seed_domains.withColumn("_seed_dom", F.lit(True))),
            "reg_domain",
            "left",
        )
        .join(
            F.broadcast(robots.select("host", "disallow_prefixes")), "host", "left"
        )
        .withColumn("_scope_path", url_path_col(F.col("url_canon")))
    )
    url = F.col("url_canon")
    path = F.col("_scope_path")
    seed_ok = (
        F.coalesce(F.col("_seed_dom"), F.lit(False))
        & (F.col(hop_col) <= cfg.max_hops)
    )
    trans_ok = (F.col(trans_col) >= 1) & (F.col(trans_col) <= cfg.max_trans_hops)
    late_reject = (
        (_depth_of_path(path) > cfg.max_path_depth)
        | _has_repeat_run_col(path, cfg.max_repetitions)
        | blacklist_col(F.col("host"), cfg)
        | regex_reject_col(url, cfg)
        | _robots_disallowed_of_path(
            F.coalesce(path, F.lit("/")), F.col("disallow_prefixes")
        )
    )
    in_scope = F.coalesce(path, F.lit("/")).isin(*cfg.prerequisite_paths) | (
        ~late_reject & (trans_ok | seed_ok)
    )
    return df.withColumn("in_scope", in_scope).drop(
        "_seed_dom", "disallow_prefixes", "_scope_path"
    )

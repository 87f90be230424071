"""URL / domain filtering — the corpus-hygiene step that runs BEFORE
content heuristics in a web pipeline (C4 §2.2, RefinedWeb §3.1 both
describe it qualitatively; implementation is original).

- ``domain_blocklist_flag``: block a page when its host OR ANY PARENT
  DOMAIN is listed (``a.b.example.com`` is blocked by ``example.com``)
  — the standard suffix-chain semantics. Small in-process blocklists
  become one constant-folded ``arrays_overlap`` over the host's
  suffix chain (whole-stage codegen, ZERO shuffle, zero joins); a
  DataFrame blocklist (millions of domains — the realistic registry
  size) goes through bounded posexplode of the suffix chain +
  broadcast semi-join + one map-side-combined aggregation.
- ``url_pattern_flag``: one native ``rlike`` over a combined
  alternation of path/query patterns (single regex pass; no
  per-pattern scans).
- ``apply_url_filters``: both flags on every row.

Host extraction reuses webdq.hostagg.HOST_REGEX (RFC-3986 scheme,
path-less URLs accepted) so the filter and the host-labeling pipeline
can never disagree on what "the host" is.

Reference analog: the reference's category filters (P1/P2,
/root/reference/osmdq/utils.py:606-622) are membership predicates over
a derived key; domain blocking is the same predicate family over the
url-derived host, re-expressed for the web payload.

Scale notes (10^12 pages): the list path is a per-row expression —
scales embarrassingly; the DataFrame path explodes ≤ MAX_LABELS rows
per page pre-shuffle and the only shuffle is the flag re-aggregation
keyed by the page id (skew-free: page ids are unique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdq.hostagg import host_col


# most dot-suffixes domain_suffix_chain emits per host
MAX_LABELS = 10


def domain_suffix_chain(url_col: str = "url") -> F.Column:
    """Array of the host's dot-suffixes, shortest first:
    ``a.b.example.com`` → [com, example.com, b.example.com,
    a.b.example.com] (capped at ``MAX_LABELS`` shortest suffixes — a
    hostile 1000-label host cannot blow up the fanout)."""
    labels = F.split(F.lower(host_col(url_col)), r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), F.least(n, F.lit(MAX_LABELS))),
        lambda i: F.array_join(F.slice(labels, n - i + 1, i), "."),
    )


def domain_blocklist_flag(
    df: DataFrame,
    blocklist,
    url_col: str = "url",
    id_col: str = "url",
    out: str = "blocked_domain",
) -> DataFrame:
    """Add boolean ``out``: true iff the url's host or any parent
    domain appears in ``blocklist`` (a python iterable of domains —
    constant-folded codegen path — or a one-column DataFrame —
    broadcast-join path for registry-sized lists)."""
    sfx = domain_suffix_chain(url_col)
    if not isinstance(blocklist, DataFrame):
        bad = sorted({str(d).lower() for d in blocklist})
        # all-literal array → constant-folded once by Catalyst; the
        # overlap test stays inside whole-stage codegen. coalesce: a
        # NULL url yields a NULL suffix chain and arrays_overlap would
        # return NULL — the DataFrame-blocklist path coalesces to
        # false, so this path must too (a filter on the flag would
        # otherwise silently drop NULL-url rows).
        return df.withColumn(
            out,
            F.coalesce(
                F.arrays_overlap(sfx, F.array(*[F.lit(d) for d in bad])), F.lit(False)
            ),
        )
    bl = blocklist.select(F.lower(F.col(blocklist.columns[0])).alias("_bad")).dropDuplicates()
    hit = (
        df.select(F.col(id_col).alias("_uid"), F.explode(sfx).alias("_bad"))
        .join(F.broadcast(bl), "_bad", "left_semi")
        .groupBy("_uid")
        .agg(F.lit(True).alias("_hit"))
    )
    return (
        df.join(hit.withColumnRenamed("_uid", id_col), id_col, "left")
        .withColumn(out, F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_hit")
    )


def url_pattern_flag(
    df: DataFrame,
    patterns: list[str],
    url_col: str = "url",
    out: str = "blocked_pattern",
) -> DataFrame:
    """Add boolean ``out``: true iff the url matches ANY of
    ``patterns`` — combined into one alternation, one native regexp
    pass (keep patterns in the Java/RE2-common subset so oracles can
    replay them). A NULL url is false, as in ``domain_blocklist_flag``:
    ``rlike`` on NULL is NULL, and a filter on the flag would silently
    drop the row."""
    if not patterns:
        return df.withColumn(out, F.lit(False))
    combined = "|".join(f"(?:{p})" for p in patterns)
    return df.withColumn(out, F.coalesce(F.col(url_col).rlike(combined), F.lit(False)))


def apply_url_filters(
    df: DataFrame,
    blocklist=(),
    patterns: list[str] | None = None,
    url_col: str = "url",
    id_col: str = "url",
) -> DataFrame:
    """Both URL filters: every row, with ``blocked_domain`` and
    ``blocked_pattern`` booleans, never NULL (a NULL url is unblocked
    on both), so a filter on them drops only blocked rows."""
    out = domain_blocklist_flag(df, blocklist, url_col=url_col, id_col=id_col)
    return url_pattern_flag(out, list(patterns or []), url_col=url_col)


TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=.*)?$"


def canonicalize_url_col(url: F.Column) -> F.Column:
    """Canonical URL as a pure native expression — the normalization
    that runs BEFORE url-level exact dedup so trivially-distinct spam
    variants (case-shifted hosts, tracking params, fragments, default
    ports) collapse to one key:

    - scheme and authority lowercased (path/query case is preserved —
      it is significant per RFC 3986)
    - default port stripped (``:80`` for http, ``:443`` for https)
    - fragment dropped
    - tracking query params removed (``utm_*``, fbclid, gclid,
      msclkid, ref — the public C4/common-crawl hygiene set,
      ``TRACKING_PARAM_RE``), the ``?`` dropped when nothing survives
    - strings without a ``scheme://`` prefix pass through UNCHANGED
      (opaque keys are not urls; don't corrupt them)

    Everything is regexp_extract / lower / one same-element HOF filter
    — whole-stage codegen, zero shuffle, embarrassingly scalable, and
    replayable by any engine with RE2-compatible regex (the pattern
    set avoids Java-only constructs, as textprep's BPE pattern does)."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(url, r"^[^#]*\?([^#]*)", 1)
    kept = F.filter(F.split(query, "&"), lambda p: ~p.rlike(TRACKING_PARAM_RE))
    newq = F.array_join(kept, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when((query != "") & (newq != ""), F.concat(F.lit("?"), newq)).otherwise(
            F.lit("")
        ),
    )
    return F.when(scheme == "", url).otherwise(rebuilt)


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """DataFrame form of ``canonicalize_url_col`` (adds ``out_col``)."""
    return df.withColumn(out_col, canonicalize_url_col(F.col(url_col)))

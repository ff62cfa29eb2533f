"""URL-level corpus operators: canonicalization, URL dedup, domain caps.

The web-crawl pipeline stage that runs BEFORE content dedup (RefinedWeb
§3.1 "URL deduplication", CCNet, Dolma all dedup crawl snapshots by
normalized URL first — it removes the bulk of refetches for the cost of a
string projection, no text comparison at all), plus the per-domain quota
cap that keeps one hot domain from dominating a training mixture.

Everything here is pure ``pyspark.sql.functions`` Column expressions
(JVM-side, codegen'd, zero UDFs):

- :func:`normalize_url` — one projection; the documented canonical form.
- :func:`url_dedup` — one shuffle on the canonical URL. The key is
  near-unique (groups are refetch variants of one page, a handful of
  rows), so there is no skew to handle; Catalyst's rank-limit pushdown
  (``InferWindowGroupLimit``, see operators/topk.py) prunes map-side
  anyway, so the exchange carries ≤ tasks × |canon| × 1 rows.
- :func:`domain_filter` — blocklist anti-join (broadcast under a count
  guard); :func:`url_word_score` — the soft word-level URL score that
  complements the hard blocklist.
- :func:`domain_caps` — grouped top-``cap`` per registered domain. Domains
  ARE heavily skewed in a crawl (one domain can be a double-digit share of
  pages), which is exactly the shape the rank-limit pushdown was measured
  on: each map task keeps only its local ``cap`` rows per domain before
  the shuffle, so a 10-billion-page domain contributes O(tasks × cap)
  shuffled rows, not 10 billion.

Canonical form (documented contract — applied in this order):

1. fragment (``#…``) stripped;
2. scheme and host lowercased (userinfo, path, and query case preserved —
   RFC-3986 §3.2.1 userinfo is case-SENSITIVE);
3. a leading ``www.`` HOST label (never a ``www.``-prefixed userinfo) and
   a trailing root-dot (``host.`` ≡ ``host``) dropped;
4. an explicit SCHEME-DEFAULT port dropped — ``:80`` under ``http``,
   ``:443`` under ``https`` only (``http://h:443/a`` is a different
   resource than ``http://h/a`` and does not collapse);
5. trailing ``/`` stripped from the path;
6. tracking query params removed, case-insensitively (``utm_*``,
   ``fbclid``, ``gclid``, ``msclkid``, ``mc_cid``/``mc_eid``,
   ``ref_src`` — NOT bare ``ref``, which commonly identifies content,
   e.g. ``?ref=<branch>`` on code hosts; the set is caller-overridable
   via ``tracking_params`` on :func:`normalize_url` / :func:`url_dedup` /
   :func:`url_dedup_incremental`);
7. surviving query params sorted bytewise (order-insensitive form); an
   emptied query drops its ``?``.

RFC-3986 userinfo is kept BYTE-FOR-BYTE in the canonical form
(conservative: no false merges between distinct-userinfo URLs) but ALWAYS
stripped by :func:`url_host`/:func:`url_domain`, so the
``https://google.com@evil.site/`` evasion cannot bypass
:func:`domain_filter` blocklists or splinter :func:`domain_caps` groups.

A URL with no ``scheme://`` prefix passes through steps 1/5/6/7 only
(nothing is treated as an authority). :func:`url_domain` approximates the
registered domain as the last two host labels — a documented
approximation (no public-suffix list in this environment: ``co.uk``-style
suffixes come out as the suffix itself; swap in a PSL join table for
production crawls).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._joins import broadcast_if_fits
from .topk import grouped_topk

# query params that never identify content (analytics/attribution noise);
# matched case-insensitively — UTM_SOURCE= is as much tracking as
# utm_source=. Entries are regex fragments matched against the full param
# name. Bare `ref` is deliberately NOT here: it widely identifies content
# (?ref=<branch> on code hosts), so stripping it falsely merges distinct
# pages and url_dedup would permanently drop real documents.
DEFAULT_TRACKING_PARAMS = (
    "utm_[A-Za-z0-9_]*", "fbclid", "gclid", "msclkid",
    "mc_cid", "mc_eid", "ref_src",
)


def tracking_param_regex(params: Sequence[str]) -> str:
    """Case-insensitive ``name=`` prefix regex over the given param-name
    regex fragments (the :data:`DEFAULT_TRACKING_PARAMS` shape)."""
    return r"(?i)^(" + "|".join(params) + r")="


TRACKING_PARAM_REGEX = tracking_param_regex(DEFAULT_TRACKING_PARAMS)

# scheme://authority — scheme per RFC 3986, authority = up to first / ? #
_AUTH_PAT = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"


def normalize_url(
    col: Column, tracking_params: Optional[Sequence[str]] = None
) -> Column:
    """Canonical URL (module-docstring contract) as one codegen'd
    projection. ``tracking_params`` overrides the default strip set
    (regex fragments, :data:`DEFAULT_TRACKING_PARAMS` shape)."""
    pat = (
        TRACKING_PARAM_REGEX
        if tracking_params is None
        else tracking_param_regex(tracking_params)
    )
    # The splits below are plain substring scans (substring_index/substr),
    # not regex: canonicalization runs once per crawled URL, and the regex
    # formulation of the same splits measured ~20% slower end-to-end on
    # the 2M-URL dedup bench. The one regex kept on the full URL is the
    # authority match itself (scheme syntax needs a character class).
    base = F.substring_index(col, "#", 1)
    raw_auth = F.regexp_extract(base, _AUTH_PAT, 0)
    # split the authority: userinfo (up to the LAST @ — the RFC-3986
    # authority convention) is case-sensitive and kept byte-for-byte;
    # only scheme + host:port case-fold, and the www. strip must not
    # fire on a userinfo that merely BEGINS with "www."
    scheme = F.lower(F.substring_index(raw_auth, "://", 1))
    after = F.substr(raw_auth, F.length(scheme) + F.lit(4))
    hostport_raw = F.substring_index(after, "@", -1)
    userinfo = F.when(
        after.contains("@"),
        F.substr(after, F.lit(1), F.length(after) - F.length(hostport_raw)),
    ).otherwise(F.lit(""))
    hostport = F.lower(hostport_raw)
    hp = F.when(
        hostport.startswith("www."), F.substr(hostport, F.lit(5))
    ).otherwise(hostport)
    # a trailing root-dot FQDN host is DNS-identical to the dotless form
    hp = F.regexp_replace(hp, r"\.(:\d+)?$", "$1")
    # default ports are scheme-relative: :80 is only redundant under
    # http, :443 only under https ("http://h:443/a" is a DIFFERENT
    # resource than "http://h/a" and must not collapse into it)
    hp = (
        F.when(
            (scheme == "http") & hp.endswith(":80"),
            F.substr(hp, F.lit(1), F.length(hp) - F.lit(3)),
        )
        .when(
            (scheme == "https") & hp.endswith(":443"),
            F.substr(hp, F.lit(1), F.length(hp) - F.lit(4)),
        )
        .otherwise(hp)
    )
    schost = F.when(raw_auth == "", F.lit("")).otherwise(
        F.concat(scheme, F.lit("://"), userinfo, hp)
    )
    rest = F.substr(base, F.length(raw_auth) + F.lit(1))
    path_raw = F.substring_index(rest, "?", 1)
    path = F.regexp_replace(path_raw, r"/+$", "")
    query = F.when(
        rest.contains("?"), F.substr(rest, F.length(path_raw) + F.lit(2))
    ).otherwise(F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(pat),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        schost,
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(F.lit("")),
    )


def url_host(col: Column) -> Column:
    """Lowercased host with RFC-3986 userinfo (``user:pass@`` — the
    classic ``https://google.com@evil.site/`` blocklist evasion), any
    leading ``www.``, the port, and a trailing root-dot (``bad.com.`` is
    DNS-identical to ``bad.com``) all dropped; empty string when the
    value has no ``scheme://`` prefix."""
    h = F.lower(
        F.regexp_extract(
            col,
            r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#]*@)?([^/:?#]*)",
            1,
        )
    )
    return F.regexp_replace(h, r"^www\.|\.$", "")


def url_domain(col: Column) -> Column:
    """Registered-domain approximation: the last two dot-labels of the host
    (the full host when it has fewer). See module docstring for the
    no-PSL caveat."""
    host = url_host(col)
    apex = F.regexp_extract(host, r"[^.]+\.[^.]+$", 0)
    return F.when(apex != "", apex).otherwise(host)


def _derive_domain_col(
    df: DataFrame,
    url_col: str,
    domain_col: Optional[str],
    out_domain_col: str,
) -> str:
    """Shared domain-column resolution: a precomputed ``domain_col`` is
    used as-is; otherwise the domain is DERIVED into ``out_domain_col``,
    which must not already exist (silently replacing a caller's
    precomputed — possibly PSL-accurate — domain with the two-label
    approximation is the clobber the other operators' guards exist for)."""
    if domain_col is not None:
        if domain_col not in df.columns:
            raise ValueError(
                f"domain_col {domain_col!r} not found on the input "
                f"(have: {df.columns})"
            )
        return domain_col
    if out_domain_col in df.columns:
        raise ValueError(
            f"output column {out_domain_col!r} already exists on the input "
            f"— pass domain_col={out_domain_col!r} to use it, or a "
            f"different out_domain_col"
        )
    return out_domain_col


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    canon_col: str = "canonical_url",
    tracking_params: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Keep exactly one row per canonical URL — the one with the smallest
    ``id_col`` (deterministic across runs, retries, and repartitioning).

    Returns ``df``'s columns plus ``canon_col``. One wide projection + one
    shuffle on the canonical URL; scale notes in the module docstring.
    """
    clash = {canon_col, "__url_rk"} & set(df.columns)
    if clash:
        raise ValueError(
            f"url_dedup working/output columns {sorted(clash)} already exist "
            f"on the input — rename them or pass a different canon_col"
        )
    with_c = df.withColumn(
        canon_col, normalize_url(F.col(url_col), tracking_params)
    )
    kept = grouped_topk(
        with_c,
        [canon_col],
        [F.col(id_col).asc()],
        [id_col],
        1,
        rank_col="__url_rk",
    )
    return kept.drop("__url_rk")


def domain_caps(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: Optional[str] = None,
    order_by: Optional[Sequence[Column]] = None,
    out_domain_col: str = "domain",
) -> DataFrame:
    """Keep at most ``cap`` rows per registered domain.

    Default order is a deterministic hash of ``id_col`` (an unbiased
    within-domain sample, reproducible across runs); pass ``order_by``
    (e.g. ``[F.col("quality").desc(), F.col("doc_id")]``) to keep the
    best-scored pages instead. ``domain_col`` names a precomputed domain
    column; otherwise the domain is derived from ``url_col``.

    Skew note: hot domains are the NORM in crawls; the plan's Partial
    WindowGroupLimit (pinned in tests/test_pipeline_ops.py) prunes each
    map task to its local ``cap`` per domain before the exchange.
    """
    dcol = _derive_domain_col(df, url_col, domain_col, out_domain_col)
    src = df if domain_col is not None else df.withColumn(
        dcol, url_domain(F.col(url_col))
    )
    order = list(order_by) if order_by is not None else [
        F.xxhash64(F.col(id_col)).asc(),
        F.col(id_col).asc(),
    ]
    kept = grouped_topk(src, [dcol], order, [id_col], cap, rank_col="__dom_rk")
    return kept.drop("__dom_rk")


def domain_filter(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    domain_col: Optional[str] = None,
    out_domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose registered domain appears in ``blocked`` (a
    one-column DataFrame of domains) — the RefinedWeb §3.1 blocklist stage
    (their production list is 4.6 M domains).

    LEFT ANTI join on the domain. A blocklist is often a
    ``createDataFrame`` list, which Catalyst cannot size, so
    ``_joins.broadcast_if_fits`` hints the broadcast when a bounded count
    says it fits (a 4.6 M-domain list is past its cap, and the join
    shuffles). ``domain_col`` names a precomputed domain column;
    otherwise one is derived from ``url_col`` into ``out_domain_col``.
    """
    b_col = blocked.columns[0]
    b = broadcast_if_fits(
        blocked.select(F.col(b_col).alias("__blocked_domain")).distinct()
    )
    dcol = _derive_domain_col(df, url_col, domain_col, out_domain_col)
    src = df if domain_col is not None else df.withColumn(
        dcol, url_domain(F.col(url_col))
    )
    return src.join(b, F.col(dcol) == F.col("__blocked_domain"), "left_anti")


def url_word_score(
    col: Column,
    weighted_words: dict,
) -> Column:
    """Soft URL scoring (RefinedWeb §3.1's word-level URL score): the sum
    of weights of the flagged words that occur as substrings of the
    lowercased URL. One codegen'd projection — a chain of
    ``contains``-gated adds, no regex backtracking, no UDF. Callers
    threshold the score; the weight list is policy, so none ships here.
    """
    low = F.lower(col)
    score: Column = F.lit(0.0)
    for word, weight in sorted(weighted_words.items()):
        score = score + F.when(
            low.contains(word.lower()), F.lit(float(weight))
        ).otherwise(F.lit(0.0))
    return score


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    k: int = 20,
) -> DataFrame:
    """Top-``k`` domains by page count (desc, domain asc tie-break) — the
    crawl-composition report. Plans into hash-agg +
    ``TakeOrderedAndProject`` (never a full sort)."""
    return (
        df.select(url_domain(F.col(url_col)).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .orderBy(F.col("n_pages").desc(), F.col("domain").asc())
        .limit(k)
    )


def url_dedup_incremental(
    df: DataFrame,
    index: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    canon_col: str = "canonical_url",
    hash_col: str = "url_hash",
    tracking_params: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Incremental URL dedup for continuous crawl ingestion: drop pages
    whose canonical URL was already fetched in a prior snapshot (the
    historical ``index`` — a table with a ``hash_col`` column), then keep
    one row (min ``id_col``) per canonical URL within the batch itself.

    The index stores the 64-bit hash of the canonical URL, not the URL —
    8 bytes per known page (~8 TB of state at 10^12 pages vs ~80 for the
    strings), the same collision-accepting contract as
    ``dedup_exact_incremental``'s fingerprint index. Returns the kept rows
    WITH ``canon_col`` and ``hash_col`` so a pipeline appends
    ``kept.select(hash_col)`` to the index for the next snapshot.

    Shapes: one anti-join against the index on the uniformly-hashed key
    (skew-free by construction; Spark broadcasts whichever side fits) +
    the same rank-1 pushdown as :func:`url_dedup` within the batch. No
    window state, no driver state.
    """
    clash = {canon_col, hash_col, "__url_rk"} & set(df.columns)
    if clash:
        raise ValueError(
            f"url_dedup_incremental working/output columns {sorted(clash)} "
            f"already exist on the input — rename them or pass different "
            f"canon_col/hash_col"
        )
    if hash_col not in index.columns:
        raise ValueError(
            f"index is missing the required column {hash_col!r} "
            f"(have: {index.columns})"
        )
    with_c = df.withColumn(
        canon_col, normalize_url(F.col(url_col), tracking_params)
    )
    with_h = with_c.withColumn(hash_col, F.xxhash64(F.col(canon_col)))
    fresh = with_h.join(index.select(hash_col), hash_col, "left_anti")
    kept = grouped_topk(
        fresh,
        [hash_col],
        [F.col(id_col).asc()],
        [id_col],
        1,
        rank_col="__url_rk",
    )
    return kept.drop("__url_rk")

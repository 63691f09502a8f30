"""Hyperlink extraction over crawled HTML: page -> outgoing (href, anchor)
edges with relative-URL resolution and canonicalization.

The producer of every web-graph operator downstream (pagerank, redirect
resolution, crawl scheduling, host-level dedup): a Common-Crawl-style table
(url, html) becomes the directed link graph (src_url, dst_url, anchor).

Everything is JVM regexp/string column expressions — whole-stage codegen,
no Python in the hot path — and every pattern is RE2-compatible (no
backreferences, no lookarounds) so a DuckDB oracle replays the chain
byte-for-byte, the same portability contract as functions/url.py.

Scope (documented, deliberate): href values in double quotes, anchor text
without nested markup (``[^<]*``) — the regex-level contract a synthetic
corpus exercises; real-world soup needs an HTML parser (environment-gated).  Dot-segment (``../``) resolution is not
performed; relative hrefs resolve against the base directory as-is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from open_vector_tile_spark.functions.url import normalize_url

# one pattern, three uses: full-match inventory (group 0), href (1), anchor (2)
A_TAG_PATTERN = r'(?i)<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'

# schemes that are navigation no-ops for a crawler, plus bare fragments
_SKIP_PATTERN = r"(?i)^(javascript:|mailto:|tel:|data:)"


def resolve_href(href: Column, base_url: Column) -> Column:
    """RFC-3986-lite reference resolution as a column expression.

    absolute (``scheme://``) kept; protocol-relative (``//host/..``) gets
    the base scheme; root-relative (``/path``) gets scheme://host; anything
    else is appended to the base directory (the base path up to its last
    ``/``).  Returns NULL for non-navigational hrefs (javascript:/mailto:/
    tel:/data:, bare ``#fragment``, empty) — callers drop those rows.
    Scheme-less base URLs are treated as http (the crawl convention,
    mirroring normalize_url)."""
    b = F.when(
        base_url.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), base_url
    ).otherwise(F.concat(F.lit("http://"), base_url))
    scheme = F.regexp_extract(b, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    host = F.regexp_extract(b, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    path = F.regexp_extract(b, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    base_dir = F.when(
        path.rlike("/"), F.regexp_extract(path, r"^(.*/)", 1)
    ).otherwise(F.lit("/"))
    origin = F.concat(scheme, F.lit("://"), host)
    return (
        F.when(
            href.rlike(_SKIP_PATTERN)
            | F.startswith(href, F.lit("#"))
            | (href == F.lit("")),
            F.lit(None).cast("string"),
        )
        .when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), href)
        .when(F.startswith(href, F.lit("//")), F.concat(scheme, F.lit(":"), href))
        .when(F.startswith(href, F.lit("/")), F.concat(origin, href))
        .otherwise(F.concat(origin, base_dir, href))
    )


def extract_links(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    normalize: bool = True,
) -> DataFrame:
    """-> one row per <a href> tag: original columns (minus the html
    payload) + (href string, dst_url string, anchor string).

    ``dst_url`` is the resolved absolute target, canonicalized through
    normalize_url when ``normalize=True`` (so the edges key directly
    against url_dedup / redirect tables).  Non-navigational hrefs are
    dropped.  ``html_col`` may be binary (cast utf8) or string.

    Shape at 100 TB: regexp_extract_all + explode is map-side only — no
    shuffle; the html payload is pruned before the explode so only tag
    substrings fan out.  Pages without links vanish (inner explode),
    which is the edge-list contract; count pages separately.
    """
    reserved = {"_tag", "href", "anchor", "dst_url"} & {
        c for c in df.columns if c != html_col
    }
    if reserved:
        raise ValueError(
            f"extract_links output columns collide with input columns "
            f"{sorted(reserved)}; rename them first"
        )
    h = F.col(html_col).cast("string")
    keep = [c for c in df.columns if c != html_col]
    tags = df.select(
        *keep,
        F.explode(F.regexp_extract_all(h, F.lit(A_TAG_PATTERN), F.lit(0))).alias(
            "_tag"
        ),
    )
    # staged projections: href/dst_url become ATTRIBUTES before the next
    # stage references them.  Building resolve_href(extract_expr) /
    # normalize_url(resolve_expr) directly would copy each inner tree into
    # every outer reference (the Column DSL has no let-binding) — the
    # multiplied expression blows the JVM's 64 KB codegen method limit and
    # the whole projection falls back to interpreted mode.  Multi-use of a
    # non-cheap attribute also stops CollapseProject from re-inlining.
    hrefs = tags.select(
        *keep,
        F.regexp_extract(F.col("_tag"), A_TAG_PATTERN, 1).alias("href"),
        F.trim(F.regexp_extract(F.col("_tag"), A_TAG_PATTERN, 2)).alias("anchor"),
    )
    out = hrefs.select(
        *keep,
        "href",
        resolve_href(F.col("href"), F.col(url_col)).alias("dst_url"),
        "anchor",
    ).filter(F.col("dst_url").isNotNull())
    if normalize:
        out = out.withColumn("dst_url", normalize_url(F.col("dst_url")))
    return out


def host_edges(links: DataFrame, src: str = "url", dst: str = "dst_url") -> DataFrame:
    """Collapse a page-level link table to distinct host-level edges
    (src_host, dst_host), self-links dropped — the input pagerank wants at
    web scale (10^12 page edges -> 10^8 host edges, one distinct shuffle).
    Hosts are taken from already-normalized URLs (lowercased there)."""
    hp = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
    e = links.select(
        F.regexp_extract(F.col(src), hp, 1).alias("src_host"),
        F.regexp_extract(F.col(dst), hp, 1).alias("dst_host"),
    )
    return e.filter(
        (F.col("src_host") != F.col("dst_host"))
        & (F.col("src_host") != "")
        & (F.col("dst_host") != "")
    ).distinct()


def anchor_summary(
    links: DataFrame,
    src: str = "src_url",
    dst: str = "dst_url",
    anchor: str = "anchor",
    top_k: int = 3,
) -> DataFrame:
    """Per-target anchor-text aggregation — the classic document-expansion
    / ranking signal: how the web DESCRIBES a page (anchor words often
    beat the page's own title; empty/whitespace anchors are dropped,
    case-folded + trimmed so 'About' and 'about ' pool).

    -> one row per (dst_url, kept anchor): ``n_links``/``n_anchors``
    totals for the target plus the anchor's ``cnt`` (link occurrences),
    ``srcs`` (distinct linking pages), and dense ``rank`` (1 = most
    common).  Only the ``top_k`` anchors per target survive.

    Scale shape (10^12 links): ONE partial-aggregated shuffle on
    (dst, anchor) does the heavy reduction — a celebrity page's 10^8
    in-links combine map-side; the per-target window and the totals
    aggregate then run on the already-reduced table (≤ distinct-anchor
    rows, not link rows), and totals join winners on dst.  No second
    scan of the link table.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    a = F.lower(F.trim(F.col(anchor)))
    base = links.select(
        F.col(dst).alias("dst_url"), a.alias("anchor"), F.col(src).alias("_s")
    ).filter(F.col("anchor").isNotNull() & (F.col("anchor") != ""))
    g = base.groupBy("dst_url", "anchor").agg(
        F.count("*").alias("cnt"), F.count_distinct(F.col("_s")).alias("srcs")
    )
    totals = g.groupBy("dst_url").agg(
        F.sum("cnt").alias("n_links"), F.count("*").alias("n_anchors")
    )
    w = Window.partitionBy("dst_url").orderBy(
        F.desc("cnt"), F.desc("srcs"), F.asc("anchor")
    )
    winners = (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )
    return winners.join(totals, on="dst_url").select(
        "dst_url", "n_links", "n_anchors", "anchor", "cnt", "srcs", "rank"
    )

"""WAT-style link/metadata extraction for crawled-page corpora.

CommonCrawl ships every WARC capture with a WAT sidecar — per-response
metadata: the HTTP envelope, the page ``<title>``, ``<meta>`` tags and,
most importantly, the OUTLINKS (every ``<a href>`` resolved against the
capture's target URI).  The link table is what crawl frontiers, host-
level web graphs (harmonic/PageRank centrality is a standard quality
prior — see the RefinedWeb / Gopher pipelines) and spam analyses are
built from.  This module is the engine's WAT surface: extraction and
RFC 3986 reference resolution as PURE COLUMN EXPRESSIONS (zero UDF,
zero shuffle — a projection over the parsed record rows that
`sources/warc.py:warc_records` emits).

Reference parity: the reference engine has no web-archive surface —
this module is part of the training-data-pipeline mandate, the same
charter as `operators/urls.py` (which owns canonicalization; resolution
here deliberately does NOT canonicalize — a resolved link preserves
port/case/params so policy layers decide what to collapse).

Scope (documented, not silent):

* ``extract_links`` segments the document at each ``<a`` open tag (so
  an UNCLOSED anchor — ubiquitous in crawled HTML, auto-closed by
  browsers — ends at the next anchor instead of swallowing it) and
  reads the FIRST ``href`` attribute token in document order with a
  quote-aware battery (double-/single-/un-quoted).  It is a regex
  battery, not an HTML5 tree builder: an ``href=`` inside ANOTHER
  attribute's quoted value (``title='see href="x"'``), in a comment,
  or in a ``<script>`` string literal is still taken (run AFTER
  `text.strip_nontext_elements` when that matters), and a raw ``>``
  inside a quoted attribute value truncates the open tag early.
  Empty ``href=""`` self-links are dropped.
* The CORE HTML entities (``&amp; &lt; &gt; &quot; &apos; &nbsp;`` and
  their common numeric forms) are DECODED in extracted hrefs, anchor
  text, titles and meta contents — spec-compliant pages escape ``&``
  in every multi-parameter URL, so skipping this corrupts query
  strings.  Exotic named/numeric entities pass through verbatim.
* ``resolve_reference`` implements RFC 3986 §5.2 for the reference
  shapes a crawl actually meets: absolute hierarchical URI and
  protocol-relative ``//host/p`` (both with §5.2.2's strict
  ``remove_dot_segments`` applied to their path), root-relative
  ``/p``, query-only ``?q`` (against the base's RAW path — a pathless
  base stays pathless, per the no-canonicalization contract),
  fragment-only (→ base sans fragment) and relative-path references
  with full ``remove_dot_segments`` semantics (§5.2.4: ``..`` pops,
  excess ``..`` at root is dropped, trailing ``/.`` and ``/..`` keep
  the directory slash).  Non-hierarchical ``scheme:opaque`` references
  (``mailto:``, ``javascript:``, ``data:``) are kept verbatim — which
  is what a link filter wants anyway.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.templates import template
from cdc_pipeline_spark.operators.urls import _authority_parts

__all__ = [
    "extract_links",
    "extract_title",
    "extract_meta",
    "decode_entities",
    "remove_dot_segments",
    "base_parts",
    "resolve_reference",
    "resolve_with_parts",
    "http_links",
    "capture_link_events",
    "frontier_partial",
    "frontier_rows",
    "crawl_frontier",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- entities ------------------------------------------------------------

# decode order matters only for '&amp;': decoding it LAST reproduces
# single-pass HTML semantics ('&amp;lt;' is the literal text '&lt;',
# not '<')
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&#34;", '"'),
    ("&#39;", "'"),
    ("&#60;", "<"),
    ("&#62;", ">"),
    ("&#38;", "&"),
    ("&amp;", "&"),
)


def decode_entities(c: Column | str) -> Column:
    """Decode the core HTML entity set (module scope note) — the ones
    that appear in attribute values on spec-compliant pages.  ``&amp;``
    decodes last, matching single-pass HTML entity semantics."""
    out = _col(c)
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


# --- extraction ----------------------------------------------------------

# attribute token: first 'href=' preceded by start-of-attrs or
# whitespace (so data-href's suffix never matches), value in one
# quote-aware alternation — document order wins, not quote style
_HREF_TOKEN = r"(?is)(?:^|\s)href\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)"
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title\s*>"
_META_RE = r"(?is)<meta\b[^>]*>"
_META_NAME_TOKEN = r"(?is)(?:^|\s)name\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)"
_META_CONTENT_TOKEN = r"(?is)(?:^|\s)content\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)"


def _unquote(token: Column) -> Column:
    return (
        F.when(token.startswith('"'), F.regexp_extract(token, '^"([^"]*)"', 1))
        .when(token.startswith("'"), F.regexp_extract(token, "^'([^']*)'", 1))
        .otherwise(token)
    )


def _collapse_ws(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _clean_text(c: Column) -> Column:
    return decode_entities(_collapse_ws(F.regexp_replace(c, r"(?is)<[^>]*>", " ")))


def extract_links(html: Column | str) -> Column:
    """``array<struct<href string, text string>>`` of the document's
    anchor elements, in order.  The document splits at each ``<a``
    open tag; within a segment the open tag runs to the first ``>``
    and the anchor text to the closing ``</a`` — or to the segment end
    when the anchor is unclosed (browser auto-close semantics, so a
    missing ``</a>`` never swallows the FOLLOWING anchors' hrefs).
    ``href`` is the first href attribute token in document order
    (quote-aware battery), entity-decoded; ``text`` is the
    tag-stripped, entity-decoded, whitespace-collapsed anchor body.
    Anchors with no (or empty) ``href`` are dropped."""
    h = _col(html)
    segs = F.split(h, r"(?i)<a(?=[\s>])")
    n = F.size(segs)
    links = F.transform(
        F.slice(segs, 2, F.greatest(n - 1, F.lit(0))),
        lambda seg: _link_from_segment(seg),
    )
    return F.filter(links, lambda l: l["href"] != "")


def _link_from_segment(seg: Column) -> Column:
    open_ = F.substring_index(seg, ">", 1)
    body = F.when(
        seg.contains(">"),
        seg.substr(F.length(open_) + F.lit(2), F.lit(1 << 20)),
    ).otherwise(F.lit(""))
    href = decode_entities(
        F.trim(_unquote(F.regexp_extract(open_, _HREF_TOKEN, 1)))
    )
    text = _clean_text(F.element_at(F.split(body, r"(?i)</a\b"), 1))
    return F.struct(href.alias("href"), text.alias("text"))


def extract_title(html: Column | str) -> Column:
    """The first ``<title>`` body, tag-stripped, entity-decoded and
    whitespace-collapsed; NULL when the document has none."""
    t = _clean_text(F.regexp_extract(_col(html), _TITLE_RE, 1))
    return F.when(t != "", t)


def extract_meta(html: Column | str) -> Column:
    """``array<struct<name string, content string>>`` of the
    document's named ``<meta>`` tags in order (duplicates preserved —
    callers that want a map decide the collision rule).  Same
    quote-aware attribute battery as hrefs (unquoted values are legal
    HTML); contents are entity-decoded."""
    tags = F.regexp_extract_all(_col(html), F.lit(_META_RE), 0)
    metas = F.transform(
        tags,
        lambda t: F.struct(
            F.lower(
                F.trim(_unquote(F.regexp_extract(t, _META_NAME_TOKEN, 1)))
            ).alias("name"),
            decode_entities(
                F.trim(_unquote(F.regexp_extract(t, _META_CONTENT_TOKEN, 1)))
            ).alias("content"),
        ),
    )
    return F.filter(metas, lambda m: m["name"] != "")


# --- RFC 3986 resolution -------------------------------------------------

_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"
_HIER_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://"


def remove_dot_segments(path: Column | str) -> Column:
    """RFC 3986 §5.2.4 over an absolute path column: ``.`` segments
    drop, ``..`` pops the previous segment, excess ``..`` at the root
    is discarded, and a trailing ``/.`` / ``/..`` keeps the trailing
    slash.  Empty segments (``//``) are preserved — they are legal path
    segments, not separators to collapse.  Pure fold
    (``F.aggregate``), no regex backtracking, no UDF."""
    p = _col(path)
    segs = F.split(F.regexp_replace(p, r"^/", ""), "/")
    folded = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(s == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
        .otherwise(F.concat(acc, F.array(s))),
    )
    joined = F.concat(F.lit("/"), F.array_join(folded, "/"))
    return F.when(
        p.rlike(r"/\.\.?$") & ~joined.endswith("/"), F.concat(joined, F.lit("/"))
    ).otherwise(joined)


def base_parts(base: Column | str) -> Column:
    """Pre-split a base URI into the struct `resolve_with_parts`
    consumes: ``struct<b, scheme, origin, rawpath, base_dir>``.
    Callers resolving MANY references per row (the `http_links`
    transform) should materialize this in its own projection first —
    field access on a bound column is cheap, while re-deriving the
    authority split inside an interpreted HOF re-evaluates it per
    reference (the same cost `urls._canonicalize_pre_normalized`
    documents and avoids)."""
    b = F.regexp_replace(_col(base), "#.*$", "")
    scheme = F.lower(F.substring_index(b, "://", 1))
    hostport, tail = _authority_parts(b)
    rawpath = F.substring_index(tail, "?", 1)
    return F.struct(
        b.alias("b"),
        scheme.alias("scheme"),
        F.concat(scheme, F.lit("://"), hostport).alias("origin"),
        rawpath.alias("rawpath"),
        # merge target for relative refs: a pathless base merges at
        # the root (RFC 3986 §5.2.3), otherwise strip the last segment
        F.when(rawpath == "", F.lit("/"))
        .otherwise(F.regexp_replace(rawpath, "[^/]*$", ""))
        .alias("base_dir"),
    )


def _rds_url(u: Column) -> Column:
    """Apply §5.2.2's ``remove_dot_segments`` to the path of a full
    hierarchical URL string, keeping scheme/authority/query verbatim
    (an empty path stays empty — no slash is invented)."""
    scheme = F.substring_index(u, "://", 1)
    hostport, tail = _authority_parts(u)
    rawpath = F.substring_index(tail, "?", 1)
    query = F.when(
        tail.contains("?"), tail.substr(F.length(rawpath) + F.lit(1), F.lit(1 << 20))
    ).otherwise(F.lit(""))
    return F.concat(
        scheme,
        F.lit("://"),
        hostport,
        F.when(rawpath == "", F.lit("")).otherwise(remove_dot_segments(rawpath)),
        query,
    )


def resolve_with_parts(parts: Column, href: Column | str) -> Column:
    """`resolve_reference` against a pre-split `base_parts` struct —
    see that function for semantics, and `base_parts` for why callers
    with many references per row pass the struct."""
    h = F.regexp_replace(F.trim(_col(href)), "#.*$", "")
    hpath = F.substring_index(h, "?", 1)
    hquery = F.when(
        h.contains("?"), h.substr(F.length(hpath) + F.lit(1), F.lit(1 << 20))
    )
    origin = parts["origin"]
    return (
        F.when(h == "", parts["b"])
        .when(h.rlike(_HIER_RE), _rds_url(h))
        .when(h.rlike(_SCHEME_RE), h)
        .when(h.startswith("//"), _rds_url(F.concat(parts["scheme"], F.lit(":"), h)))
        .when(
            h.startswith("/"),
            F.concat(origin, remove_dot_segments(hpath), F.coalesce(hquery, F.lit(""))),
        )
        .when(h.startswith("?"), F.concat(origin, parts["rawpath"], h))
        .otherwise(
            F.concat(
                origin,
                remove_dot_segments(F.concat(parts["base_dir"], hpath)),
                F.coalesce(hquery, F.lit("")),
            )
        )
    )


def resolve_reference(base: Column | str, href: Column | str) -> Column:
    """Resolve one reference against an absolute hierarchical base URI
    (RFC 3986 §5.2, scope note above).  The result keeps the base's
    authority verbatim (port, case, userinfo) — resolution is not
    canonicalization; feed the output to `urls.canonicalize_url` when
    a collapsed key is wanted.  NULL base or NULL href resolves NULL."""
    return resolve_with_parts(base_parts(base), href)


def http_links(
    base: Column | str, links: Column | str, *, parts: Column | None = None
) -> Column:
    """Resolve an `extract_links` array against the capture's target
    URI and keep only fetchable web links: ``array<string>`` of
    resolved ``http(s)://`` URLs in document order (scheme match is
    case-insensitive — schemes are; ``javascript:`` / ``mailto:`` /
    ``data:`` / other non-web schemes drop out AFTER resolution, so
    scheme-less relative forms survive).  Pass ``parts`` (a
    materialized `base_parts` column) to avoid re-deriving the base
    split per link element inside the transform."""
    p = base_parts(_col(base)) if parts is None else parts
    resolved = F.transform(_col(links), lambda l: resolve_with_parts(p, l["href"]))
    return F.filter(resolved, lambda u: u.rlike(r"(?i)^https?://"))


@template
def _capture_events_expr():
    """The capture-events explode expression over the fixed
    `warc_records` column names: the extraction + RFC 3986 resolution
    battery, ~3k py4j round-trips to build."""
    ev_t = "array<struct<url:string,kind:string>>"
    return F.explode(
        F.concat(
            F.coalesce(
                F.transform(
                    http_links(
                        F.col("target_uri"),
                        extract_links(F.col("http_payload").cast("string")),
                        parts=F.col("__bp"),
                    ),
                    lambda u: F.struct(
                        u.alias("url"), F.lit("outlink").alias("kind")
                    ),
                ),
                F.array().cast(ev_t),
            ),
            F.when(
                F.col("http_location").isNotNull(),
                F.array(
                    F.struct(
                        resolve_with_parts(
                            F.col("__bp"), F.col("http_location")
                        ).alias("url"),
                        F.lit("redirect").alias("kind"),
                    )
                ),
            ).otherwise(F.array().cast(ev_t)),
            F.array(
                F.struct(
                    F.col("target_uri").alias("url"),
                    F.lit("captured").alias("kind"),
                )
            ),
        )
    ).alias("e")


def capture_link_events(records):
    """(url, kind) event rows from parsed capture records
    (`sources/warc.py:warc_records` schema): every valid response
    contributes its extracted outlinks, its optional resolved redirect
    target (``Location``), and its OWN captured URI — kinds
    ``outlink`` / ``redirect`` / ``captured`` — in ONE pass (a
    three-branch union would re-execute the parse subtree per branch;
    measured in `workload.doc_link_frontier`'s history).  A valid
    response with a NULL payload (non-``application/http``
    Content-Type) still emits its captured event — the outlink array
    coalesces to empty instead of null-propagating through the concat
    (review r11)."""
    resp = records.filter(F.col("valid") & (F.col("warc_type") == "response"))
    resp = resp.withColumn("__bp", base_parts(F.col("target_uri")))
    return resp.select(_capture_events_expr()).select("e.url", "e.kind")


def frontier_rows(agg):
    """The frontier projection over a per-url aggregate frame with
    columns ``(url, __cap, __n_out, __n_red)``: drop captured urls,
    one row per (url, link_kind) with its discovery count.  Shared by
    `crawl_frontier` (batch) and the streaming partial re-fold
    (`streaming/frontier_index.py`) so the two cannot drift."""
    kind_t = "array<struct<link_kind:string,n_discoveries:bigint>>"
    row = lambda name, cnt: F.when(  # noqa: E731
        cnt > 0,
        F.array(
            F.struct(F.lit(name).alias("link_kind"), cnt.alias("n_discoveries"))
        ),
    ).otherwise(F.array().cast(kind_t))
    return (
        agg.filter(F.col("__cap") == 0)
        .select(
            "url",
            F.explode(
                F.concat(
                    row("outlink", F.col("__n_out")),
                    row("redirect", F.col("__n_red")),
                )
            ).alias("__k"),
        )
        .select(
            "url",
            F.col("__k.link_kind").alias("link_kind"),
            F.col("__k.n_discoveries").alias("n_discoveries"),
        )
    )


def frontier_partial(events):
    """Per-url partial aggregate of a (url, kind) event frame:
    ``(url, __cap, __n_out, __n_red)``.  max/sum are associative and
    commutative, so partials from separate increments RE-FOLD exactly
    (`streaming/frontier_index.py` relies on this for its
    incremental-equals-batch guarantee)."""
    u, k = F.col("url"), F.col("kind")
    return events.groupBy(u.alias("url")).agg(
        F.max((k == "captured").cast("int")).alias("__cap"),
        F.sum((k == "outlink").cast("long")).alias("__n_out"),
        F.sum((k == "redirect").cast("long")).alias("__n_red"),
    )


def crawl_frontier(events):
    """Fold a (url, kind) event frame — kinds ``outlink`` /
    ``redirect`` / ``captured`` — into the next-fetch frontier: one
    row per (url, link_kind) with its discovery count, EXCLUDING any
    url that carries a ``captured`` event (it is already in the crawl
    history).  A url discovered both as an outlink and as a redirect
    target keeps BOTH rows (review r11 — collapsing them to one kind
    loses the redirect edge).  Plan: a single key-partitioned
    HashAggregate on url, no join operator — the scale shape for
    CDX-history dedup when the captured set rides the same scan."""
    return frontier_rows(frontier_partial(events))

"""URL hygiene operators for web-scale corpus builds.

A crawled corpus keys on URLs three ways before any text-level dedup
runs: CANONICALIZATION (the same page reached via tracking params /
fragments / default ports / www must collapse to one key — C4 and
RefinedWeb both dedupe on a canonicalized URL first), REGISTERED-DOMAIN
extraction (per-domain quality priors, per-domain caps, robots/license
policy all key on the registrable domain, not the full host), and
DOMAIN CAPPING (a handful of boilerplate-heavy domains otherwise
dominate the token budget).

Reference parity: the reference engine has no URL surface — this module
is part of the training-data-pipeline mandate, same charter as
operators/dedup.py. Everything is pure column expressions (zero-UDF,
zero-shuffle per row); the only aggregation is the per-domain rollup a
caller adds, and the cap sample rides the engine's portable
multiplicative hash (`sampling._bucket`) so a SQL oracle replays the
keep-decision bit-for-bit.

Scope (documented, not silent): scheme://host[:port]/path[?query][#frag]
URLs. Canonicalization lowercases scheme+host only (paths are
case-sensitive), strips the fragment, strips DEFAULT ports (:80, :443),
strips a leading ``www.``, drops tracking params (``utm_*``, ``ref``)
and sorts the survivors — IDN is out of scope (punycode hosts pass
through as-is; run this AFTER a fetcher that punycodes). The default
registered-domain extraction uses a compact multi-label-TLD table
(oracle-portable IN-list); ``registered_domain_psl`` is the
broadcast-join variant with full public-suffix-list semantics
(wildcard ``*.ck`` / exception ``!www.ck`` rules, private-section
suffixes) — pass the published PSL file's lines for complete coverage.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.sampling import _bucket
from cdc_pipeline_spark.operators.templates import template

# Curated high-traffic multi-label public suffixes (two-label ccTLD
# registrations from the public suffix list; the full PSL is ~10k
# entries — swap in a broadcast lookup if the long tail matters for
# policy). The workload oracle generates its SQL IN-list from THIS
# tuple, so engine and oracle cannot drift.
MULTI_LABEL_TLDS = (
    # UK / IE-style
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "ltd.uk", "plc.uk",
    "net.uk", "sch.uk",
    # Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "ac.nz", "govt.nz", "school.nz",
    # Japan / Korea
    "co.jp", "ne.jp", "or.jp", "go.jp", "ac.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    "co.kr", "or.kr", "ne.kr", "go.kr", "re.kr", "pe.kr", "ac.kr",
    # India / South Asia
    "co.in", "net.in", "org.in", "ac.in", "edu.in", "gov.in", "res.in",
    "gen.in", "firm.in", "ind.in",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "ac.bd",
    "com.lk", "org.lk", "edu.lk", "gov.lk",
    "com.np", "org.np", "edu.np",
    # Greater China / SE Asia
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.th", "ac.th", "or.th", "go.th", "in.th",
    "co.id", "or.id", "ac.id", "web.id", "sch.id", "go.id",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br",
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar",
    "com.co", "net.co", "org.co",
    "com.pe", "net.pe", "org.pe", "gob.pe",
    "com.ve", "com.ec", "com.uy", "com.bo", "com.py", "com.do",
    "com.gt", "com.sv", "com.ni", "com.pa", "com.pr",
    # Europe / Middle East / Africa
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "web.tr",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "waw.pl",
    "com.es", "nom.es", "org.es", "edu.es", "gob.es",
    "com.pt", "net.pt", "org.pt", "edu.pt",
    "com.gr", "net.gr", "org.gr", "edu.gr",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
    "co.ae", "net.ae", "org.ae", "ac.ae", "gov.ae",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "co.za", "org.za", "net.za", "web.za", "ac.za", "gov.za",
    "co.ke", "or.ke", "ne.ke", "ac.ke", "go.ke",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "co.tz", "or.tz", "ac.tz", "go.tz",
    "co.zw", "org.zw", "ac.zw",
)

# ---------------------------------------------------------------------------
# Public-suffix-list (PSL) registered-domain extraction. The inlined
# MULTI_LABEL_TLDS IN-list above is the oracle-portable default; this is
# the broadcast-join variant for corpora where the long tail matters:
# the real PSL is ~10k entries including WILDCARD rules (``*.ck`` — any
# single label under .ck is itself a public suffix) and EXCEPTION rules
# (``!www.ck`` — www.ck is registrable despite the wildcard), and
# per-domain caps/policy mis-key without them (``foo.blogspot.com``
# must group under ``foo.blogspot.com``, not ``blogspot.com``, because
# the PSL private section makes blogspot.com a public suffix).
#
# PSL_RULES below is a curated SNAPSHOT in the PSL's own line format
# (documented subset: the full MULTI_LABEL_TLDS table, the classic
# wildcard/exception ccTLD rules, and high-volume private-section
# suffixes). It remains the rule set of the ORACLE-PORTABLE queries
# (the DuckDB side replays it verbatim as a VALUES list).
#
# The FULL published list is vendored at
# ``cdc_pipeline_spark/data/public_suffix_list.dat`` (the Mozilla
# Public Suffix List, MPL 2.0 — attribution header kept in the file;
# snapshot from the Debian ``publicsuffix`` package, 20230209) and is
# the DEFAULT for ``psl_rules_df`` / ``registered_domain_psl`` /
# ``domain_cap(psl=True)``: ~9.5k rules group into ~1.5k broadcast
# rows. ``parse_psl_rules`` accepts either form verbatim.
# ---------------------------------------------------------------------------

PSL_RULES: tuple[str, ...] = (
    # wildcard + exception ccTLD rules (the PSL's canonical examples).
    # bn dropped its wildcard in the published list (explicit entries
    # below); *.sch.uk is a wildcard there (each LEA label is itself a
    # public suffix) — both mirrored so the curated subset resolves
    # identically to the vendored snapshot (property-tested).
    "*.ck", "!www.ck",
    "com.bn", "edu.bn", "gov.bn", "net.bn", "org.bn",
    "*.er", "*.fk", "*.mm", "*.pg", "*.sch.uk",
    "*.kawasaki.jp", "!city.kawasaki.jp",
    "*.kitakyushu.jp", "!city.kitakyushu.jp",
    "*.kobe.jp", "!city.kobe.jp",
    "*.nagoya.jp", "!city.nagoya.jp",
    "*.sapporo.jp", "!city.sapporo.jp",
    "*.sendai.jp", "!city.sendai.jp",
    "*.yokohama.jp", "!city.yokohama.jp",
    # high-volume private-section suffixes (user content under these is
    # per-user registrable: foo.blogspot.com is foo's domain)
    "blogspot.com", "github.io", "gitlab.io", "appspot.com",
    "herokuapp.com", "netlify.app", "vercel.app", "web.app",
    "firebaseapp.com", "azurewebsites.net", "cloudfront.net",
    "s3.amazonaws.com", "pages.dev", "workers.dev", "onrender.com",
    "readthedocs.io",
) + MULTI_LABEL_TLDS


def parse_psl_rules(lines) -> list[tuple[str, int, bool, bool]]:
    """Parse public-suffix-list lines into ``(suffix, n_labels,
    is_wildcard, is_exception)`` tuples. Accepts the published file
    verbatim: comments (``//``) and blank lines are skipped, a leading
    ``*.`` marks a wildcard (stored WITHOUT the ``*.``), a leading
    ``!`` marks an exception. Labels are lowercased; IDN labels must
    already be punycoded (the published file ships both forms — the
    U-label duplicates parse fine but only match punycoded hosts)."""
    out: list[tuple[str, int, bool, bool]] = []
    for raw in lines:
        line = raw.strip().lower()
        if not line or line.startswith("//"):
            continue
        wildcard = line.startswith("*.")
        exception = line.startswith("!")
        suffix = line[2:] if wildcard else line[1:] if exception else line
        if not suffix or "*" in suffix:
            # nested wildcards (*.*.x) don't occur in the published
            # list; skip rather than mis-match
            continue
        out.append((suffix, suffix.count(".") + 1, wildcard, exception))
    return out


_PSL_SNAPSHOT_PATH = _os.path.join(
    _os.path.dirname(_os.path.dirname(__file__)), "data", "public_suffix_list.dat"
)
_PSL_SNAPSHOT_CACHE: tuple[str, ...] | None = None


def load_psl_snapshot() -> tuple[str, ...]:
    """Lines of the vendored full Public Suffix List snapshot
    (``data/public_suffix_list.dat``, MPL 2.0 — see the file's
    attribution header). Read once per process; ``parse_psl_rules``
    consumes the published format verbatim."""
    global _PSL_SNAPSHOT_CACHE
    if _PSL_SNAPSHOT_CACHE is None:
        with open(_PSL_SNAPSHOT_PATH, encoding="utf-8") as fh:
            _PSL_SNAPSHOT_CACHE = tuple(fh.read().splitlines())
    return _PSL_SNAPSHOT_CACHE


def psl_rules_df(spark, rules=None) -> DataFrame:
    """PSL rules grouped by their LAST label (the broadcast-join
    anchor): one row per TLD with an array of rule structs. Built
    driver-side, no shuffle anywhere. ``rules=None`` loads the FULL
    vendored snapshot (:func:`load_psl_snapshot` — ~9.5k rules into
    ~1.5k grouped rows, a few hundred KB broadcast); pass the curated
    ``PSL_RULES`` tuple for the oracle-portable subset."""
    parsed = parse_psl_rules(load_psl_snapshot() if rules is None else rules)
    by_tld: dict[str, list] = {}
    for suffix, n_labels, wildcard, exception in parsed:
        by_tld.setdefault(suffix.rsplit(".", 1)[-1], []).append(
            (suffix, n_labels, wildcard, exception)
        )
    rows = [(tld, sorted(rs)) for tld, rs in sorted(by_tld.items())]
    return spark.createDataFrame(
        rows,
        "tld string, rules array<struct<suffix:string, labels:int, "
        "wildcard:boolean, exception:boolean>>",
    )


def registered_domain_psl(
    df: DataFrame,
    host_col: str = "host",
    out_col: str = "registered_domain",
    rules=None,
) -> DataFrame:
    """Registrable domain under full PSL semantics (wildcard and
    exception rules): adds ``out_col`` next to the existing columns.
    ``rules=None`` uses the vendored full snapshot (see
    :func:`psl_rules_df`); oracle-portable queries pass the curated
    ``PSL_RULES`` explicitly so the SQL side replays the exact rule
    set.

    Plan shape: ONE BroadcastHashJoin of the host's last label against
    the tiny grouped rule table (no shuffle — the build side is
    broadcast, the probe side keeps its partitioning), then the
    prevailing-rule resolution runs entirely inside the row with array
    expressions:

      * matched rules = label-aware suffix matches (``host == suffix``
        or ``host ends with "." + suffix``; wildcards need one extra
        label);
      * an exception rule prevails (public-suffix size = its labels−1),
        else the LONGEST match (wildcards count one extra label), else
        the implicit default rule ``*`` (last label);
      * registered domain = public suffix + one more label; hosts that
        ARE a public suffix (or single-label / IPv4-literal hosts) pass
        through unchanged.
    """
    spark = df.sparkSession
    rdf = psl_rules_df(spark, rules).withColumnRenamed("tld", "__psl_tld").withColumnRenamed(
        "rules", "__psl_rules"
    )
    host = F.lower(F.col(host_col))
    joined = df.join(
        F.broadcast(rdf),
        F.element_at(F.split(host, r"\."), -1) == F.col("__psl_tld"),
        "left",
    )
    labels = F.split(host, r"\.")
    n = F.size(labels)
    rs = F.col("__psl_rules")  # null on join miss: filter/transform of null
    # stay null, so psc falls through to the implicit default rule

    def matches(r):
        tail_match = host.endswith(F.concat(F.lit("."), r["suffix"]))
        # wildcard *.x needs >= labels+1 host labels, which the ".x"
        # suffix match already implies; non-wildcards also match exactly
        return F.when(r["wildcard"], tail_match).otherwise(
            tail_match | (host == r["suffix"])
        )

    matched = F.filter(rs, matches)
    exc_psc = F.array_max(
        F.transform(F.filter(matched, lambda r: r["exception"]), lambda r: r["labels"] - 1)
    )
    norm_psc = F.array_max(
        F.transform(
            F.filter(matched, lambda r: ~r["exception"]),
            lambda r: F.when(r["wildcard"], r["labels"] + 1).otherwise(r["labels"]),
        )
    )
    psc = F.coalesce(exc_psc, norm_psc, F.lit(1))
    reg = (
        F.when(host.rlike(r"^\d+\.\d+\.\d+\.\d+$"), host)
        .when(n <= psc, host)
        .otherwise(F.array_join(F.slice(labels, n - psc, psc + F.lit(1)), "."))
    )
    return joined.withColumn(out_col, reg).drop("__psl_tld", "__psl_rules")


_TRACKING_PARAM_RE = r"^(utm_[a-z]+|ref|fbclid|gclid)="

# RFC 3986 unreserved characters: percent-encodings of THESE (and only
# these) are equivalent to the bare character, so decoding them is the
# one safe percent normalization — decoding anything else could create
# new delimiters (%2F -> '/', %25 -> '%'). Single-sourced into the SQL
# oracle generator like MULTI_LABEL_TLDS / PSL_RULES.
import string as _string

PCT_UNRESERVED: dict[str, str] = {
    f"{ord(c):02X}": c for c in _string.ascii_letters + _string.digits + "-._~"
}


def percent_normalize(url: Column | str) -> Column:
    """RFC 3986 percent-encoding normalization, pure column expression:
    decode ``%XX`` sequences for UNRESERVED characters (``%7E`` → ``~``,
    ``%41`` → ``A``) and uppercase the hex digits of every other
    encoding (``%3a`` → ``%3A``). Crawled corpora mix these constantly,
    fracturing canonical keys. Invalid sequences (``%``, ``%2``,
    ``%g1``) are left byte-for-byte as found. Implementation: split on
    ``%`` and rewrite each piece's 2-hex-digit head in-row — split /
    transform / array_join, whole-stage codegen, no Python. Idempotent:
    decoded output contains no ``%`` for the rewritten token, and
    reserved encodings re-normalize to themselves (``%25`` — the
    encoded ``%`` — is reserved, so it never decodes into a new
    delimiter)."""
    u = F.col(url) if isinstance(url, str) else url
    parts = F.split(u, "%", -1)
    rest_of = lambda p: F.substring(p, 3, 1 << 20)  # noqa: E731
    is_valid = lambda p: p.rlike("^[0-9A-Fa-f]{2}")  # noqa: E731

    def fix(p: Column, i: Column) -> Column:
        hx = F.upper(F.substring(p, 1, 2))
        v = F.conv(hx, 16, 10).cast("int")
        unreserved = (
            ((v >= 48) & (v <= 57))
            | ((v >= 65) & (v <= 90))
            | ((v >= 97) & (v <= 122))
            | v.isin(45, 46, 95, 126)
        )
        # IDEMPOTENCE GUARD: decoding is allowed only when the PREVIOUS
        # piece was a valid encoding (or this is the first piece, whose
        # predecessor is the %-free prefix). After an INVALID piece the
        # emitted text ends in a dangling "%…" — decoding here could
        # synthesize a brand-new valid sequence ("%4" + decoded "1"
        # from "%31" would read "%41" on a second pass). Suppressing
        # the decode (the piece keeps its "%XX" form, hex uppercased)
        # makes the rewrite a fixed point on every input.
        prev_valid = (i == 1) | is_valid(F.element_at(parts, i))
        body = (
            F.when(~is_valid(p), F.concat(F.lit("%"), p))
            .when(unreserved & prev_valid, F.concat(F.char(v), rest_of(p)))
            .otherwise(F.concat(F.lit("%"), hx, rest_of(p)))
        )
        return F.when(i == 0, p).otherwise(body)

    # %-free URLs (the overwhelming majority of a crawl) skip the
    # split/transform machinery entirely — a contains() probe is one
    # codegen branch, and the rewrite is the identity without a '%'
    # (measured: the guard reclaims ~2x on %-free URL workloads)
    return F.when(~u.contains("%"), u).otherwise(
        F.array_join(F.transform(parts, fix), "")
    )


def _authority_parts(u: Column) -> tuple[Column, Column]:
    """(hostport, tail) of a fragment-stripped absolute URL: the text
    between the FIRST ``://`` and the first ``/`` or ``?`` (a query
    with no path — ``https://a.com?x=1``, legal per RFC 3986 — must not
    leak into the host), and everything after it. The single source for
    authority parsing — canonicalization, host extraction and the
    robots path derivation all split here, so a future fix (userinfo
    ``@``, IPv6 brackets) lands once."""
    rest = u.substr(F.length(F.substring_index(u, "://", 1)) + F.lit(4), F.lit(1 << 20))
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    tail = rest.substr(F.length(hostport) + F.lit(1), F.lit(1 << 20))
    return hostport, tail


def _strip_default_port(scheme: Column, hostport: Column) -> Column:
    """Drop the port only when it is the DEFAULT for the scheme —
    http://h:443 and https://h:80 are real non-default origins and must
    keep their port (review r10: a scheme-blind ':(443|80)$' strip
    collapsed them onto the wrong canonical key)."""
    return (
        F.when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .otherwise(hostport)
    )


def _parts_pre_normalized(u: Column) -> tuple[Column, Column, Column, Column]:
    """(scheme, host, path, sorted_query) of a percent-normalized URL —
    the SINGLE source of the split/strip/sort pipeline shared by
    :func:`_canonicalize_pre_normalized` and :func:`_surt_pre_
    normalized` (the r10 default-port fix had to land once in
    `_strip_default_port`; this keeps the rest of the pipeline equally
    un-forkable). Expression trees are identical to the pre-factoring
    inline forms, so canonical keys and plans are unchanged."""
    u = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.substring_index(u, "://", 1))
    hostport, tail = _authority_parts(u)
    hostport = F.lower(hostport)
    host = _strip_default_port(scheme, hostport)
    host = F.regexp_replace(host, r"^www\.", "")
    rawpath = F.substring_index(tail, "?", 1)
    # query offset anchors on the RAW path length, BEFORE the root
    # coercion below changes it
    query = F.when(
        tail.contains("?"), tail.substr(F.length(rawpath) + F.lit(2), F.lit(1 << 20))
    ).otherwise(F.lit(""))
    # an absent path is the root: https://a.com, https://a.com?q=1 and
    # https://a.com/ must share one canonical key (review r10; also
    # keeps this derivation aligned with robots_policy's RFC 9309 path)
    path = F.when(rawpath == "", F.lit("/")).otherwise(rawpath)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    return scheme, host, path, sorted_q


def _canonicalize_pre_normalized(u: Column) -> Column:
    """The canonical pipeline AFTER percent normalization — callers that
    hold an already-normalized column (one shared projection per row,
    see :func:`domain_cap_sample`) use this directly so the interpreted
    percent subtree is evaluated ONCE per row instead of once per
    reference (measured: the inlined form re-evaluates it ~6x inside
    one interpreted projection — the HOF knocks the whole expression
    out of codegen, and interpreted eval has no subexpression reuse)."""
    scheme, host, path, sorted_q = _parts_pre_normalized(u)
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of an absolute URL (see module scope note):
    lowercase scheme+host, no fragment, no default port, no leading
    ``www.``, tracking params dropped, remaining query params sorted.
    Pure column expression.

    The scheme/rest split and the path/query split both anchor on the
    FIRST occurrence of their delimiter (RFC 3986: a query may legally
    embed another absolute URL, e.g. ``?next=https://b.com/x``, and a
    second ``?`` inside the query is ordinary data) — a last-occurrence
    split would canonicalize a redirect URL to its *embedded* target.

    Percent-encoding is normalized FIRST (:func:`percent_normalize`):
    only unreserved characters decode, so no new delimiter can appear
    before the splits anchor. Callers needing BOTH the canonical URL
    and the host should normalize once in a prior projection and use
    the ``_pre_normalized`` internals (see :func:`domain_cap_sample`)
    to avoid re-evaluating the interpreted percent subtree."""
    return _canonicalize_pre_normalized(
        percent_normalize(F.col(url) if isinstance(url, str) else url)
    )


def _host_pre_normalized(u: Column, strip_www: bool = True) -> Column:
    """Host extraction after percent normalization (shared-projection
    counterpart of :func:`url_host`). ``strip_www=False`` keeps a
    leading ``www.`` — REQUIRED when the host feeds full-PSL
    registered-domain extraction: ``www`` can BE the registrable label
    (the ``!www.ck`` exception, or any ``www.<private-suffix>`` user
    site), so stripping it first would silently re-key those hosts to
    their public suffix."""
    u = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.substring_index(u, "://", 1))
    hostport, _ = _authority_parts(u)
    host = _strip_default_port(scheme, F.lower(hostport))
    return F.regexp_replace(host, r"^www\.", "") if strip_www else host


def url_host(url: Column | str) -> Column:
    """Lowercased host of an absolute URL, default port and leading
    ``www.`` stripped (the canonicalized host on its own). Splits on
    the FIRST ``://`` — same embedded-URL rationale as
    :func:`canonicalize_url` — and percent-normalizes first so an
    encoded host (``ex%41mple.com``) keys identically to its decoded
    form."""
    if isinstance(url, str):
        return _url_host_t(url)
    return _host_pre_normalized(percent_normalize(url))


@template
def _url_host_t(url: str) -> Column:
    return _host_pre_normalized(percent_normalize(F.col(url)))


def registered_domain(host: Column | str) -> Column:
    """Registrable domain of a host: last two labels, or last three when
    the two-label suffix is a known multi-label TLD (``a.b.co.uk`` →
    ``b.co.uk``). Hosts with one label (localhost) pass through."""
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    return (
        F.when(n <= 1, h)
        .when((n >= 3) & last2.isin(*MULTI_LABEL_TLDS), last3)
        .otherwise(last2)
    )


def surt_key(url: Column | str) -> Column:
    """SURT urlkey (Sort-friendly URI Reordering Transform — the sort
    key of the web-archiving community's CDX index convention, as
    published by pywb/OpenWayback): host labels reversed and
    comma-joined, then ``)`` + path + the surviving sorted query —
    ``https://www.Example.com/A/b?b=2&a=1`` keys as
    ``com,example)/a/b?a=1&b=2``. Grouping or range-scanning by a
    urlkey PREFIX then clusters a domain (and its subdomains, which
    sort adjacent under label reversal) — the access pattern CDX
    lookups and per-site corpus slices need at 100 TB.

    Normalization choices (documented, matched by the oracle replays):
    percent normalization + fragment strip + default-port strip +
    leading-``www.`` strip + tracking-param drop + query-param sort —
    exactly :func:`canonicalize_url`'s pipeline (one shared
    ``_parts_pre_normalized`` source) — and the whole key lowercased
    (wayback canonicalizers fold case; paths on the same site
    differing only by case are overwhelmingly aliases). The fold
    happens BEFORE the tracking filter and the param sort — folding
    the finished key instead would let ``UTM_Source`` survive the
    filter and would sort params by their pre-fold ASCII, so case
    variants of one URL would produce DIFFERENT keys and never
    dedupe (review r11). A non-default port survives as
    ``com,example:8080)``. Pure column expression — zero shuffles,
    zero Python."""
    return _surt_pre_normalized(
        percent_normalize(F.col(url) if isinstance(url, str) else url)
    )


def _surt_pre_normalized(u: Column) -> Column:
    """SURT key AFTER percent normalization (the `_pre_normalized`
    shared-projection convention — normalize once per row, derive
    canonical URL / host / urlkey from the same column)."""
    _, host, path, sorted_q = _parts_pre_normalized(F.lower(u))
    hostonly = F.substring_index(host, ":", 1)
    port = F.when(
        host.contains(":"), F.concat(F.lit(":"), F.substring_index(host, ":", -1))
    ).otherwise(F.lit(""))
    rev_host = F.array_join(F.reverse(F.split(hostonly, r"\.")), ",")
    return F.concat(
        rev_host,
        port,
        F.lit(")"),
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def domain_cap_sample(df: DataFrame) -> DataFrame:
    """Per-document URL policy columns + a deterministic UNIFORM sample
    decision: adds ``canonical_url``, ``domain`` and ``keep`` (True for
    the 40% of ids the portable multiplicative hash selects —
    rerun-stable, engine-portable, replayed by the SQL oracle as
    ``(id * 2654435761) % 100``). ``keep`` is a global thinning knob,
    *independent of domain* — every domain is thinned proportionally.
    For an actual per-domain cap (bound the rows any single domain may
    contribute), use :func:`domain_cap`, which keeps at most N rows per
    registered domain. Both are zero-extra-shuffle projections here;
    the cap adds the one grouped-top-k shuffle it needs."""
    # percent-normalize ONCE in its own projection (CollapseProject
    # leaves a non-cheap alias referenced twice alone), then derive
    # canonical URL and host from the shared column — the inlined form
    # re-evaluated the interpreted percent subtree per reference
    src = df.withColumn("__url_pct", percent_normalize("url"))
    return (
        src.withColumn("canonical_url", _canonicalize_pre_normalized(F.col("__url_pct")))
        .withColumn("domain", registered_domain(_host_pre_normalized(F.col("__url_pct"))))
        .withColumn("keep", _bucket(F.col("doc_id")) < F.lit(40))
        .drop("__url_pct")
    )


def domain_cap(df: DataFrame, max_per_domain: int = 1000, psl: bool = False) -> DataFrame:
    """TRUE per-domain cap: adds ``canonical_url`` + ``domain``, then
    keeps at most ``max_per_domain`` rows per registered domain, chosen
    by the portable hash order of the id (ties by id) — deterministic,
    partitioning-independent, and SQL-oracle-replayable as a
    ``row_number() OVER (PARTITION BY domain ORDER BY hash, id)``
    predicate. This is the operation the module header promises: a
    handful of boilerplate-heavy domains can no longer dominate the
    token budget, while small domains keep everything. One shuffle on
    ``domain`` (grouped top-k); at 100 TB the skew is the point — a
    mega-domain's partition still only *emits* ``max_per_domain`` rows,
    and AQE skew-split handles the scan-side imbalance.

    ``psl=True`` keys the cap on :func:`registered_domain_psl` (full
    wildcard/exception/private-section semantics — one extra broadcast
    join, still no extra shuffle) instead of the inlined TLD table:
    without it, every ``*.blogspot.com`` author shares one cap slot."""
    from cdc_pipeline_spark.operators.sampling import deterministic_downsample

    src = df.withColumn("__url_pct", percent_normalize("url"))
    tagged = src.withColumn(
        "canonical_url", _canonicalize_pre_normalized(F.col("__url_pct"))
    )
    if psl:
        # strip_www=False: under PSL rules "www" can BE the registrable
        # label (!www.ck; www.<private-suffix> user sites) — stripping
        # it here would collapse those docs into the public-suffix
        # bucket. For ordinary domains the extra www label changes
        # nothing (www.example.com still keys example.com).
        tagged = registered_domain_psl(
            tagged.withColumn(
                "__host", _host_pre_normalized(F.col("__url_pct"), strip_www=False)
            ),
            "__host",
            "domain",
        ).drop("__host")
    else:
        tagged = tagged.withColumn(
            "domain", registered_domain(_host_pre_normalized(F.col("__url_pct")))
        )
    return deterministic_downsample(
        tagged.drop("__url_pct"), "domain", int(max_per_domain), "doc_id"
    )

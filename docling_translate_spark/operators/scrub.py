"""PII scrubbing — the redaction pass a training-data pipeline runs
before anything else ships.

Pure column expressions (regexp_replace / regexp_count chains): the
whole stage stays in WholeStageCodegen, scales as a narrow map over the
scan, and is exactly reproducible in any SQL engine (the driver-gate
oracle runs the same regexes in DuckDB).

Patterns are the standard curation battery: emails, international-ish
phone numbers, IPv4 addresses, and 13-19 digit card-like runs. They are
deliberately precision-leaning (word-ish boundaries) — at 100 TB a
recall-leaning phone regex would mangle ordinary numerics everywhere.
Replacement order matters and is fixed: emails first (their local parts
can contain digits that the phone pattern would otherwise split),
then cards before phones (a 16-digit run must not be half-eaten as a
phone match), then IPs before phones (a dotted quad must never be
half-eaten as a dotted phone).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# RE2/Java/DuckDB-portable: no lookarounds, no backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
CARD_RE = r"\b\d(?:[ -]?\d){12,18}\b"
# Three precision-leaning shapes (r2 ADVICE: the old dot-separated form
# swallowed dotted dates '15.08.2026' and numeric tuples '3.14.159'):
#   1. international, grouped — leading '+' anchor; the FIRST separator
#      is REQUIRED and separators are space/dash only (r3 ADVICE: with
#      both separators optional, any '+' + 7-11 digit run matched, so
#      signed decimals '+3.14159' and bare ids '+12345678' were
#      redacted)
#   2. international, E.164-ish — '+' then cc + a >=9-digit bare tail
#      (>=10 digits total): machine-readable '+15551234567' and
#      '+44 2071234567' shapes are real phones that the grouped form
#      can't reach (its contiguous tail tops out at 8 digits), while
#      short bare ids like '+12345678' still pass through
#   3. parenthesized area code — '(' anchor, any separators
#   4. bare groups — space/dash separators ONLY (dot-separated bare
#      runs are more often dates/versions than phones); the 3-4 digit
#      middle group rejects dd-mm-yyyy too
PHONE_RE = (
    r"\+\d{1,3}[ -]\(?\d{2,4}\)?[ -]?\d{3,4}(?:[ -]\d{3,4})?\b"
    r"|\+\d{1,3}[ -]?\d{9,12}\b"
    r"|\(\d{2,4}\)[ .-]?\d{3,4}[ .-]\d{3,4}\b"
    r"|\b\d{2,4}[ -]\d{3,4}[ -]\d{3,4}\b"
)
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_ORDERED = (
    ("email", EMAIL_RE, "[EMAIL]"),
    ("card", CARD_RE, "[CARD]"),
    ("ip", IPV4_RE, "[IP]"),
    ("phone", PHONE_RE, "[PHONE]"),
)


def redact_pii_col(text: Column) -> Column:
    """Redacted text column: each PII family replaced by its marker, in
    the fixed order documented above."""
    out = text
    for _, pat, marker in _ORDERED:
        out = F.regexp_replace(out, pat, marker)
    return out


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Add ``out_col`` (redacted text) plus per-family hit counts and a
    total — the counts are what a curation job monitors (a sudden spike
    in one family usually means a leaky source, not more PII).

    Counts are measured on the SAME intermediate state the replacement
    saw (e.g. phones are counted after emails and cards were already
    cut out), so counts and replacements can never disagree.
    """
    cur = F.col(text_col)
    counts = {}
    for name, pat, marker in _ORDERED:
        counts[name] = F.coalesce(
            F.regexp_count(cur, F.lit(pat)), F.lit(0)
        ).cast("long")
        cur = F.regexp_replace(cur, pat, marker)
    out = df.withColumn(out_col, cur)
    for name, c in counts.items():
        out = out.withColumn(f"n_{name}", c)
    return out.withColumn(
        "n_pii",
        sum(F.col(f"n_{name}") for name, _, _ in _ORDERED).cast("long"),
    )


# --- URL / domain blocklist filtering (C4-style) ---

URL_RE = r"(?i)\bhttps?://([A-Za-z0-9.-]+)(?::\d+)?(?:/[^\s]*)?"


def extract_domains(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``domains``: distinct lowercased registrable hostnames of
    every http(s) URL in the text (pure column exprs, zero shuffle).

    Trailing '.'/'-' are stripped from each captured host (r3 ADVICE):
    the host class is greedy, so a sentence-final URL like
    'https://spam.example.com.' captured 'spam.example.com.' whose
    suffix expansion ('example.com.', 'com.') never equi-joined a
    blocked 'example.com' — the row silently escaped the filter."""
    hosts = F.transform(
        F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), F.lit(1)),
        lambda h: F.regexp_replace(F.lower(h), r"[.-]+$", ""),
    )
    return df.withColumn("domains", F.array_distinct(hosts))


def filter_blocked_domains(
    df: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    domain_col: str = "domain",
) -> DataFrame:
    """C4-recipe URL filtering (Raffel et al. 2020 §2.2 drop pages from
    a blocklist): rows citing ANY blocklisted domain are removed.

    Scale shape: domains explode to slim (row, domain) pairs; the
    blocklist is the tiny build side of the probe join (AQE broadcasts
    it), flagged rows dedup by a map-side-combinable aggregation, and
    the final removal is a left-anti join keyed on the row's own
    columns' hash — no text column ever shuffles. Subdomain matches
    count (``ads.example.com`` hits a blocked ``example.com``) via an
    equi-join on the suffix-expanded domain rows, not a contains-scan.
    """
    # row id = md5 over a FIXED-WIDTH per-column encoding: each column
    # contributes 'n' (NULL) or 'v' + md5(value) — 33 chars of a fixed
    # alphabet — so the combined string parses unambiguously and the
    # encoding is injective (r3 ADVICE: separator-joined raw values are
    # not — ('a\x00','b') and ('a','\x00b') collided, and scraped web
    # text can contain NUL bytes, so a flagged row could drag an
    # innocent _rid twin into the anti-join)
    row_repr = F.concat(
        *[
            F.when(F.col(c).isNull(), F.lit("n")).otherwise(
                F.concat(F.lit("v"), F.md5(F.col(c).cast("string")))
            )
            for c in df.columns
        ]
    )
    # keyed feeds TWO consumers (the flag build side and the anti-join
    # probe). It is a projection, a narrow fan-out with no exchange
    # for AQE to reuse, so without a persist the whole upstream lineage
    # — in the curation pipeline that is the fused extraction kernel —
    # executes once per consumer (its MapInArrow runs twice). At cluster
    # scale this is where you'd stage the post-extraction set to a
    # table; persist is the single-job equivalent (the package caching
    # rule, dedup.py module docstring).
    keyed = (
        extract_domains(df, text_col)
        .withColumn("_rid", F.md5(row_repr))
        .persist()
    )
    # suffix expansion: a.b.c -> [a.b.c, b.c] (registrable tail pairs),
    # so subdomain hits stay an equi-join instead of a per-pair LIKE
    suffixes = lambda d: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.greatest(F.size(F.split(d, r"\.")) - 2, F.lit(0))),
        lambda i: F.array_join(
            F.slice(F.split(d, r"\."), i + 1, F.size(F.split(d, r"\."))), "."
        ),
    )
    dom_rows = keyed.select(
        "_rid", F.explode_outer("domains").alias("domain")
    ).select("_rid", F.explode_outer(suffixes(F.col("domain"))).alias("dsuf"))
    blocked = blocklist.select(F.lower(F.col(domain_col)).alias("dsuf")).distinct()
    flagged = (
        dom_rows.join(F.broadcast(blocked), "dsuf").select("_rid").distinct()
    )
    return (
        keyed.join(flagged, "_rid", "left_anti")
        .drop("_rid", "domains")
    )


# --- bad-words lexicon filter (C4-style) ---

# Token grammar for lexicon matching: maximal [a-z0-9] runs of the
# lowercased text. Chosen over \s+ words because C4's rule is about
# CONTENT words — "slow!" and "(slow)" must hit a lexicon "slow", and
# a substring must never hit ("class" does not contain the token
# "ass"). Same class both engines (RE2/Java portable).
BADWORD_TOKEN_SPLIT = r"[^a-z0-9]+"


def _phrase_pattern(phrase: str) -> str:
    """Portable boundary regex for a multi-word lexicon phrase: the
    words in order, separated by any non-alnum run, anchored by
    non-alnum (or string edge) on both sides — the token-grammar
    equivalent of ``\\b`` without using lookarounds (RE2 has none)."""
    import re as _re

    words = [_re.escape(w) for w in phrase.split()]
    return (
        "(^|[^a-z0-9])" + "[^a-z0-9]+".join(words) + "([^a-z0-9]|$)"
    )


def badwords_flags(
    df: DataFrame, lexicon: tuple[str, ...], text_col: str = "text"
) -> DataFrame:
    """Adds ``bad_terms`` (sorted distinct lexicon terms the text
    contains, token-boundary semantics) and ``n_bad`` — the C4 recipe's
    lexicon gate (Raffel et al. 2020 §2.2: drop any page containing a
    term from a pinned word list), split into flag + filter so curation
    jobs can monitor WHAT matched before deciding to drop.

    Single-word terms match against the distinct token set of the text
    (one ``array_intersect`` against a literal array — never a per-term
    scan). Multi-word phrases match via one portable boundary regex per
    phrase (lexicon is a pinned constant, so every pattern is foldable
    and the whole stage stays in WholeStageCodegen). NULL text is
    clean.

    Scale shape: one zero-shuffle narrow projection; the lexicon rides
    in the plan as literals (a 10^4-term production list would switch
    the word branch to a broadcast equi-join on exploded tokens — the
    ``filter_blocked_domains`` shape — but stay filter-side identical).
    """
    lex = tuple(t.lower().strip() for t in lexicon)
    if any(not t for t in lex):
        raise ValueError("empty lexicon term")
    words = [t for t in lex if " " not in t]
    phrases = [t for t in lex if " " in t]
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.array_distinct(
        F.filter(F.split(low, BADWORD_TOKEN_SPLIT), lambda t: t != "")
    )
    parts = []
    if words:
        parts.append(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
    if phrases:
        parts.append(
            F.array_compact(
                F.array(
                    *[
                        F.when(
                            F.regexp_like(low, F.lit(_phrase_pattern(p))),
                            F.lit(p),
                        )
                        for p in phrases
                    ]
                )
            )
        )
    bad = (
        F.array_sort(F.concat(*parts))
        if parts
        else F.array().cast("array<string>")
    )
    return df.withColumn("bad_terms", bad).withColumn(
        "n_bad", F.size("bad_terms").cast("long")
    )


def filter_badwords(
    df: DataFrame, lexicon: tuple[str, ...], text_col: str = "text"
) -> DataFrame:
    """C4 lexicon filtering: rows whose text contains ANY lexicon term
    (token-boundary semantics, see :func:`badwords_flags`) are removed;
    the flag columns do not survive into the output."""
    return (
        badwords_flags(df, lexicon, text_col)
        .filter(F.col("n_bad") == 0)
        .drop("bad_terms", "n_bad")
    )


# --- URL canonicalization + crawl-frontier dedup ---

# Tracking params every crawl pipeline strips (pinned literal set +
# the utm_* prefix family). Keys compare case-insensitively.
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "mc_cid", "mc_eid", "ref", "ref_src")


def canonical_url_col(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL, as one pure column
    expression (zero shuffle, engine-portable regex — no lookarounds).

    A crawl frontier at 10^12 URLs lives or dies on this map: without
    it the same page is fetched once per tracking-param permutation.
    Rules (deterministic, mirrored verbatim in the DuckDB oracle):

    * scheme + host lowercased; userinfo and trailing host dots dropped
    * default ports removed (http:80 / https:443); others kept,
      numerically normalized (':0080' == ':80')
    * empty path -> '/'
    * fragment dropped
    * query: empty params dropped, tracking params dropped
      (``utm_*`` prefix + :data:`TRACKING_PARAMS`), survivors sorted
      byte-lexicographically and rejoined
    * anything that is not ``scheme://host...`` -> NULL (not a fetchable
      absolute URL; callers filter); IPv6 literal hosts (``[::1]``) also
      -> NULL — the colon-split host/port grammar below cannot parse
      them, and silently mangling two distinct v6 hosts into one
      canonical key would make the frontier skip real pages

    Deliberately NOT done (would need per-site knowledge): dot-segment
    resolution, %-encoding normalization, param-value rewriting.
    """
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    nofrag = F.regexp_extract(rest, r"^([^#]*)", 1)
    auth = F.regexp_extract(nofrag, r"^([^/?]*)", 1)
    hostport = F.regexp_replace(auth, r"^[^@]*@", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1)), r"\.+$", ""
    )
    port_s = F.regexp_extract(hostport, r":(\d+)$", 1)
    port = F.when(port_s == "", F.lit(None)).otherwise(port_s.cast("int"))
    default_port = ((scheme == "http") & (port == 80)) | (
        (scheme == "https") & (port == 443)
    )
    port_part = F.when(
        port.isNull() | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port.cast("string")))
    path = F.regexp_extract(nofrag, r"^[^/?]*(/[^?]*)", 1)
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(nofrag, r"\?(.*)$", 1)

    def _keep(p: Column) -> Column:
        key = F.lower(F.regexp_extract(p, r"^([^=]*)", 1))
        return (
            (p != "")
            & ~key.startswith("utm_")
            & ~key.isin(*TRACKING_PARAMS)
        )

    params = F.array_sort(F.filter(F.split(query, "&"), _keep))
    query_part = F.when(
        F.size(params) == 0, F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(params, "&")))
    canon = F.concat(scheme, F.lit("://"), host, port_part, path_part, query_part)
    return F.when(
        scheme.isin("http", "https")
        & (host != "")
        & ~hostport.startswith("["),
        canon,
    ).otherwise(F.lit(None).cast("string"))


def url_frontier(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Crawl-frontier dedup: one row per canonical URL with the
    first-seen id (min ``id_col``) and the duplicate count.

    Scale shape: pure aggregation on the canonical key — map-side
    combine collapses a viral URL's 10^8 occurrences inside each map
    task before the single exchange (never a window/rank over the hot
    key). Non-URL rows (canonical NULL) are excluded.
    """
    return (
        df.select(
            canonical_url_col(F.col(url_col)).alias("canonical_url"),
            F.col(id_col),
        )
        .filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).cast("long").alias("first_id"),
            F.count("*").cast("long").alias("n_seen"),
        )
    )


# --- per-domain corpus profile (RefinedWeb-style domain rollup) ---

# Multi-label public suffixes the registered-domain heuristic must not
# split (pinned subset of the public-suffix list covering the corpora
# this pipeline meets; a full PSL would ship as a broadcast lookup
# table with the identical join shape).
MULTI_LABEL_TLDS = (
    "co.uk", "ac.uk", "org.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "co.in", "co.kr", "com.br",
    "com.cn", "com.tw", "com.mx", "co.za", "com.sg", "co.nz",
)


def registered_domain_col(host: Column) -> Column:
    """Registered (pay-level) domain of a lowercase host: the last two
    labels, or three when the two-label tail is a pinned multi-label
    public suffix (``a.b.site.co.uk`` → ``site.co.uk``, not ``co.uk``).
    Hosts with ≤2 labels (including single-label intranet names) pass
    through whole, as do IP-literal hosts (an all-digit last label can
    only be an address — no public TLD is numeric — and truncating
    10.0.0.1 and 192.168.0.1 to a shared '0.1' would merge unrelated
    hosts into one profile row). Pure column expression, zero shuffle.
    """
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    last3 = F.concat_ws(
        ".",
        F.element_at(parts, -3),
        F.element_at(parts, -2),
        F.element_at(parts, -1),
    )
    return (
        F.when(n <= 2, host)
        .when(F.regexp_like(F.element_at(parts, -1), F.lit(r"^[0-9]+$")), host)
        .when(last2.isin(*MULTI_LABEL_TLDS), last3)
        .otherwise(last2)
    )


def domain_profile(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-registered-domain corpus profile — the rollup RefinedWeb-
    style curation filters on (domain-level dup rate and volume decide
    whether a domain is boilerplate-farm, mirror, or real content;
    reference analog: none — the reference is single-document).

    One row per registered domain: ``n_docs`` (rows citing the
    domain), ``n_pages`` (distinct canonical URLs — the dedup'd page
    count; ``n_docs - n_pages`` is the domain's re-crawl duplication),
    ``total_chars`` (text volume). Non-URL rows are excluded.

    Scale shape: pure two-level aggregation. Spark plans the
    count-distinct as a partial groupBy on (domain, canonical) before
    the domain-level agg, so a hot domain's pages spread across tasks
    on the WIDE composite key and only pre-aggregated slim rows reach
    the domain exchange — never a hot-key window, no row with the text
    payload ever shuffles (length is projected before the first
    exchange).
    """
    canon = canonical_url_col(F.col(url_col))
    host = F.regexp_extract(canon, r"^https?://([^/:?#]+)", 1)
    return (
        df.select(
            registered_domain_col(host).alias("domain"),
            canon.alias("_canon"),
            F.coalesce(F.length(F.col(text_col)), F.lit(0)).alias("_len"),
        )
        .filter(F.col("_canon").isNotNull())
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("_canon").cast("long").alias("n_pages"),
            F.sum("_len").cast("long").alias("total_chars"),
        )
    )

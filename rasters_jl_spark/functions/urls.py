"""URL canonicalization & URL-level dedup — the first dedup pass of a web
crawl pipeline (the same page is fetched as `HTTP://Host:80/a/?utm=x#f`
and `http://host/a`): scheme/host lowercased, default ports stripped,
fragments dropped, tracking parameters removed, query parameters SORTED,
trailing path slashes trimmed. Reference scope: none (Rasters.jl);
north-rule training-pipeline coverage.

Engineering shape: regexp extraction + array sort/filter/join — all
codegen, per-row, zero shuffle; the dedup itself is one hash groupBy on
the canonical string (same plan class as exact text dedup). Patterns use
the Java-regex ∩ RE2 subset so the same pattern text drives Spark and
the DuckDB oracle (replacement syntax differs — $1 vs \\1 — so the
oracle builds its own replacement strings around identical patterns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.session import local_df

# 'ref' is deliberately NOT in the default list: unlike utm_*/fbclid/gclid
# it is a semantic parameter on many sites (branch refs, referral codes
# that change the served page) — callers curating a corpus where ref= is
# known tracking pass their own pattern
TRACKING_RE = "^(utm_[A-Za-z]+|fbclid|gclid)="
HEAD_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
# default ports are scheme-specific: :80 is default ONLY for http and
# :443 ONLY for https — http://host:443 and https://host:80 are genuinely
# distinct origins and must NOT collapse. The authority part is matched
# greedily (.*) rather than [^:]* so userinfo (user:pw@host:80) and
# bracketed IPv6 hosts ([2001:db8::1]:80) keep stripping their default
# port; the trailing ':' anchors the match, so :8080/:1443 never strip.
PORT_HTTP_RE = "^(http://.*):80$"
PORT_HTTPS_RE = "^(https://.*):443$"


def canonical_url_col(url: Column, tracking_re: str = TRACKING_RE) -> Column:
    """The canonical form of ``url`` (see module docstring for rules).
    ``tracking_re`` overrides the default tracking-parameter pattern."""
    u = F.regexp_replace(url, "#.*$", "")  # fragment
    head0 = F.regexp_extract(u, HEAD_RE, 0)
    head = F.regexp_replace(
        F.regexp_replace(F.lower(head0), PORT_HTTP_RE, "$1"), PORT_HTTPS_RE, "$1"
    )
    rest = u.substr(F.length(head0) + F.lit(1), F.length(u))
    path = F.regexp_replace(F.regexp_extract(rest, "^[^?]*", 0), "/+$", "")
    q = F.regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(tracking_re),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        head, path, F.when(F.length(qs) > 0, F.concat(F.lit("?"), qs)).otherwise(F.lit(""))
    )


def dedup_urls(pages: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """(url_canon, n_urls, keep_id): one row per canonical URL with the
    variant count and the kept representative (min id — deterministic).
    One groupBy shuffle on the canonical hash; 100-TB shape identical to
    exact text dedup."""
    c = pages.select(F.col(id_col).alias("_id"), canonical_url_col(F.col(url_col)).alias("url_canon"))
    return c.groupBy("url_canon").agg(
        F.count("*").alias("n_urls"), F.min("_id").alias("keep_id")
    )


def host_col(url: Column) -> Column:
    """Registrable host of ``url``, lowercased, port stripped — the
    grouping key for domain-level curation (per-domain quality cuts,
    crawl budgets, licensing blocklists)."""
    h = F.lower(F.regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))
    return F.regexp_replace(h, ":\\d+$", "")


def domain_stats(
    pages: DataFrame, url_col: str = "url", chars_col: str = "n_chars"
) -> DataFrame:
    """(host, n_docs, sum_chars, avg_chars): per-domain corpus statistics —
    one partial-aggregated groupBy on the extracted host. At 100 TB this
    is the table a domain-filtering pass joins back against (broadcast:
    the web has ~10^8 hosts, a metadata-scale dimension)."""
    return (
        pages.select(host_col(F.col(url_col)).alias("host"), F.col(chars_col))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(chars_col).cast("long").alias("sum_chars"),
            F.round(F.avg(chars_col), 6).alias("avg_chars"),
        )
    )


def host_suffix_chain(host: Column) -> Column:
    """The label-suffix chain of a host: ``a.b.c`` → ``[a.b.c, b.c, c]``.
    Bounded by the label count (≤ ~6 on real hosts) — the explode side of
    the subdomain-aware blocklist join."""
    labels = F.split(host, "\\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(F.slice(labels, i, F.size(labels)), "."),
    )


def blocked_domains(
    pages: DataFrame, blocklist, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, host, matched): documents whose URL host equals a blocklist
    entry or is a subdomain of one (``host == e`` or ``host`` ends with
    ``'.' + e``) — the domain-blocklist gate every crawl pipeline runs
    before content filters (C4's badwords-domain cut; CCNet's per-domain
    curation). ``matched`` is the lexicographically smallest matching
    entry (deterministic when several nest).

    Scale shape: the host's label-suffix chain is exploded (≤ label-count
    rows per doc) and broadcast-semi-joined against the blocklist — never
    a per-pattern LIKE/regex scan, which is O(corpus × |blocklist|) work
    Catalyst can't index. Matching is label-anchored by construction
    (``xads.tracker.net`` does NOT match ``ads.tracker.net``; a plain
    string-suffix test would). The blocklist is metadata-scale (10⁶
    entries broadcast in MBs); the groupBy exchange carries ≤ 1 row per
    blocked doc after map-side partial aggregation."""
    spark = pages.sparkSession
    bl = local_df(spark, [(e,) for e in sorted(set(blocklist))], "entry string")
    hosts = pages.select(
        F.col(id_col).alias("doc_id"), host_col(F.col(url_col)).alias("host")
    )
    suff = hosts.select(
        "doc_id", "host", F.explode(host_suffix_chain(F.col("host"))).alias("entry")
    )
    return (
        suff.join(F.broadcast(bl), "entry")
        .groupBy("doc_id", "host")
        .agg(F.min("entry").alias("matched"))
    )


# --- robots.txt (RFC 9309-lite) --------------------------------------------
# The crawl pipeline's politeness gate: parse each host's robots.txt
# wildcard group and test URL paths against it. The robots TABLE is
# host-count-sized (metadata side, broadcast); the path decision over the
# corpus is pure codegen — so the 100-TB pass is map-only.
#
# Scope (documented simplifications, all deterministic + SQL-twinned):
# groups are attributed by splitting on 'user-agent:' (a group listing
# MORE agents after '*' attributes its rules to the last-listed agent);
# prefixes are literal (no '*'/'$' wildcards — original REP semantics);
# matching is lowercase; empty Disallow (allow-all) is dropped at parse.


def robots_rules_col(txt: Column) -> Column:
    """array<struct<prefix,allow>> — the wildcard group's Allow/Disallow
    prefixes from a robots.txt body (NULL body → empty rules)."""
    # strip CR first: trim() removes only spaces, so CRLF crawls would
    # otherwise hide the '*' group marker and keep \r in prefixes
    low = F.replace(
        F.lower(F.coalesce(txt, F.lit(""))), F.lit("\r"), F.lit("")
    )
    segs = F.split(low, "user-agent:")
    star = F.filter(
        segs, lambda s: F.trim(F.element_at(F.split(s, "\n"), 1)) == "*"
    )
    def seg_rules(s: Column) -> Column:
        lines = F.transform(F.split(s, "\n"), lambda l: F.trim(l))
        rl = F.filter(
            lines,
            lambda l: l.startswith("disallow:") | l.startswith("allow:"),
        )
        return F.transform(
            rl,
            lambda l: F.struct(
                F.trim(F.regexp_replace(l, r"^(dis)?allow:", "")).alias("prefix"),
                l.startswith("allow:").alias("allow"),
            ),
        )
    return F.filter(
        F.flatten(F.transform(star, seg_rules)),
        lambda r: F.length(r["prefix"]) > 0,
    )


def url_path_col(url: Column) -> Column:
    """Lowercased path component ('' → '/')."""
    p = F.regexp_extract(F.lower(url), r"^[a-z][a-z0-9+.-]*://[^/]*(/[^#?]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_allowed_col(path: Column, rules: Column) -> Column:
    """RFC 9309 longest-match decision: among rules whose prefix starts
    ``path``, the longest wins; equal lengths → allow wins; no match →
    allowed. The fold keeps the lexicographic max of (len, allow), so the
    result is independent of rule order."""
    app = F.filter(rules, lambda r: path.startswith(r["prefix"]))
    acc0 = F.struct(
        F.lit(-1).alias("len"), F.lit(True).alias("allow")
    )
    best = F.aggregate(
        app,
        acc0,
        lambda acc, r: F.when(
            (F.length(r["prefix"]) > acc["len"])
            | ((F.length(r["prefix"]) == acc["len"]) & r["allow"]),
            F.struct(F.length(r["prefix"]).alias("len"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    return (best["len"] < 0) | best["allow"]


def filter_robots(
    pages: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    host_robots_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """pages + (host, path, allowed): parse each host's robots once on the
    BROADCAST side, join on host, decide per URL in codegen. Hosts with
    no robots.txt row are fully allowed (left join → empty rules)."""
    rules = robots.select(
        F.col(host_robots_col).alias("_rhost"),
        robots_rules_col(F.col(txt_col)).alias("_rules"),
    )
    p = pages.withColumn("host", host_col(F.col(url_col))).withColumn(
        "path", url_path_col(F.col(url_col))
    )
    joined = p.join(F.broadcast(rules), p["host"] == rules["_rhost"], "left")
    empty = F.array().cast("array<struct<prefix:string,allow:boolean>>")
    return joined.withColumn(
        "allowed",
        robots_allowed_col(F.col("path"), F.coalesce(F.col("_rules"), empty)),
    ).drop("_rhost", "_rules")


def robots_rules_sql(expr: str) -> str:
    """DuckDB twin of :func:`robots_rules_col` (list lambdas; 1-based
    list indexing)."""
    segs = (
        f"string_split(replace(lower(COALESCE({expr}, '')), chr(13), ''), "
        f"'user-agent:')"
    )
    star = f"list_filter({segs}, s -> trim(string_split(s, chr(10))[1]) = '*')"
    lines = "list_transform(string_split(s, chr(10)), l -> trim(l))"
    rl = (
        f"list_filter({lines}, l -> starts_with(l, 'disallow:')"
        f" OR starts_with(l, 'allow:'))"
    )
    seg_rules = (
        f"list_transform({rl}, l -> struct_pack("
        f"prefix := trim(regexp_replace(l, '^(dis)?allow:', '')), "
        f"allow := starts_with(l, 'allow:')))"
    )
    return (
        f"list_filter(flatten(list_transform({star}, s -> {seg_rules})), "
        f"r -> len(r.prefix) > 0)"
    )


def url_path_sql(expr: str) -> str:
    p = f"regexp_extract(lower({expr}), '^[a-z][a-z0-9+.-]*://[^/]*(/[^#?]*)', 1)"
    return f"CASE WHEN {p} = '' THEN '/' ELSE {p} END"


def robots_allowed_sql(path: str, rules: str) -> str:
    """DuckDB twin of :func:`robots_allowed_col` — same lexicographic-max
    fold (seed prepended for list_reduce)."""
    app = f"list_filter({rules}, r -> starts_with({path}, r.prefix))"
    cands = (
        f"list_prepend(struct_pack(ln := -1, al := true), "
        f"list_transform({app}, r -> struct_pack("
        f"ln := CAST(len(r.prefix) AS INT), al := r.allow)))"
    )
    best = (
        f"list_reduce({cands}, (acc, x) -> CASE WHEN x.ln > acc.ln "
        f"OR (x.ln = acc.ln AND x.al) THEN x ELSE acc END)"
    )
    return f"(({best}).ln < 0 OR ({best}).al)"


# --- crawl revisit classification ------------------------------------------


def classify_revisits(
    prev: DataFrame,
    cur: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """(url, status ∈ new|unchanged|changed|gone, digest, prev_digest):
    the WARC revisit-record semantics (identical-payload-digest) as one
    full-outer join between two crawl snapshots — the pass an incremental
    pipeline runs to re-process only 'new'+'changed' and emit revisit
    records for 'unchanged'. One shuffle join keyed on url; bucket both
    snapshots by url at write time and the exchange disappears."""
    p = prev.select(F.col(url_col).alias("url"), F.col(digest_col).alias("prev_digest"))
    c = cur.select(F.col(url_col).alias("url"), F.col(digest_col).alias("digest"))
    j = c.join(p, "url", "full_outer")
    status = (
        F.when(F.col("prev_digest").isNull(), F.lit("new"))
        .when(F.col("digest").isNull(), F.lit("gone"))
        .when(F.col("digest") == F.col("prev_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("url", status.alias("status"), "digest", "prev_digest")

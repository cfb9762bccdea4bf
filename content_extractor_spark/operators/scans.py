"""Scan-side predicates (S2/S3/P1/P5/O7) as pure Catalyst expressions.

These mirror the reference's server-side GraphQL `where` filters so
they push down into the parquet/Iceberg scan (predicate pushdown +
partition pruning replace the reference's client-side pagination,
GraphQLHelper.scala:66-210, 528-600).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# GraphQLHelper.scala:528-561 — case-insensitive "name_not_contains_i"
COMMON_FILE_ENDINGS = [
    ".epub", ".pdf", ".doc", ".docx", ".xls", ".xlsm", ".xlsx", ".ppt",
    ".pptx", ".odt", ".ods", ".zip", ".ics", ".rss", ".rtf",
    ".png", ".jpg", ".jpeg", ".svg", ".gif", ".bmp", ".eps",
    ".wav", ".mp4", ".mp3", ".swf",
    ".srt", ".m4r",
]

# GraphQLHelper.scala:526 — sentinel meaning "never crawled"
EPOCH_SENTINEL = "1970-01-01T00:00:00Z"
EPOCH_SENTINEL_MILLIS = "1970-01-01T00:00:00.000Z"


# P1 and P5 as SQL text: each filter is one Py4J round trip to build,
# where the Column API's 29-way OR costs hundreds. The text holds only
# the code constants above.
_FILE_ENDING_EXCLUSION = "NOT coalesce({}, false)".format(
    " OR ".join(f"contains(lower(url), '{e}')" for e in COMMON_FILE_ENDINGS)
)
# UrlHandlingSupport.scala:534-552: skip rows without a URL
_URL_IS_VALID = "url IS NOT NULL AND url != ''"


def file_ending_exclusion() -> Column:
    """P1: none of the 29 common file endings appear in the URL (ci)."""
    return F.expr(_FILE_ENDING_EXCLUSION)


def is_new() -> Column:
    """S2: never crawled (lastCrawl == EPOCH sentinel or NULL)."""
    c = F.col("last_crawl")
    return c.isNull() | c.isin(EPOCH_SENTINEL, EPOCH_SENTINEL_MILLIS)


def needs_reanalysis(now_iso: str, reanalysis_interval_hours: int = 48) -> Column:
    """S3: EPOCH < lastCrawl <= now - interval (GraphQLHelper.scala:592-600).

    `now_iso` is an explicit parameter — the pipeline never reads the
    wall clock (determinism; SURVEY §7 hard part 7).
    """
    c = F.to_timestamp(F.col("last_crawl"))
    cutoff = F.to_timestamp(F.lit(now_iso)) - F.expr(
        f"INTERVAL {int(reanalysis_interval_hours)} HOURS"
    )
    epoch = F.to_timestamp(F.lit(EPOCH_SENTINEL))
    return c.isNotNull() & (c > epoch) & (c <= cutoff)


def scannable_documents(df: DataFrame, mode: str = "all",
                        now_iso: str = "2021-07-01T00:00:00Z",
                        reanalysis_interval_hours: int = 48) -> DataFrame:
    """Apply P5 + P1 and the phase predicate (O6 as filters, not phases)."""
    out = df.filter(_URL_IS_VALID).filter(file_ending_exclusion())
    if mode == "new":
        out = out.filter(is_new())
    elif mode == "existing":
        out = out.filter(needs_reanalysis(now_iso, reanalysis_interval_hours))
    return out


def etag_unchanged_skip(docs: DataFrame, entries: DataFrame) -> DataFrame:
    """O7: drop rows whose etag matches the stored entry's etag.

    Left-anti join against existing entries on (url_id, etag) — a cheap
    shuffle that avoids the expensive parse for unchanged pages
    (Analyzer.scala:67-69; UrlHandler.scala:224-283).
    """
    unchanged = entries.select(
        F.col("url_id").alias("e_url_id"), F.col("etag").alias("e_etag")
    ).where(F.col("e_etag").isNotNull())
    return docs.join(
        unchanged,
        (docs["url_id"] == unchanged["e_url_id"])
        & (docs["etag"] == unchanged["e_etag"]),
        "left_anti",
    )


def _robots_grouped_lines(robots: DataFrame) -> DataFrame:
    """(host, pos, line, _ua, grp) — comment-stripped non-empty
    ``robots_txt`` lines with their rule-group id (running count of group-STARTING
    User-agent lines). Shared by the rules and directives parsers."""
    from pyspark.sql import Window

    lines = (
        robots.select(
            "host",
            F.posexplode(F.split(F.col("robots_txt"), "\n"))
            .alias("pos", "line"),
        )
        .withColumn(
            # RFC 9309: '#' starts a comment anywhere on the line
            "line", F.trim(F.regexp_replace(F.col("line"), "#.*", ""))
        )
        # group boundaries are computed over NON-EMPTY lines only: a
        # blank or comment-only line between two User-agent lines does
        # NOT split the group (RFC 9309 §2.1 — groups are delimited by
        # the next user-agent line, not by blank lines)
        .where(F.col("line") != "")
    )
    is_ua = F.col("line").rlike(r"(?i)^user-agent\s*:")
    w = Window.partitionBy("host").orderBy("pos")
    return (
        lines.withColumn("_ua", is_ua)
        .withColumn("_prev_ua", F.coalesce(F.lag("_ua").over(w), F.lit(False)))
        .withColumn(
            "grp",
            F.sum(
                (F.col("_ua") & ~F.col("_prev_ua")).cast("int")
            ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )


def _robots_star_groups(lines: DataFrame) -> DataFrame:
    """(host, grp) of groups naming User-agent: * ."""
    return (
        lines.where(F.col("_ua"))
        .withColumn(
            "agent",
            F.trim(F.regexp_extract(F.col("line"), r"(?i)^user-agent\s*:(.*)$", 1)),
        )
        .where(F.col("agent") == "*")
        .select("host", "grp")
        .distinct()
    )


def robots_rules(robots: DataFrame) -> DataFrame:
    """(host, kind, prefix) Allow/Disallow rules that apply to
    User-agent: * — GROUP-AWARE robots.txt parsing in pure Catalyst.

    A robots group is one-or-more consecutive User-agent lines followed
    by its rules; a rule applies to us only if its group names agent
    '*'. Directive names match case-insensitively, rule paths keep
    their case; '#' comments are stripped (RFC 9309). Implemented with
    one posexplode + two windows (group id = running count of
    group-STARTING user-agent lines) and one group-level aggregate —
    no Python.
    """
    lines = _robots_grouped_lines(robots)
    star_groups = _robots_star_groups(lines)
    rules = (
        lines.where(F.col("line").rlike(r"(?i)^(dis)?allow\s*:"))
        .withColumn(
            "kind",
            F.when(
                F.col("line").rlike(r"(?i)^disallow\s*:"), F.lit("disallow")
            ).otherwise(F.lit("allow")),
        )
        .withColumn(
            "prefix",
            F.trim(
                F.regexp_extract(F.col("line"), r"(?i)^(?:dis)?allow\s*:(.*)$", 1)
            ),
        )
        .where(F.col("prefix") != "")
        .select("host", "grp", "kind", "prefix")
    )
    return rules.join(star_groups, ["host", "grp"]).select(
        "host", "kind", "prefix"
    )


def robots_disallow_filter(urls: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop urls blocked by their host's User-agent:* rules, with
    RFC 9309 precedence: among all matching Allow/Disallow rules the
    LONGEST rule path wins (octets of the rule, wildcards counted as
    written — the de-facto standard from Google's open-source robots.txt
    parser), ties go to Allow; no matching rule means allowed.

    RFC 9309 §2.2.3 wildcards are supported: ``*`` matches any
    character run and a TRAILING ``$`` anchors the end of the path
    (a ``$`` anywhere else is a literal). Plain-prefix rules keep the
    cheap startswith predicate; wildcard rules are translated to a
    Java regex once on the (tiny) rules side.

    Shape: the decision is computed once per distinct (host, path) —
    one equi-keyed join against the rules side plus one window. The
    blocked-path set scales with the distinct (host, path) corpus, so
    the back-join is a PLAIN equi-join (no forced broadcast — AQE
    picks broadcast when the set is actually small; an unconditional
    hint would OOM at 100x scale).
    """
    from pyspark.sql import Window

    rules = robots_rules(robots)
    # translate a rule path to an anchored Java regex: escape regex
    # metachars (except '*'), honor a trailing '$' as an end anchor,
    # turn '*' into '.*'
    p = F.col("prefix")
    ends_dollar = p.endswith("$")
    body = F.when(
        ends_dollar, F.expr("substring(prefix, 1, length(prefix) - 1)")
    ).otherwise(p)
    esc = F.regexp_replace(
        body, r"([\\.\[\]{}()+?^|$])", r"\\$1"
    )
    regex = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(ends_dollar, F.lit("$")).otherwise(F.lit("")),
    )
    has_wild = p.contains("*") | ends_dollar
    r = rules.select(
        F.col("host").alias("_r_host"),
        F.col("kind").alias("_r_kind"),
        F.col("prefix").alias("_r_prefix"),
        has_wild.alias("_r_wild"),
        regex.alias("_r_regex"),
    )
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]+", "")
    flagged = urls.withColumn("_path", path)
    paths = flagged.select(
        F.col("host").alias("_p_host"), F.col("_path").alias("_p_path")
    ).distinct()
    cond = (F.col("_p_host") == F.col("_r_host")) & (
        # SQL RLIKE accepts a column-valued pattern (the python
        # Column.rlike wrapper takes only literals)
        F.when(F.col("_r_wild"), F.expr("_p_path rlike _r_regex"))
        .otherwise(F.col("_p_path").startswith(F.col("_r_prefix")))
    )
    # plain join: host equality is an equi key, so Catalyst can SMJ
    # with the prefix/regex predicate as a join filter when the rules
    # corpus (which scales with the HOST population) outgrows
    # broadcast; AQE still broadcasts small rule sets at runtime
    matched = paths.join(r, cond, "inner")
    # longest rule path wins; tie -> allow ('allow' < 'disallow' asc)
    w = Window.partitionBy("_p_host", "_p_path").orderBy(
        F.length("_r_prefix").desc(), F.col("_r_kind").asc()
    )
    blocked = (
        matched.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("_r_kind") == "disallow"))
        .select("_p_host", "_p_path")
    )
    keep_cond = (F.col("host") == F.col("_p_host")) & (
        F.col("_path") == F.col("_p_path")
    )
    return flagged.join(blocked, keep_cond, "left_anti").drop("_path")


def sitemap_urls(sitemaps: DataFrame) -> DataFrame:
    """(host, kind, loc, lastmod) from sitemap XML.

    Handles both document shapes of the sitemaps.org protocol:
    ``<urlset>`` (kind='url' — crawlable pages) and ``<sitemapindex>``
    (kind='sitemap' — nested sitemap files to fetch next). Pure
    Catalyst: per-entry blocks via DOTALL regexp_extract_all, loc and
    the optional lastmod extracted per block (parallel-array
    misalignment impossible), the five XML entities unescaped in locs.
    Map-only + one explode — no shuffle at any corpus size.
    """
    x = F.col("xml")
    is_index = x.rlike(r"(?is)<\s*sitemapindex")
    blocks = F.when(
        is_index,
        F.regexp_extract_all(
            x, F.lit(r"(?is)<sitemap\b[^>]*>(.*?)</sitemap>"), F.lit(1)
        ),
    ).otherwise(
        F.regexp_extract_all(
            x, F.lit(r"(?is)<url\b[^>]*>(.*?)</url>"), F.lit(1)
        )
    )
    exploded = sitemaps.select(
        "host",
        F.when(is_index, F.lit("sitemap")).otherwise(F.lit("url")).alias("kind"),
        F.explode(blocks).alias("_block"),
    )
    loc = F.regexp_extract(F.col("_block"), r"(?is)<loc\s*>\s*(.*?)\s*</loc>", 1)
    lastmod = F.regexp_extract(
        F.col("_block"), r"(?is)<lastmod\s*>\s*(.*?)\s*</lastmod>", 1
    )
    # unescape the XML predefined entities (query urls carry &amp;)
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&apos;", "'")):
        loc = F.replace(loc, F.lit(ent), F.lit(ch))
    return (
        exploded.select(
            "host", "kind", loc.alias("loc"),
            F.when(lastmod != "", lastmod).alias("lastmod"),
        )
        .where(F.col("loc") != "")
    )


def feed_urls(feeds: DataFrame) -> DataFrame:
    """(host, kind, loc, published, title) from RSS 2.0 / Atom feed
    XML — the third discovery channel next to sitemaps and robots
    Sitemap lines (news sites, the reference's domain, publish feeds
    far more often than sitemaps).

    Dialect (documented subset): RSS ``<item>`` blocks yield
    ``<link>`` text + ``<pubDate>``; Atom ``<entry>`` blocks yield the
    FIRST ``<link href=...>`` + ``<updated>`` (falling back to
    ``<published>``). Titles have a CDATA wrapper stripped and the
    five XML entities unescaped. Pure Catalyst (DOTALL
    regexp_extract_all per block), map-only + one explode — no shuffle
    at any corpus size.
    """
    x = F.col("xml")
    is_atom = x.rlike(r"(?is)<\s*feed[\s>]")
    blocks = F.when(
        is_atom,
        F.regexp_extract_all(
            x, F.lit(r"(?is)<entry\b[^>]*>(.*?)</entry>"), F.lit(1)
        ),
    ).otherwise(
        F.regexp_extract_all(
            x, F.lit(r"(?is)<item\b[^>]*>(.*?)</item>"), F.lit(1)
        )
    )
    exploded = feeds.select(
        "host",
        F.when(is_atom, F.lit("atom")).otherwise(F.lit("rss")).alias("kind"),
        F.explode(blocks).alias("_block"),
    )
    b = F.col("_block")
    loc = F.when(
        F.col("kind") == "atom",
        F.regexp_extract(b, r'(?is)<link\b[^>]*?href\s*=\s*"([^"]*)"', 1),
    ).otherwise(
        F.regexp_extract(b, r"(?is)<link\s*>\s*(.*?)\s*</link>", 1)
    )
    published = F.when(
        F.col("kind") == "atom",
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    b, r"(?is)<updated\s*>\s*(.*?)\s*</updated>", 1
                ),
                F.lit(""),
            ),
            F.regexp_extract(
                b, r"(?is)<published\s*>\s*(.*?)\s*</published>", 1
            ),
        ),
    ).otherwise(
        F.regexp_extract(b, r"(?is)<pubDate\s*>\s*(.*?)\s*</pubDate>", 1)
    )
    title = F.regexp_extract(
        b, r"(?is)<title\b[^>]*>\s*(.*?)\s*</title>", 1
    )
    title = F.regexp_replace(
        title, r"(?s)^<!\[CDATA\[(.*)\]\]>$", "$1"
    )
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&apos;", "'")):
        loc = F.replace(loc, F.lit(ent), F.lit(ch))
        title = F.replace(title, F.lit(ent), F.lit(ch))
    return (
        exploded.select(
            "host", "kind", loc.alias("loc"),
            F.when(published != "", published).alias("published"),
            F.when(title != "", title).alias("title"),
        )
        .where(F.col("loc") != "")
    )


def domain_blocklist_filter(urls: DataFrame, blocked: DataFrame) -> DataFrame:
    """Drop urls whose host IS a blocked domain or is a SUBDOMAIN of
    one — the UT1-blocklist / RefinedWeb-style URL filtering step of a
    pretraining pipeline. Suffix semantics, not substring:
    ``ads.bad.example`` is blocked by ``bad.example``;
    ``notbad.example`` is not.

    Shape for a multi-million-domain list (UT1 adult is ~4M rows):
    each host explodes into its label suffixes of >= 2 labels (a
    bounded ~3-5 rows per url), one equi semi join keyed on the suffix
    marks blocked urls, one anti join removes them. Both joins are
    PLAIN equi-joins — AQE broadcasts the blocklist when it is small
    and shuffles when it is not (an unconditional broadcast hint would
    OOM on the real lists). No per-row iteration over the list, no
    regex, no cartesian.
    """
    from .textstats import let_bound

    parts = F.split(F.col("host"), r"\.")
    # let_bound: free-variable parts in the lambda would re-split the
    # host once per suffix
    sufs = let_bound(
        parts,
        lambda p: F.when(
            F.size(p) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(p) - F.lit(2)),
                lambda i: F.array_join(
                    F.slice(p, i + F.lit(1), F.size(p) - i), "."
                ),
            ),
        ).otherwise(F.array(F.col("host"))),
    )
    hits = (
        urls.select(F.col("url"), F.explode(sufs).alias("_suf"))
        .join(
            blocked.select(F.col("domain").alias("_suf")),
            "_suf",
            "left_semi",
        )
        .select("url")
        .distinct()
    )
    return urls.join(hits, "url", "left_anti")

"""HTML column expressions (reference ops H2/H3/H5, SURVEY.md §2.2).

Pure JVM-side regexp chains — no UDFs:
  * strip_scripts_styles — remove <script>/<style> blocks
    (EmlProcessingUtils.java:594-606)
  * strip_positioned_css — remove position:fixed/absolute declarations
    (EmlProcessingUtils.java:238-247)
  * text_to_html — escape, newline -> <br>, URL/email autolinking
    (EmlProcessingUtils.java:256-284)

The H1 allowlist sanitizer needs a real parser and lives in
kernel/sanitize.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
POSITIONED_CSS_RE = r"(?i)position\s*:\s*(fixed|absolute)\s*;?"
URL_RE = r"(https?://[^\s<]+)"
EMAIL_RE = r"([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})"


def strip_scripts_styles(col: Column) -> Column:
    out = F.regexp_replace(col, SCRIPT_RE, "")
    return F.regexp_replace(out, STYLE_RE, "")


def strip_positioned_css(col: Column) -> Column:
    return F.regexp_replace(col, POSITIONED_CSS_RE, "")


def escape_html(col: Column) -> Column:
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    return F.regexp_replace(out, ">", "&gt;")


def autolink(col: Column) -> Column:
    out = F.regexp_replace(col, URL_RE, '<a href="$1">$1</a>')
    return F.regexp_replace(out, EMAIL_RE, '<a href="mailto:$1">$1</a>')


def text_to_html(col: Column) -> Column:
    """escape -> \\n to <br> -> autolink, the reference's text->HTML
    conversion order."""
    out = escape_html(col)
    out = F.regexp_replace(out, r"\n", "<br>")
    return autolink(out)


def text_to_html_py(text: str) -> str:
    """Python twin of ``text_to_html`` for kernel-side ingestion paths
    (same escape/newline/autolink chain and the SAME regexes, so a
    plain-text EML body ingested via sources.files matches the column
    path; EmlProcessingUtils.java:256-284 incl. CRLF normalization)."""
    import re

    out = (text.replace("&", "&amp;").replace("<", "&lt;")
           .replace(">", "&gt;"))
    out = out.replace("\r\n", "\n").replace("\r", "\n").replace("\n", "<br>")
    out = re.sub(URL_RE, r'<a href="\1">\1</a>', out)
    return re.sub(EMAIL_RE, r'<a href="mailto:\1">\1</a>', out)


# one <a> tag per match; group 1 = the whole tag so the per-tag href /
# anchor-text extraction below stays a plain column expression
ANCHOR_TAG_RE = r'(<a\s[^>]*href="[^"]*"[^>]*>[^<]*</a>)'


def extract_anchors(df, id_col: str = "doc_id",
                    html_col: str = "html"):
    """Anchor-text corpus extraction — the web-pipeline stage that
    feeds anchor-text retrieval datasets (link graph + anchor terms,
    cf. the public Common-Crawl anchor-corpus recipes): every <a> tag
    in tag order with href, anchor text and registrable host; relative
    hrefs keep a NULL domain.

    Pure column expressions (regexp_extract_all + posexplode + two
    per-tag regexp_extract) — no Python, no shuffle at all; the output
    stays partitioned like the scan.
    """
    from pyspark.sql import functions as F

    from ..operators.textstats import url_host

    tags = F.regexp_extract_all(
        F.col(html_col), F.lit(ANCHOR_TAG_RE), 1)
    tag = F.col("tag")
    href = F.regexp_extract(tag, r'href="([^"]*)"', 1)
    anchor = F.regexp_extract(tag, r">([^<]*)</a>", 1)
    # rel="nofollow" anchors are excluded from anchor corpora by the
    # public recipes — surfaced as a flag so the caller decides
    nofollow = tag.rlike(r'rel="[^"]*nofollow[^"]*"').cast("int")
    return (
        df.select(F.col(id_col).alias("id"), tags.alias("tags"))
        .select("id", F.posexplode("tags").alias("pos", "tag"))
        .select(
            "id", F.col("pos").cast("long").alias("pos"),
            href.alias("href"), anchor.alias("anchor"),
            F.when(href.rlike("^https?://"), url_host(href))
            .alias("domain"),
            nofollow.alias("nofollow"),
        )
    )


# meta robots in either attribute order; group 1 = the directive list
_ROBOTS_NAME_FIRST = r'(?i)<meta\s+name="robots"\s+content="([^"]*)"'
_ROBOTS_CONTENT_FIRST = r'(?i)<meta\s+content="([^"]*)"\s+name="robots"'


def meta_robots(df, id_col: str = "doc_id", html_col: str = "html"):
    """Meta-robots page policy — the crawl-hygiene stage a web corpus
    runs before keeping a page (the robots.txt companion at page
    level; cf. the public CC pipeline recipes that drop
    noindex'd pages): reads <meta name="robots" content="..."> in
    either attribute order, lowercases the directive list, and
    surfaces integer flags. keep = 1 unless noindex/none is present.

    Pure column expressions (two regexp_extract + boolean algebra) —
    map-only, no shuffle; the flags are INTs so the DuckDB oracle
    hash stays engine-stable.

    Output: (id, directives, noindex, nofollow, keep).
    """
    from pyspark.sql import functions as F

    h = F.col(html_col)
    raw = F.coalesce(
        F.nullif(F.regexp_extract(h, _ROBOTS_NAME_FIRST, 1), F.lit("")),
        F.nullif(F.regexp_extract(h, _ROBOTS_CONTENT_FIRST, 1), F.lit("")),
        F.lit(""))
    directives = F.lower(raw)
    noindex = (directives.rlike(r"\bnoindex\b")
               | directives.rlike(r"\bnone\b")).cast("int")
    nofollow = (directives.rlike(r"\bnofollow\b")
                | directives.rlike(r"\bnone\b")).cast("int")
    return df.select(
        F.col(id_col).alias("id"), directives.alias("directives"),
        noindex.alias("noindex"), nofollow.alias("nofollow"),
        (1 - noindex).alias("keep"),
    )


def aggregate_anchors(anchors):
    """Anchor-text aggregation per target domain — the second half of
    the anchor-corpus recipe (extract_anchors feeds it): followed
    (nofollow = 0), absolute (domain NOT NULL) anchors only, rolled up
    to the domain's anchor volume, distinct-text count and the top
    anchor text by (count desc, text asc) — the query-document signal
    anchor-text retrieval datasets train on.

    Scale shape: one (domain, anchor) partial agg — bounded by the
    distinct anchor-text universe, not the corpus — then a per-domain
    window over those counts and a domain-keyed join.
    Output: (domain, n_anchors, n_unique, top_anchor, top_count)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = anchors.filter((F.col("nofollow") == 0)
                          & F.col("domain").isNotNull())
    da = base.groupBy("domain", "anchor").agg(
        F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("domain").orderBy(F.desc("cnt"),
                                             F.asc("anchor"))
    tops = (
        da.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("domain", F.col("anchor").alias("top_anchor"),
                F.col("cnt").alias("top_count"))
    )
    agg = da.groupBy("domain").agg(
        F.sum("cnt").cast("long").alias("n_anchors"),
        F.count("*").cast("long").alias("n_unique"),
    )
    return agg.join(tops, "domain")


def parse_robots(rules, domain_col: str = "domain",
                 robots_col: str = "robots_txt"):
    """Parse robots.txt bodies into per-domain prefix rules — the
    crawler-policy half of the meta-robots operator (RFC 9309
    group/rule model, the `User-agent: *` group only: the common
    web-crawler case; named-agent groups and * / $ wildcards are out
    of the declared subset).

    Mechanics: lines explode per domain; each line's governing group
    is the most recent `User-agent:` line at or before it (a
    last-non-null window per domain — bounded by robots-file length,
    never corpus-sized); Allow/Disallow lines inside the `*` group
    survive, comments and empty Disallow lines (RFC: empty Disallow
    = no rule) drop.

    Output: (domain, rule_type 'allow'|'disallow', rule_path)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lines = rules.select(
        F.col(domain_col).alias("domain"),
        F.posexplode(F.split(F.col(robots_col), "\n"))
        .alias("pos", "line"),
    ).select(
        "domain", "pos",
        F.trim(F.regexp_replace("line", "#.*$", "")).alias("line"),
    )
    lc = F.lower(F.col("line"))
    parsed = lines.select(
        "domain", "pos",
        F.when(lc.startswith("user-agent:"),
               F.trim(F.expr("substring(line, 12)"))).alias("ua"),
        F.when(lc.startswith("allow:"), F.lit("allow"))
        .when(lc.startswith("disallow:"), F.lit("disallow"))
        .alias("rule_type"),
        F.when(lc.startswith("allow:"),
               F.trim(F.expr("substring(line, 7)")))
        .when(lc.startswith("disallow:"),
              F.trim(F.expr("substring(line, 10)")))
        .alias("rule_path"),
    )
    w = Window.partitionBy("domain").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped = parsed.select(
        "domain", "rule_type", "rule_path",
        F.last("ua", ignorenulls=True).over(w).alias("group_ua"),
    )
    return grouped.filter(
        (F.col("group_ua") == "*")
        & F.col("rule_type").isNotNull()
        & (F.col("rule_path") != "")
    ).select("domain", "rule_type", "rule_path")


def robots_eval(urls, rules, domain_col: str = "domain",
                path_col: str = "path", id_col: str = "url_id"):
    """Evaluate crawl permission per URL against parse_robots output
    using RFC 9309 precedence: the longest matching rule path (byte
    prefix match) wins; equal lengths resolve to allow (least
    restrictive); no matching rule means allowed.

    Scale shape: a domain-keyed join (rules per domain are tiny;
    Catalyst broadcasts when the rule table is small) + a per-URL
    window over the handful of matching rules.

    Output: (url_id, domain, path, allowed int,
    rule_type, rule_path — NULLs when no rule matched)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    u = urls.select(F.col(id_col).alias("url_id"),
                    F.col(domain_col).alias("domain"),
                    F.col(path_col).alias("path"))
    matches = u.join(F.broadcast(rules), "domain").filter(
        F.col("path").startswith(F.col("rule_path")))
    w = Window.partitionBy("url_id").orderBy(
        F.desc(F.length("rule_path")),
        F.asc(F.col("rule_type") == "disallow"),  # allow first on tie
    )
    best = (
        matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url_id", "rule_type", "rule_path")
    )
    # URLs with no matching rule (including rule-less domains) stay
    # via the left join and default to allowed
    return u.join(best, "url_id", "left").select(
        "url_id", "domain", "path",
        F.when(F.col("rule_type").isNull(), F.lit(1))
        .when(F.col("rule_type") == "allow", F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("allowed"),
        "rule_type", "rule_path",
    )


def sitemap_entries(sitemaps, domain_col: str = "domain",
                    xml_col: str = "sitemap_xml"):
    """Sitemap-protocol ingestion (sitemaps.org XML, the crawler's
    URL-discovery sibling of robots.txt): every <url> entry in
    document order with its <loc> and optional <lastmod>. Pure column
    regexps (regexp_extract_all + posexplode + per-entry extracts) —
    no Python, no shuffle; entries without a <loc> drop per protocol.

    Output: (domain, pos, loc, lastmod — NULL when absent)."""
    from pyspark.sql import functions as F

    entries = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"<url>(.*?)</url>"), 1)
    loc = F.regexp_extract(F.col("entry"), r"<loc>([^<]*)</loc>", 1)
    lastmod = F.regexp_extract(F.col("entry"),
                               r"<lastmod>([^<]*)</lastmod>", 1)
    return (
        sitemaps.select(F.col(domain_col).alias("domain"),
                        entries.alias("entries"))
        .select("domain",
                F.posexplode("entries").alias("pos", "entry"))
        .select(
            "domain", F.col("pos").cast("long").alias("pos"),
            loc.alias("loc"),
            F.when(lastmod != "", lastmod).alias("lastmod"),
        )
        .filter(F.col("loc") != "")
    )


def html_table_cells(df, id_col: str = "doc_id", html_col: str = "html"):
    """Structured <table> extraction over an HTML corpus — positioned
    (table, row, col) cells via the kernel/html_tables.py parser (the
    web-markup sibling of the PDF lattice/stream table detectors;
    colspan advances the cursor, rowspan ignored, nested tables bind
    cells to the innermost context — the kernel's documented subset).

    Scale shape: one map_rows stage straight off the scan —
    map-only, per-doc cost linear in HTML length, no shuffle. Output:
    (id, table_idx, row_idx, col_idx, is_header, colspan, cell_text).
    """
    from ..kernel.html_tables import extract_table_cells
    from ..operators.extract_pipeline import map_rows

    schema = ("id string, table_idx long, row_idx long, col_idx long, "
              "is_header boolean, colspan long, cell_text string")

    def gen(did, html):
        for cell in extract_table_cells(html or ""):
            yield (did, *cell)

    return map_rows(df.select(id_col, html_col), gen, schema)


def feed_entries(feeds, domain_col: str = "domain",
                 xml_col: str = "feed_xml"):
    """RSS 2.0 <item> ingestion — the push-discovery sibling of
    sitemap_entries (same crawler stage, same pure-regexp shape):
    every <item> in document order with its <title>, <link> and
    optional <pubDate>. Items without a <link> drop (nothing to
    fetch). No Python, no shuffle.

    Output: (domain, pos, title, link, pub_date — NULL when absent).
    """
    from pyspark.sql import functions as F

    items = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"<item>(.*?)</item>"), 1)
    title = F.regexp_extract(F.col("item"), r"<title>([^<]*)</title>", 1)
    link = F.regexp_extract(F.col("item"), r"<link>([^<]*)</link>", 1)
    pub = F.regexp_extract(F.col("item"),
                           r"<pubDate>([^<]*)</pubDate>", 1)
    return (
        feeds.select(F.col(domain_col).alias("domain"),
                     items.alias("items"))
        .select("domain", F.posexplode("items").alias("pos", "item"))
        .select(
            "domain", F.col("pos").cast("long").alias("pos"),
            F.when(title != "", title).alias("title"),
            link.alias("link"),
            F.when(pub != "", pub).alias("pub_date"),
        )
        .filter(F.col("link") != "")
    )


def crawl_schedule(urls, delay_ms: int = 1000,
                   domain_col: str = "domain",
                   id_col: str = "url_id"):
    """Per-domain politeness scheduling — the frontier shaping every
    large-scale crawler applies (one request per domain per
    crawl-delay; cf. robots.txt Crawl-delay semantics): URLs take a
    per-domain slot in deterministic ``id_col`` order and a fetch
    offset of slot * ``delay_ms``, so any number of domains proceed
    in parallel while no domain is hit faster than the delay.

    Scale shape: one window per domain (bounded by per-domain URL
    count, the politeness constraint itself keeps these meaningful) —
    the frontier never needs a global order. Output:
    (url_id, domain, slot, fetch_at_ms)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(domain_col).orderBy(id_col)
    return urls.select(
        F.col(id_col).alias("url_id"),
        F.col(domain_col).alias("domain"),
        (F.row_number().over(w) - 1).cast("long").alias("slot"),
    ).select(
        "url_id", "domain", "slot",
        (F.col("slot") * delay_ms).cast("long").alias("fetch_at_ms"),
    )


JUSTEXT_STOPWORDS = ("a", "the")
JUSTEXT_CHUNK = 12          # tokens per synthesized paragraph


def justext_blocks(df, id_col: str = "doc_id",
                   html_col: str = "html"):
    """jusText-style paragraph classification (Pomikálek 2011,
    "Removing boilerplate and duplicate content from web corpora" —
    the context-sensitive boilerplate algorithm the north star names
    next to Readability): per <p> block, link density + length +
    stopword density give an INITIAL class (bad / near-good / good),
    then the context pass relabels each near-good block good iff an
    adjacent block is good, else bad — isolated borderline paragraphs
    are boilerplate, borderline paragraphs inside an article are
    content.

    Integer rules (cross-multiplied, no floats):
        bad_init   10 * link_chars > 2 * total_chars  OR  n_words < 4
        good_init  n_words >= 10 AND 10 * n_stop >= n_words
        near       otherwise
    Context: good stays good, bad stays bad; near-good -> good iff
    lag(cls) or lead(cls) is good (paragraph order within the doc).

    Scale shape: the parse is map-only JVM regexp (block split, <a>
    strip) riding the scan — NO Python UDF; the only shuffle is the
    per-doc window for the adjacency pass, partitioned by doc_id.

    Output: (doc_id, para_idx, n_words, n_stop, link_chars,
    total_chars, cls_init, cls_final)."""
    from pyspark.sql import Window

    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.expr(f"regexp_extract_all({html_col},"
                   " '<p>(.*?)</p>', 1)")).alias("para_idx", "raw"),
    )
    clean = F.regexp_replace("raw", "<[^>]*>", "")
    link_text = F.regexp_extract("raw", "<a[^>]*>(.*?)</a>", 1)
    toks = F.split(F.trim(clean), r"\s+")
    stops = ", ".join(f"'{s}'" for s in JUSTEXT_STOPWORDS)
    m = (paras
         .withColumn("text_clean", clean)
         .withColumn("link_chars",
                     F.length(link_text).cast("long"))
         .withColumn("total_chars",
                     F.length("text_clean").cast("long"))
         .withColumn("n_words", F.size(toks).cast("long"))
         .withColumn("n_stop",
                     F.expr(f"size(filter(split(trim(text_clean),"
                            f" '\\\\s+'), t -> t IN ({stops})))")
                     .cast("long")))
    bad = (10 * F.col("link_chars") > 2 * F.col("total_chars")) \
        | (F.col("n_words") < 4)
    good = (~bad) & (F.col("n_words") >= 10) \
        & (10 * F.col("n_stop") >= F.col("n_words"))
    cls = F.when(bad, "bad").when(good, "good").otherwise("near")
    m = m.withColumn("cls_init", cls)
    w = Window.partitionBy("doc_id").orderBy("para_idx")
    adj_good = (F.lag("cls_init").over(w) == "good") \
        | (F.lead("cls_init").over(w) == "good")
    final = (F.when(F.col("cls_init") != "near", F.col("cls_init"))
             .when(F.coalesce(adj_good, F.lit(False)), "good")
             .otherwise("bad"))
    return (m.withColumn("cls_final", final)
            .select("doc_id", F.col("para_idx").cast("long")
                    .alias("para_idx"),
                    "n_words", "n_stop", "link_chars", "total_chars",
                    "cls_init", "cls_final"))


def html_to_spans(df, id_col: str = "doc_id",
                  html_col: str = "html"):
    """HTML -> ordered interleaved spans — the web-side twin of the
    PDF extraction pipeline's output contract (the north-rule input
    shape: (doc_id, kind, text, media_ref, offset) with text and
    media interleaved in DOCUMENT ORDER). <p> blocks become text
    spans (tags stripped), <img> elements become media spans carrying
    their src as the media_ref; offset is the 0-based position in
    the combined sequence.

    Scale shape: map-only — ONE ordered regexp_extract_all pass per
    document rides the scan (posexplode preserves the match order),
    no shuffle, no Python UDF."""
    items = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.expr(f"regexp_extract_all({html_col},"
                   " '(<p>.*?</p>|<img [^>]*>)', 1)"))
        .alias("offset", "raw"),
    )
    is_img = F.col("raw").startswith("<img")
    return items.select(
        "doc_id",
        F.col("offset").cast("long").alias("offset"),
        F.when(is_img, F.lit("media")).otherwise(F.lit("text"))
        .alias("kind"),
        F.when(is_img, F.lit(""))
        .otherwise(F.regexp_replace("raw", "<[^>]*>", "")).alias("text"),
        F.when(is_img,
               F.regexp_extract("raw", 'src="([^"]*)"', 1))
        .otherwise(F.lit("")).alias("media_ref"),
    )

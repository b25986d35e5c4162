"""Sitemap discovery source (sitemaps.org protocol): the third leg of the
crawl front end — robots.txt gates admission (`sources/robots`), the link
graph discovers organically (`sources/frontier`), and sitemaps are the
site-declared URL inventory crawlers seed from.

Spark-first by construction: the parse is ONE `from_xml` Catalyst
expression (JVM StaxXmlParser — no Python anywhere in the path) over a
(path, content) relation, so parallelism = sitemap files, exactly the
layout the protocol mandates (one sitemap <= 50 MB / 50k URLs; bigger
sites shard behind a <sitemapindex>). Both document kinds parse through
one schema: <urlset> rows carry kind='url', index rows kind='sitemap' —
the caller loops the latter back through fetch.

Tolerances the wild requires (each a fixture class in the gated entry):
XML entity decode in <loc> (the protocol REQUIRES &amp;-escaping of query
URLs), prefixed namespaces (``<ns:urlset>`` — StaxXmlParser matches local
names only for the DEFAULT namespace, so one codegen regex strips element
prefixes first), empty urlsets, and malformed XML quarantined per file
(PERMISSIVE corrupt-record), never a failed task.

Priority is emitted as exact integer ppm (DECIMAL cast, no float), the
house arithmetic for cross-engine bit-exactness; absent priority stays
NULL — the spec default (0.5) is the consumer's decision, not the
parser's.

Err taxonomy: malformed-xml | no-entries | NULL (conformant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SITEMAP_SCHEMA = (
    "url array<struct<loc string, lastmod string, changefreq string, "
    "priority string>>, "
    "sitemap array<struct<loc string, lastmod string>>, _corrupt string"
)


def parse_sitemaps(files: DataFrame, path_col: str = "path",
                   content_col: str = "content") -> DataFrame:
    """(sitemap_path, kind, loc, lastmod, changefreq, priority_ppm, err)
    from a (path, xml-string) relation. One error/no-entry row per
    degenerate file keeps damage countable by source; conformant files
    emit one row per <url>/<sitemap> entry."""
    # element-prefix strip: <ns:loc> -> <loc>, </ns:loc> -> </loc>.
    # Inside well-formed XML a literal '<' in text is escaped, so the
    # regex can only touch markup; on garbage input it is harmless (the
    # parse quarantines anyway).
    stripped = F.regexp_replace(
        F.col(content_col), r"<(/?)[A-Za-z0-9_.-]+:", r"<$1"
    )
    p = F.from_xml(
        stripped, SITEMAP_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    parsed = files.select(F.col(path_col).alias("sitemap_path"),
                          p.alias("_p"))
    n_url = F.coalesce(F.size("_p.url"), F.lit(0))
    n_idx = F.coalesce(F.size("_p.sitemap"), F.lit(0))
    err = (
        F.when(F.col("_p._corrupt").isNotNull()
               & (n_url == 0) & (n_idx == 0), F.lit("malformed-xml"))
        .when((n_url == 0) & (n_idx == 0), F.lit("no-entries"))
    )
    # one output relation for both kinds: urlset entries + index entries
    entries = F.when(
        err.isNotNull(), F.array(F.struct(
            F.lit(None).cast("string").alias("kind"),
            F.lit(None).cast("string").alias("loc"),
            F.lit(None).cast("string").alias("lastmod"),
            F.lit(None).cast("string").alias("changefreq"),
            F.lit(None).cast("string").alias("priority"),
        ))
    ).otherwise(
        F.concat(
            F.transform(
                F.coalesce("_p.url", F.array()),
                lambda u: F.struct(
                    F.lit("url").alias("kind"),
                    u["loc"].alias("loc"),
                    u["lastmod"].alias("lastmod"),
                    u["changefreq"].alias("changefreq"),
                    u["priority"].alias("priority"),
                ),
            ),
            F.transform(
                F.coalesce("_p.sitemap", F.array()),
                lambda s: F.struct(
                    F.lit("sitemap").alias("kind"),
                    s["loc"].alias("loc"),
                    s["lastmod"].alias("lastmod"),
                    F.lit(None).cast("string").alias("changefreq"),
                    F.lit(None).cast("string").alias("priority"),
                ),
            ),
        )
    )
    out = parsed.select(
        "sitemap_path", err.alias("err"), F.explode(entries).alias("e")
    )
    # exact ppm: string -> DECIMAL(8,6) -> * 1e6, integral by
    # construction; try_cast so a garbage priority degrades to NULL
    # instead of failing the task under ANSI mode
    ppm = (F.col("e.priority").try_cast("decimal(8,6)")
           * F.lit(1_000_000)).try_cast("bigint")
    return out.select(
        "sitemap_path",
        F.col("e.kind").alias("kind"),
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod").alias("lastmod"),
        F.col("e.changefreq").alias("changefreq"),
        ppm.alias("priority_ppm"),
        "err",
    )


# --- deterministic fixture (the sitemap_parse oracle) ------------------------
# Eight file classes built in PURE CODEGEN off the documents table; the
# DuckDB twin predicts every entry from doc_id closed forms, while the
# Spark side must parse REAL XML — entity decode, default AND prefixed
# namespaces, empty sets and malformed bytes all ride the same from_xml
# path production sitemaps would.

N_SITEMAP_CLASSES = 8
_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def synthetic_sitemap_files(docs: DataFrame) -> DataFrame:
    """(path, content) with file class = doc_id % 8:
    0 plain urlset (2 urls, lastmod+priority) | 1 entity-escaped query
    URLs + changefreq | 2 sitemapindex (2 children) | 3 PREFIXED
    namespace urlset | 4 malformed XML | 5 empty urlset | 6 priority
    edge values (1.0 / 0.123456) | 7 XML decl + comment + whitespace."""
    d = F.col("doc_id")
    host = F.concat(F.lit("https://site"), (d % 1000).cast("string"),
                    F.lit(".example"))
    u1 = F.concat(host, F.lit("/page/"), d.cast("string"))
    u2 = F.concat(host, F.lit("/page/"), d.cast("string"), F.lit("/b"))
    day = F.lpad(((d % 27) + 1).cast("string"), 2, "0")
    lastmod = F.concat(F.lit("2024-03-"), day)

    def url(loc, extra):
        return F.concat(F.lit("<url><loc>"), loc, F.lit("</loc>"),
                        extra, F.lit("</url>"))

    plain = F.concat(
        F.lit(f'<urlset xmlns="{_NS}">'),
        url(u1, F.concat(F.lit("<lastmod>"), lastmod,
                         F.lit("</lastmod><priority>0.8</priority>"))),
        url(u2, F.lit("<priority>0.5</priority>")),
        F.lit("</urlset>"),
    )
    entity = F.concat(
        F.lit(f'<urlset xmlns="{_NS}">'),
        url(F.concat(u1, F.lit("?a=1&amp;b=2")),
            F.lit("<changefreq>daily</changefreq>")),
        F.lit("</urlset>"),
    )
    index = F.concat(
        F.lit(f'<sitemapindex xmlns="{_NS}">'),
        F.lit("<sitemap><loc>"), host, F.lit("/s1.xml</loc><lastmod>"),
        lastmod, F.lit("</lastmod></sitemap>"),
        F.lit("<sitemap><loc>"), host, F.lit("/s2.xml</loc></sitemap>"),
        F.lit("</sitemapindex>"),
    )
    prefixed = F.concat(
        F.lit(f'<sm:urlset xmlns:sm="{_NS}"><sm:url><sm:loc>'),
        u1, F.lit("</sm:loc></sm:url></sm:urlset>"),
    )
    malformed = F.concat(F.lit("<urlset><url><loc>"), u1,
                         F.lit("</loc><<<BROKEN"))
    empty = F.lit(f'<urlset xmlns="{_NS}"></urlset>')
    prio_edge = F.concat(
        F.lit(f'<urlset xmlns="{_NS}">'),
        url(u1, F.lit("<priority>1.0</priority>")),
        url(u2, F.lit("<priority>0.123456</priority>")),
        F.lit("</urlset>"),
    )
    decorated = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n'
              "<!-- generated -->\n  "),
        F.lit(f'<urlset xmlns="{_NS}">'),
        url(u1, F.lit("")),
        F.lit("</urlset>"),
    )
    k = d % N_SITEMAP_CLASSES
    content = (
        F.when(k == 0, plain)
        .when(k == 1, entity)
        .when(k == 2, index)
        .when(k == 3, prefixed)
        .when(k == 4, malformed)
        .when(k == 5, empty)
        .when(k == 6, prio_edge)
        .otherwise(decorated)
    )
    path = F.concat(F.lit("sitemaps/"), d.cast("string"), F.lit(".xml"))
    return docs.select(path.alias("path"), content.alias("content"))


# --- recrawl scheduling ------------------------------------------------------

# sitemaps.org <changefreq> -> refresh interval in days; "always"/"hourly"
# clamp to 1 (this scheduler's resolution is a day), "never" is effectively
# frozen. Absent changefreq falls back to DEFAULT_INTERVAL_DAYS.
CHANGEFREQ_DAYS = {
    "always": 1, "hourly": 1, "daily": 1, "weekly": 7,
    "monthly": 30, "yearly": 365, "never": 100_000,
}
DEFAULT_INTERVAL_DAYS = 30
_NEVER_FETCHED_AGE = 10_000
_OVERDUE_CAP_PPM = 2_000_000


def recrawl_priority(entries: DataFrame, fetch_log: DataFrame,
                     as_of: str,
                     default_interval_days: int = DEFAULT_INTERVAL_DAYS,
                     ) -> DataFrame:
    """Refresh scheduling for an incremental crawl: score every known URL
    by how overdue it is. ``entries`` is the sitemap inventory
    (url, lastmod, changefreq, priority_ppm — e.g. the conformant
    ``<url>`` rows of :func:`parse_sitemaps`); ``fetch_log`` is (url, last_fetch)
    history. All arithmetic is exact integers (house rule), so the
    schedule is bit-identical across engines:

    - ``age_days``      days since last fetch (never fetched -> 10000)
    - ``interval_days`` from changefreq (absent -> default)
    - ``due``           1 when never fetched, the site declared a lastmod
                        NEWER than our fetch, or age >= interval
    - ``score_ppm``     min(2e6, age*1e6 DIV interval) weighted by the
                        site-declared priority (absent -> 0.5): the
                        fetch-queue ordering key

    Plan shape: one slim keyed equi-join (url), then pure codegen —
    at 100 TB the join shuffles only (url, date) slivers, never content."""
    iv = F.lit(None).cast("int")
    for k, v in CHANGEFREQ_DAYS.items():
        iv = F.when(F.lower(F.col("changefreq")) == k, F.lit(v)).otherwise(iv)
    interval = F.coalesce(iv, F.lit(int(default_interval_days))).cast("int")
    joined = entries.join(
        fetch_log.select("url", "last_fetch"), ["url"], "left"
    )
    age = F.coalesce(
        F.datediff(F.to_date(F.lit(as_of)), F.to_date(F.col("last_fetch"))),
        F.lit(_NEVER_FETCHED_AGE),
    ).cast("int")
    scored = joined.select(
        "url",
        age.alias("age_days"),
        interval.alias("interval_days"),
        (
            F.col("last_fetch").isNull()
            # three-valued logic: a NULL lastmod must read "no evidence"
            # (false), not poison the whole OR to NULL
            | F.coalesce(
                F.to_date(F.col("lastmod")) > F.to_date(F.col("last_fetch")),
                F.lit(False),
            )
            | (age >= interval)
        ).cast("int").alias("due"),
        F.coalesce(F.col("priority_ppm"), F.lit(500_000))
        .cast("bigint").alias("_prio"),
    )
    return scored.select(
        "url", "age_days", "interval_days", "due",
        F.expr(
            "CAST(least(CAST({cap} AS BIGINT), "
            "CAST(age_days AS BIGINT) * 1000000 DIV interval_days) "
            "* _prio DIV 1000000 AS BIGINT)".format(cap=_OVERDUE_CAP_PPM)
        ).alias("score_ppm"),
    )

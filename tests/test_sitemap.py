"""Sitemap source pins: protocol parse (urlset/sitemapindex), entity
decode, prefixed namespaces, exact ppm priorities and per-file
quarantine."""

from pyspark.sql import functions as F

from kausaldb_spark.sources import sitemap as sm

_NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'


def _parse(spark, files):
    df = spark.createDataFrame(files, "path string, content string")
    rows = sm.parse_sitemaps(df).collect()
    out = {}
    for r in rows:
        out.setdefault(r["sitemap_path"], []).append(r.asDict())
    return out


def test_urlset_and_index_parse(spark):
    got = _parse(spark, [
        ("a.xml",
         f'<urlset {_NS}>'
         "<url><loc>https://e.com/1</loc><lastmod>2024-05-01</lastmod>"
         "<changefreq>weekly</changefreq><priority>0.9</priority></url>"
         "<url><loc>https://e.com/2</loc></url></urlset>"),
        ("i.xml",
         f'<sitemapindex {_NS}>'
         "<sitemap><loc>https://e.com/s1.xml</loc>"
         "<lastmod>2024-05-02</lastmod></sitemap></sitemapindex>"),
    ])
    a = sorted(got["a.xml"], key=lambda r: r["loc"])
    assert [r["kind"] for r in a] == ["url", "url"]
    assert a[0]["lastmod"] == "2024-05-01"
    assert a[0]["changefreq"] == "weekly"
    assert a[0]["priority_ppm"] == 900_000
    assert a[1]["priority_ppm"] is None
    i = got["i.xml"]
    assert len(i) == 1 and i[0]["kind"] == "sitemap"
    assert i[0]["loc"] == "https://e.com/s1.xml"


def test_entity_decode_and_prefixed_namespace(spark):
    got = _parse(spark, [
        ("e.xml",
         f'<urlset {_NS}><url>'
         "<loc>https://e.com/q?a=1&amp;b=&lt;x&gt;</loc></url></urlset>"),
        ("p.xml",
         '<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/'
         'sitemap/0.9"><sm:url><sm:loc>https://p.com/x</sm:loc>'
         "</sm:url></sm:urlset>"),
    ])
    assert got["e.xml"][0]["loc"] == "https://e.com/q?a=1&b=<x>"
    assert got["p.xml"][0]["loc"] == "https://p.com/x"


def test_quarantine_taxonomy(spark):
    got = _parse(spark, [
        ("bad.xml", "not xml at <<< all"),
        ("empty.xml", f"<urlset {_NS}></urlset>"),
        ("truncated.xml",
         "<urlset><url><loc>https://t.com/x</loc><<<BROKEN"),
    ])
    assert got["bad.xml"][0]["err"] == "malformed-xml"
    assert got["bad.xml"][0]["loc"] is None
    assert got["empty.xml"][0]["err"] == "no-entries"
    assert got["truncated.xml"][0]["err"] == "malformed-xml"


def test_priority_ppm_exact(spark):
    got = _parse(spark, [
        ("p.xml",
         f"<urlset {_NS}>"
         "<url><loc>u1</loc><priority>1.0</priority></url>"
         "<url><loc>u2</loc><priority>0.123456</priority></url>"
         "<url><loc>u3</loc><priority>garbage</priority></url>"
         "</urlset>"),
    ])
    ppm = {r["loc"]: r["priority_ppm"] for r in got["p.xml"]}
    assert ppm == {"u1": 1_000_000, "u2": 123_456, "u3": None}


def test_parse_plan_stays_jvm_side(spark):
    docs = spark.createDataFrame([(1,)], "doc_id long")
    out = sm.parse_sitemaps(sm.synthetic_sitemap_files(docs))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_recrawl_priority_contract(spark):
    entries = spark.createDataFrame(
        [
            # never fetched -> due, capped overdue, default prio
            ("u/new", None, None, None),
            # fetched, fresh, no evidence -> not due
            ("u/fresh", None, None, 800_000),
            # fetched, site declared newer lastmod -> due early
            ("u/newer", "2024-04-01", None, None),
            # fetched, stale lastmod, NULL must not poison the OR
            ("u/stale", "2024-01-01", None, None),
            # daily changefreq -> interval 1, age 26 -> due, capped
            ("u/daily", None, "daily", 1_000_000),
            # never changefreq -> effectively frozen
            ("u/never", None, "never", None),
        ],
        "url string, lastmod string, changefreq string, priority_ppm long",
    )
    log = spark.createDataFrame(
        [(u, "2024-03-15") for u in
         ["u/fresh", "u/newer", "u/stale", "u/daily", "u/never"]],
        "url string, last_fetch string",
    )
    from kausaldb_spark.sources import sitemap as sm

    got = {r["url"]: r.asDict()
           for r in sm.recrawl_priority(entries, log, "2024-04-10").collect()}
    assert got["u/new"] == {
        "url": "u/new", "age_days": 10_000, "interval_days": 30,
        "due": 1, "score_ppm": 2_000_000 * 500_000 // 1_000_000,
    }
    assert got["u/fresh"]["due"] == 0
    assert got["u/fresh"]["age_days"] == 26
    assert got["u/fresh"]["score_ppm"] == (26 * 1_000_000 // 30) * 800_000 // 1_000_000
    assert got["u/newer"]["due"] == 1          # lastmod beats interval
    assert got["u/stale"]["due"] == 0          # and NULL-safety holds
    assert got["u/daily"]["due"] == 1
    assert got["u/daily"]["score_ppm"] == 2_000_000  # capped, prio 1.0
    assert got["u/never"]["due"] == 0
    assert got["u/never"]["score_ppm"] == 130  # 26e6 DIV 100000 * .5


def test_fetch_schedule_politeness(spark):
    from kausaldb_spark.sources import frontier as fr

    due = spark.createDataFrame(
        [
            ("https://a.com/1", 900_000),
            ("https://a.com/2", 500_000),
            ("https://a.com/3", 500_000),   # tie -> url tiebreak
            ("https://a.com/4", 100_000),
            ("https://b.com/x", 1),
        ],
        "url string, score_ppm long",
    )
    delays = spark.createDataFrame(
        [("a.com", 10)], "host string, delay_s int"
    )
    got = {r["url"]: r.asDict()
           for r in fr.fetch_schedule(due, delays, default_delay_s=5,
                                      batch_window_s=25).collect()}
    a = [got[f"https://a.com/{i}"] for i in (1, 2, 3, 4)]
    # highest score first; equal scores order by url
    assert [r["rank"] for r in a] == [1, 2, 3, 4]
    assert [r["slot_s"] for r in a] == [0, 10, 20, 30]
    assert [r["fits"] for r in a] == [1, 1, 1, 0]   # deferral counted
    assert got["https://b.com/x"]["delay_s"] == 5   # default delay
    assert got["https://b.com/x"]["slot_s"] == 0

"""Unit probes for the PII scan/redaction and repetition-score operators
(the oracle gate covers corpus-level parity; these pin the per-pattern
behavior on crafted strings)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kausaldb_spark.functions import text as tx


def test_pii_counts_and_redaction(spark):
    rows = [
        (1, "mail bob@x.com and alice@y.org via https://a.b/c or 555-123-4567"),
        (2, "no pii here at all"),
        (3, "http://plain.example and 123-456-7890 and 12-34-56"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = tx.pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[c.alias(n) for n, c in counts.items()],
            tx.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[1]["n_emails"], out[1]["n_urls"], out[1]["n_phones"]) == (2, 1, 1)
    assert out[1]["red"] == "mail <EMAIL> and <EMAIL> via <URL> or <PHONE>"
    assert (out[2]["n_emails"], out[2]["n_urls"], out[2]["n_phones"]) == (0, 0, 0)
    assert out[2]["red"] == rows[1][1]
    # http (no s) counts as URL; 12-34-56 is not a phone
    assert (out[3]["n_urls"], out[3]["n_phones"]) == (1, 1)


def test_repetition_score_shape(spark):
    rows = [
        (1, "a b a b a b"),       # 2-grams: ab ba ab ba ab -> top 'a b' x3 of 5
        (2, "w x y z"),           # all distinct -> top 1 of 3
        (3, "solo"),              # <2 tokens -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = df.select(
        "doc_id", F.explode(tx.shingles(tx.tokens(F.col("text")), 2)).alias("gram")
    )
    per = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    out = {
        r["doc_id"]: r
        for r in per.groupBy("doc_id").agg(
            F.sum("c").alias("n"), F.max("c").alias("top"),
            F.floor(F.max("c") * 100 / F.sum("c")).alias("frac"),
        ).collect()
    }
    assert (out[1]["n"], out[1]["top"], out[1]["frac"]) == (5, 3, 60)
    assert (out[2]["n"], out[2]["top"], out[2]["frac"]) == (3, 1, 33)
    assert 3 not in out


def test_mix_sources_deterministic_upsampling(spark):
    """floor(w) copies always; the fractional extra copy hits ~frac of docs
    (md5-selected, deterministic); weight 0 drops; absent sources keep 1."""
    rows = [(i, "a" if i < 100 else ("b" if i < 200 else "c")) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = tx.mix_sources(df, {"a": 2.5, "b": 0.0, "c": 1.0})
    per_doc = {
        (r["doc_id"], r["copy_idx"]) for r in out.collect()
    }
    from collections import Counter

    copies = Counter(d for d, _ in per_doc)
    # source a: every doc has 2 or 3 copies; ~50% have 3
    a_counts = [copies[i] for i in range(100)]
    assert set(a_counts) <= {2, 3}
    assert 30 <= sum(1 for c in a_counts if c == 3) <= 70
    # source b dropped entirely
    assert all(copies[i] == 0 for i in range(100, 200))
    # source c untouched (weight defaults would give the same)
    assert all(copies[i] == 1 for i in range(200, 300))
    # copy_idx is dense 0..n-1
    assert ({c for d, c in per_doc if d == 0} in ({0, 1}, {0, 1, 2}))
    # deterministic across invocations
    again = {(r["doc_id"], r["copy_idx"]) for r in tx.mix_sources(
        df, {"a": 2.5, "b": 0.0, "c": 1.0}).collect()}
    assert again == per_doc


def test_mix_sources_rounding_parity_with_duckdb(spark, duck):
    """Weight 1.33: fraction*100 = 32.999... in binary. Spark's cast-to-int
    truncates, DuckDB's rounds — both sides must round explicitly or the
    gated query diverges (VERDICT r4 §Wrong #6)."""
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "source")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    target = sorted(sources)[0]
    weights = {target: 1.33}
    out = tx.mix_sources(docs, weights)
    spark_set = {(r["doc_id"], r["copy_idx"]) for r in out.collect()}
    sql = f"""
WITH wd AS (
  SELECT doc_id, source,
         CASE source WHEN '{target}' THEN 1.33 ELSE 1.0 END AS w,
         ('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 8))::BIGINT % 100 AS bucket
  FROM documents),
n AS (
  SELECT doc_id,
         CAST(floor(w) AS INT)
           + CASE WHEN bucket < CAST(round((w - floor(w)) * 100) AS INT)
                  THEN 1 ELSE 0 END AS n_copies
  FROM wd)
SELECT doc_id, CAST(unnest(range(n_copies)) AS INT) AS copy_idx
FROM n WHERE n_copies > 0"""
    duck_set = {(int(r[0]), int(r[1])) for r in duck.sql(sql).fetchall()}
    assert spark_set == duck_set
    # and the upsampled share is ~33%, i.e. the rounding actually took effect
    n_target = docs.where(F.col("source") == target).count()
    n_extra = sum(1 for d, c in spark_set if c == 1)
    assert abs(n_extra / n_target - 0.33) < 0.12


def test_remove_boilerplate_lines(spark):
    """CCNet-style line dedup: a line in >=2 docs is stripped everywhere,
    survivors reassemble in original order, fully-boilerplate docs come back
    empty (one output row per input doc)."""
    docs = spark.createDataFrame(
        [
            (1, "COOKIE NOTICE\nreal content one\nmid unique\nfooter text"),
            (2, "COOKIE NOTICE\nreal content two\nfooter text"),
            (3, "standalone doc\nwith unique lines"),
            (4, "COOKIE NOTICE\nfooter text"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.remove_boilerplate_lines(docs).collect()}
    assert len(out) == 5
    assert out[1]["text_clean"] == "real content one\nmid unique"
    assert (out[1]["n_kept"], out[1]["n_removed"]) == (2, 2)
    assert out[2]["text_clean"] == "real content two"
    assert out[3]["text_clean"] == "standalone doc\nwith unique lines"
    assert out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "" and out[4]["n_kept"] == 0
    # empty doc: its one (empty) line is never boilerplate
    assert out[5]["text_clean"] == "" and out[5]["n_removed"] == 0
    # min_df high enough -> nothing stripped
    untouched = tx.remove_boilerplate_lines(docs, min_df=10).collect()
    assert all(r["n_removed"] == 0 for r in untouched)


def test_term_match_topk_ordering_and_plan(spark):
    """Integer-exact ranked boolean retrieval: ordering is (n_terms DESC,
    total_tf DESC, doc_id ASC) and the plan is one scan + TakeOrdered —
    no shuffle Exchange anywhere (per-term tf is codegen over the token
    array because the query terms are literals)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),          # alpha x2
            (2, "alpha beta gamma"),          # all three, tf 3
            (3, "gamma gamma gamma alpha"),   # two terms, tf 4
            (4, "delta only"),                # no match
            (5, "beta alpha gamma beta"),     # all three, tf 4
        ],
        "doc_id long, text string",
    )
    out = tx.term_match_topk(docs, ["alpha", "beta", "gamma"], k=10).collect()
    assert [(r["doc_id"], r["n_terms"], r["total_tf"], r["rank"]) for r in out] == [
        (5, 3, 4, 1),   # 3 terms, tf 4
        (2, 3, 3, 2),   # 3 terms, tf 3
        (3, 2, 4, 3),   # 2 terms, tf 4
        (1, 2, 3, 4),   # alpha x2 + beta
    ]
    plan = (
        tx.term_match_topk(docs, ["alpha"], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_bm25_topk_matches_bruteforce(spark):
    """Full-float BM25 (Lucene-style idf with +1 floor) against an
    independent per-row Python computation — exact to 1e-9."""
    import math

    rows = [
        (1, "spark shuffle join join table"),
        (2, "table of contents"),
        (3, "join the queue"),
        (4, "nothing relevant here at all"),
        (5, "table table table join"),
        (6, "a very long document padding padding padding padding join"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qt = ["table", "join"]
    corpus = {i: t.lower().split() for i, t in rows}
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    df = {t: sum(1 for tk in corpus.values() if t in tk) for t in qt}

    def bf(toks):
        s = 0.0
        for t in qt:
            tf = toks.count(t)
            if tf:
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(toks) / avgdl))
        return s

    exp = sorted(
        ((bf(v), k) for k, v in corpus.items() if bf(v) > 0),
        key=lambda x: (-x[0], x[1]),
    )
    got = tx.bm25_topk(docs, qt, k=10).collect()
    assert [r["doc_id"] for r in got] == [k for _, k in exp]
    for r, (es, _) in zip(got, exp):
        assert abs(r["score"] - es) < 1e-9
    assert [r["rank"] for r in got] == list(range(1, len(exp) + 1))
    # candidate sets agree between the float and integer variants
    tm_ids = {r["doc_id"] for r in tx.term_match_topk(docs, qt, k=10).collect()}
    assert tm_ids == {r["doc_id"] for r in got}


def test_chunk_documents_layout(spark):
    """Context-length chunking: stride windows, clipped final chunk,
    single-chunk short docs, and full coverage (every token position is in
    at least one chunk; consecutive chunks overlap by exactly `overlap`
    except the clipped last one)."""
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    rows = (
        tx.chunk_documents(docs, chunk_tokens=4, overlap=1)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    got = [(r["doc_id"], r["chunk_idx"], r["start_tok"], r["end_tok"], r["chunk_text"]) for r in rows]
    assert got == [
        (1, 0, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 3, 7, "t3 t4 t5 t6"),
        (1, 2, 6, 10, "t6 t7 t8 t9"),
        (2, 0, 0, 3, "a b c"),
        (3, 0, 0, 1, ""),
    ]
    # zero-shuffle plan: a pure map (generate/explode), no Exchange
    plan = (
        tx.chunk_documents(docs, chunk_tokens=4, overlap=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tx.chunk_documents(docs, chunk_tokens=4, overlap=4)


# ---------------------------------------------------------------------------
# URL/domain blocklist filtering
# ---------------------------------------------------------------------------

_URL_DOCS = [
    (1, "intro http://Ads.Example.COM/x and https://ok.org/page tail"),
    (2, "no urls here at all"),
    (3, "https://ads.example.com/a https://ads.example.com/b http://ok.org:8080/q?z=1"),
    (4, "scheme-less www.ads.example.com is not a url"),
]


def test_domain_flags_literal_blocklist(spark):
    docs = spark.createDataFrame(_URL_DOCS, "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           tx.domain_flags(docs, ["ads.example.com"]).collect()}
    assert (out[1]["n_urls"], out[1]["n_domains"], out[1]["n_blocked"],
            out[1]["blocked"]) == (2, 2, 1, 1)       # host match is case-folded
    assert (out[2]["n_urls"], out[2]["blocked"]) == (0, 0)
    # ports are stripped from the host; occurrences counted per URL
    assert (out[3]["n_urls"], out[3]["n_domains"], out[3]["n_blocked"],
            out[3]["blocked"]) == (3, 2, 2, 1)
    assert (out[4]["n_urls"], out[4]["blocked"]) == (0, 0)  # needs a scheme


def test_domain_flags_dataframe_blocklist_matches_literal(spark):
    docs = spark.createDataFrame(_URL_DOCS, "doc_id int, text string")
    bl_df = spark.createDataFrame(
        [("ADS.example.com",), ("other.net",)], "domain string"
    )
    lit = tx.domain_flags(docs, ["ads.example.com", "other.net"]).collect()
    viadf = tx.domain_flags(docs, bl_df).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(lit) == key(viadf)


# ---------------------------------------------------------------------------
# exact quantiles
# ---------------------------------------------------------------------------

def test_exact_quantiles_matches_bruteforce(spark):
    import math
    import random

    rng = random.Random(11)
    vals = [rng.randint(0, 50) for _ in range(997)]
    docs = spark.createDataFrame([(v,) for v in vals], "n_chars int")
    pcts = (1, 25, 50, 75, 90, 99, 100)
    got = {r["pct"]: r["value"] for r in
           tx.exact_quantiles(docs, "n_chars", pcts).collect()}
    s = sorted(vals)
    for p in pcts:
        need = math.ceil(p * len(s) / 100)
        assert got[p] == s[need - 1], f"pct {p}"


# ---------------------------------------------------------------------------
# DSIR-style importance resampling
# ---------------------------------------------------------------------------

def _dsir_model(raw, target, n_buckets=64, alpha=1.0):
    """Brute-force python model of importance_weights."""
    import math
    import re
    import zlib

    def toks(t):
        return [x for x in re.split(r"\s+", t.strip().lower()) if x]

    def bucket(t):
        return zlib.crc32(t.encode()) % n_buckets

    def counts(docs):
        c = {}
        for _id, t in docs:
            for x in toks(t):
                c[bucket(x)] = c.get(bucket(x), 0) + 1
        return c, sum(c.values())

    cr, nr = counts(raw)
    ct, nt = counts(target)
    out = {}
    for _id, t in raw:
        s, n = 0.0, 0
        for x in toks(t):
            b = bucket(x)
            s += math.log((ct.get(b, 0) + alpha) / (nt + alpha * n_buckets))
            s -= math.log((cr.get(b, 0) + alpha) / (nr + alpha * n_buckets))
            n += 1
        out[_id] = (n, s)
    return out


_DSIR_RAW = [
    (1, "spark shuffle join partition executor"),
    (2, "the cat sat on the mat"),
    (3, "spark catalyst optimizer partition"),
    (4, "recipe flour sugar butter oven"),
    (5, "spark spark spark join"),
    (6, ""),
]
_DSIR_TGT = [(100, "spark join partition codegen"), (101, "spark executor shuffle")]


def test_importance_weights_match_bruteforce(spark):
    raw = spark.createDataFrame(_DSIR_RAW, "doc_id int, text string")
    tgt = spark.createDataFrame(_DSIR_TGT, "doc_id int, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["logw"]) for r in
           tx.importance_weights(raw, tgt, n_buckets=64).collect()}
    want = _dsir_model(_DSIR_RAW, _DSIR_TGT, n_buckets=64)
    assert set(got) == set(want)
    for d in got:
        assert got[d][0] == want[d][0], f"n_tokens doc {d}"
        assert abs(got[d][1] - want[d][1]) < 1e-9, f"logw doc {d}"
    # spark-y docs must outweigh off-target docs
    assert got[1][1] > got[2][1] and got[3][1] > got[4][1]


def test_importance_resample_deterministic_gumbel_topk(spark):
    import hashlib
    import math

    raw = spark.createDataFrame(_DSIR_RAW, "doc_id int, text string")
    tgt = spark.createDataFrame(_DSIR_TGT, "doc_id int, text string")
    seed, k = 17, 3
    got = tx.importance_resample(raw, tgt, k=k, seed=seed, n_buckets=64).collect()
    weights = _dsir_model(_DSIR_RAW, _DSIR_TGT, n_buckets=64)

    def gkey(doc_id):
        h = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:15], 16)
        u = (h + 1.0) / (16 ** 15 + 2.0)
        return weights[doc_id][1] - math.log(-math.log(u))

    want = sorted(weights, key=lambda d: (-gkey(d), d))[:k]
    assert [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])] == want
    # reproducible
    again = tx.importance_resample(raw, tgt, k=k, seed=seed, n_buckets=64).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # a different seed permutes the draw (gumbel noise actually acts)
    other = tx.importance_resample(raw, tgt, k=k, seed=99, n_buckets=64).collect()
    assert {r["doc_id"] for r in other} != set() # runs; may or may not differ


# ---------------------------------------------------------------------------
# BPE vocabulary induction
# ---------------------------------------------------------------------------

def _bpe_model(texts, n_merges, min_count=2):
    """Brute-force python BPE trainer (Sennrich-style) with the same
    deterministic tie-break: count desc, then (left, right) lex asc."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip().lower()):
            if w:
                words[w] += 1
    syms = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, cnt in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += cnt
        pc = {p: c for p, c in pc.items() if c >= min_count}
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, c))
        for w in syms:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms[w] = out
    return merges, syms


_BPE_TEXTS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "wider wider new new",
    "the the the cat",
]


def test_learn_bpe_merges_matches_bruteforce(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BPE_TEXTS)], "doc_id int, text string"
    )
    got = tx.learn_bpe_merges(docs, n_merges=8)
    want, _ = _bpe_model(_BPE_TEXTS, 8)
    assert got == want


def test_apply_bpe_matches_bruteforce_encoding(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BPE_TEXTS)], "doc_id int, text string"
    )
    merges = tx.learn_bpe_merges(docs, n_merges=6)
    _, syms = _bpe_model(_BPE_TEXTS, 6)
    enc = {r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"]) for r in
           tx.apply_bpe(docs, merges).collect()}
    import re
    for i, t in enumerate(_BPE_TEXTS):
        want = []
        for w in re.split(r"\s+", t.strip().lower()):
            if w:
                want.extend(syms[w])
        assert enc[i][0] == want, f"doc {i}"
        assert enc[i][1] == len(want)


def test_bpe_merge_overlap_semantics(spark):
    """Greedy leftmost non-overlap: 'aaaa' under (a,a) -> [aa, aa];
    'aaa' -> [aa, a]."""
    docs = spark.createDataFrame([(1, "aaa aaaa")], "doc_id int, text string")
    out = tx.apply_bpe(docs, [(0, "a", "a", 99)]).collect()[0]
    assert out["bpe_tokens"] == ["aa", "a", "</w>", "aa", "aa", "</w>"]


# ---------------------------------------------------------------------------
# plan-shape pins for the new ops (the 100 TB properties)
# ---------------------------------------------------------------------------

def test_domain_flags_literal_path_is_shuffle_free(spark):
    """Small curated blocklists compile to a literal-array filter — pure
    codegen over the scan, zero Exchange (the corpus text never moves)."""
    docs = spark.createDataFrame(_URL_DOCS, "doc_id int, text string")
    plan = (
        tx.domain_flags(docs, ["ads.example.com"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_importance_weights_ratio_join_is_broadcast(spark):
    """The n_buckets-row log-ratio table must join the exploded corpus
    tokens as the BROADCAST side — the corpus-sized relation never
    shuffles for the join (only the per-doc sum aggregates)."""
    raw = spark.createDataFrame(_DSIR_RAW, "doc_id int, text string")
    tgt = spark.createDataFrame(_DSIR_TGT, "doc_id int, text string")
    plan = (
        tx.importance_weights(raw, tgt, n_buckets=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the score join itself must be broadcast (build side = ratio table);
    # bucket-keyed exchanges inside the n_buckets-row ratio-table
    # construction are fine — they move thousands of rows, not the corpus
    assert "BroadcastHashJoin [bucket" in plan


def test_shard_and_shuffle_invariants(spark):
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id int")
    out = tx.shard_and_shuffle(docs, n_shards=8, seed=3).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # positions are a dense 0..k-1 enumeration within every shard
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps))), f"shard {s}"
    # deterministic per seed; a different seed yields a different order
    again = tx.shard_and_shuffle(docs, n_shards=8, seed=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = tx.shard_and_shuffle(docs, n_shards=8, seed=4).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_normalize_text_cases(spark):
    cases = [
        (0, "plain text", "plain text"),
        # CRLF + lone CR -> \n; control byte stripped
        (1, "a\r\nb\rc\x01d", "a\nb\ncd"),
        # horizontal runs collapse, edges trim
        (2, "  a\t\t b   c\t", "a b c"),
        # whitespace around newlines stripped, 3+ newlines squeeze to 2
        (3, "p1  \n\n\n\n   p2", "p1\n\np2"),
        # tab-only lines vanish into the paragraph squeeze
        (4, "x\n\t\t\n\t\n\ny", "x\n\ny"),
        (5, "", ""),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", tx.normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_normalize_text_idempotent_and_dedup_friendly(spark):
    """normalize(normalize(x)) == normalize(x), and two messy variants of
    the same document collapse to one exact-dedup group."""
    variants = [
        (0, "Hello   world\r\nsecond line"),
        (1, "Hello world\nsecond  line "),
        (2, " Hello\tworld \n second line"),
    ]
    docs = spark.createDataFrame(variants, "doc_id int, text string")
    one = docs.select("doc_id", tx.normalize_text(F.col("text")).alias("t"))
    two = one.select("doc_id", tx.normalize_text(F.col("t")).alias("t"))
    assert one.collect() == two.collect()
    assert one.select("t").distinct().count() == 1


def test_mixture_solve_integer_semantics(spark):
    # src_a: 100 tokens avail; src_b: 400; src_c: 50 (untargeted -> 0)
    rows = []
    did = 0
    for src, n_docs, toks_per in (("src_a", 10, 10), ("src_b", 40, 10), ("src_c", 5, 10)):
        for _ in range(n_docs):
            rows.append((did, src, " ".join(["w"] * toks_per)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["source"]: r
        for r in tx.mixture_solve(
            docs, {"src_a": 0.5, "src_b": 0.5}, budget_tokens=300
        ).collect()
    }
    assert out["src_a"]["avail_tokens"] == 100
    assert out["src_a"]["target_tokens"] == 150
    assert out["src_a"]["weight_ppm"] == 1_500_000  # 1.5 epochs upsample
    assert out["src_b"]["avail_tokens"] == 400
    assert out["src_b"]["target_tokens"] == 150
    assert out["src_b"]["weight_ppm"] == 375_000  # 37.5% subsample
    assert out["src_c"]["target_ppm"] == 0 and out["src_c"]["weight_ppm"] == 0
    # max-epochs cap clamps only the upsampled source
    capped = {
        r["source"]: r["weight_ppm"]
        for r in tx.mixture_solve(
            docs, {"src_a": 0.5, "src_b": 0.5}, budget_tokens=300,
            max_weight_ppm=1_200_000,
        ).collect()
    }
    assert capped["src_a"] == 1_200_000 and capped["src_b"] == 375_000


def test_apply_mixture_hits_token_budget(spark):
    rows = []
    did = 0
    for src, n_docs in (("src_a", 50), ("src_b", 200)):
        for _ in range(n_docs):
            rows.append((did, src, " ".join(["w"] * 10)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    mixed = tx.apply_mixture(docs, {"src_a": 0.5, "src_b": 0.5}, budget_tokens=2000)
    got = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # each source should land ~100 docs (=1000 tokens): exact for the
    # 2.0x integer upsample, within the md5-fraction tolerance for the 50%
    assert got["src_a"] == 100
    assert abs(got["src_b"] - 100) <= 15
    # determinism
    again = tx.apply_mixture(docs, {"src_a": 0.5, "src_b": 0.5}, budget_tokens=2000)
    assert sorted(map(tuple, mixed.collect())) == sorted(map(tuple, again.collect()))


def test_compression_ratio_signal(spark):
    import zlib

    repetitive = "spam ham " * 200           # near-pure repetition
    prose = " ".join(                         # varied sentences, ~18% ratio
        f"Sentence {i} discusses topic {i * i % 97} with nuance {(i * 7) % 31}"
        f" and detail {(i * 13) % 53}."
        for i in range(40)
    )
    high_entropy = "".join(
        f"{(i * 2654435761) % 2**32:08x}" for i in range(200)
    )                                          # hashy garbage, incompressible
    docs = spark.createDataFrame(
        [(0, repetitive), (1, prose), (2, high_entropy)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.compression_ratio(docs).collect()}
    # exact pin vs local zlib at the same level (determinism of the UDF)
    for i, t in ((0, repetitive), (1, prose), (2, high_entropy)):
        assert got[i]["n_bytes"] == len(t.encode())
        assert got[i]["compressed_bytes"] == len(zlib.compress(t.encode(), 6))
    # signal ordering: repetition << prose << entropy
    assert got[0]["ratio_ppm"] < got[1]["ratio_ppm"] < got[2]["ratio_ppm"]
    assert got[0]["too_repetitive"] == 1
    assert got[1]["too_repetitive"] == 0 and got[2]["too_repetitive"] == 0
    # empty text: defined, flagged as degenerate
    empty = tx.compression_ratio(
        spark.createDataFrame([(9, "")], "doc_id long, text string")
    ).collect()[0]
    assert empty["n_bytes"] == 0 and empty["ratio_ppm"] == 1_000_000


def test_pack_sequences_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    rows = []
    did = 0
    for src in ("sa", "sb"):
        for _ in range(rng.randint(4, 7)):
            n = rng.randint(0, 23)
            rows.append((did, src, " ".join(f"w{did}_{j}" for j in range(n))))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    L = 8
    got = {
        (r["partition"], r["seq_idx"]): r
        for r in tx.pack_sequences(docs, seq_len=L).collect()
    }

    # brute force: concat tokens per source in doc_id order, chunk by L
    def toks(t):
        return t.strip().lower().split() if t.strip() else [""]

    for src in ("sa", "sb"):
        stream, owners = [], []
        for did_, s, t in sorted(rows):
            if s != src:
                continue
            for tok in toks(t):
                stream.append(tok)
                owners.append(did_)
        n_seqs = (len(stream) + L - 1) // L
        for s_idx in range(n_seqs):
            chunk = stream[s_idx * L:(s_idx + 1) * L]
            key = (src, s_idx)
            assert key in got, key
            r = got[key]
            assert r["text_packed"] == " ".join(chunk), key
            assert r["n_tokens"] == len(chunk)
            assert r["n_docs"] == len(set(owners[s_idx * L:(s_idx + 1) * L]))
        assert not any(k[0] == src and k[1] >= n_seqs for k in got)
    # consistency with pack_offsets: every doc's first/last seq holds its
    # first/last token
    offs = {r["doc_id"]: r for r in tx.pack_offsets(docs, seq_len=L).collect()}
    for did_, src, t in rows:
        ts = toks(t)
        o = offs[did_]
        first = got[(src, o["first_seq"])]["text_packed"].split(" ")
        assert ts[0] in first


def test_lm_bits_per_token_matches_bruteforce(spark):
    """Pin the hashed-bigram LM against a Python model of the exact
    integer formula (md5-bucket tokens, add-one smoothing, floor-log2
    code lengths) on a corpus small enough to enumerate by hand."""
    import hashlib

    B = 64
    ref_rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran on the mat"),
        (3, "the dog sat on the rug"),
    ]
    eval_rows = ref_rows + [
        (10, "the cat sat on the mat"),      # pure ref transitions
        (11, "zyx wvu tsr qpo nml kji"),     # all-unseen gibberish
        (12, "solo"),                        # < 2 tokens -> no evidence
        (13, "   "),                         # empty after trim
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    docs = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in tx.lm_bits_per_token(docs, ref, n_buckets=B).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B

    def bigrams(t):
        bs = [bucket(x) for x in t.strip().lower().split() if x]
        return list(zip(bs, bs[1:]))

    c_bi, c_ctx = {}, {}
    for _, t in ref_rows:
        for pb, cb in bigrams(t):
            c_bi[(pb, cb)] = c_bi.get((pb, cb), 0) + 1
            c_ctx[pb] = c_ctx.get(pb, 0) + 1

    def fl2(x):
        return x.bit_length() - 1

    for did, t in eval_rows:
        bg = bigrams(t)
        if not bg:
            assert (got[did]["n_bigrams"], got[did]["bits_ppm"]) == (0, 0), did
            continue
        total = sum(
            fl2(c_ctx.get(pb, 0) + B) - fl2(c_bi.get((pb, cb), 0) + 1)
            for pb, cb in bg
        )
        assert got[did]["n_bigrams"] == len(bg), did
        assert got[did]["bits_ppm"] == (1_000_000 * total) // len(bg), did

    # the quality signal: in-distribution text is cheaper to encode than
    # gibberish (which pays ~fl2(B) bits on every unseen transition)
    assert got[10]["bits_ppm"] < got[11]["bits_ppm"]


def test_perplexity_filter_threshold_and_short_docs(spark):
    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta alpha beta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "qq rr ss tt uu vv ww"), (3, "one")],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r for r in tx.lm_bits_per_token(docs, ref, n_buckets=64).collect()
    }
    cut = scores[1]["bits_ppm"]  # keep exactly the in-distribution doc
    out = {
        r["doc_id"]: r["kept"]
        for r in tx.perplexity_filter(docs, ref, max_bits_ppm=cut, n_buckets=64).collect()
    }
    assert out == {1: True, 2: False, 3: False}  # 3: no bigrams -> never kept


def test_gopher_quality_rules(spark):
    """Each Gopher rule trips on a crafted doc while a plain-prose doc
    passes; metrics are pinned exactly on the hand-computable cases."""
    prose_words = ("the quick brown fox jumps over that lazy dog and then "
                   "we have some more of this plain text with many common "
                   "words to be sure that the document is long enough " * 2)
    rows = [
        (1, prose_words),                                  # passes
        (2, "word " * 30),                                 # too few words
        (3, ("#### " * 60) + prose_words),                 # symbol ratio
        (4, "\n".join(["- item %d the of and that" % i for i in range(20)])
            + "\n" + prose_words),                         # >90% bullets? mixed
        (5, "\n".join(["same line of the text"] * 10 + [prose_words])),
        (6, "zz qq xx " * 40),                             # no req stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.gopher_quality(df).collect()}

    assert got[1]["gopher_pass"] is True
    assert got[2]["n_words"] == 30 and got[2]["gopher_pass"] is False
    assert got[3]["symbol_word_ppm"] > 100_000 and not got[3]["gopher_pass"]
    assert got[6]["n_req_stopwords"] == 0 and not got[6]["gopher_pass"]

    # doc 5: 10 duplicate copies of one line + 1 distinct line
    assert got[5]["dup_line_ppm"] == (10 * 1_000_000) // 11
    assert not got[5]["gopher_pass"]

    # doc 4: 20 of 21 non-empty lines are bullets -> 952380 ppm > 900000
    assert got[4]["bullet_line_ppm"] == (20 * 1_000_000) // 21
    assert not got[4]["gopher_pass"]

    # exact word metrics on doc 2: 30 words, each 4 chars, no alpha fails
    assert got[2]["mean_word_len_x100"] == 400
    assert got[2]["alpha_word_ppm"] == 1_000_000


def test_gopher_quality_edge_docs(spark):
    """Empty/whitespace/no-newline docs never error and never pass."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two the of " * 20), (4, "\n\n\n")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in tx.gopher_quality(df).collect()}
    assert got[1]["n_words"] == 0 and not got[1]["gopher_pass"]
    assert got[2]["n_words"] == 0 and not got[2]["gopher_pass"]
    assert got[4]["n_words"] == 0 and not got[4]["gopher_pass"]
    # doc 3: one long line, 80 words, passes word rules
    assert got[3]["n_words"] == 80
    assert got[3]["dup_line_ppm"] == 0


def _brute_repetition(text):
    """Reference model for gopher_repetition: literal Counter + marked
    character positions (the datatrove/GopherRepetitionFilter shape)."""
    from collections import Counter

    t = [w for w in text.strip().lower().split() if w]
    total = sum(len(w) for w in t)
    out = {"total_chars": total}
    for n in (2, 3, 4):
        grams = [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]
        if grams:
            c = Counter(grams)
            # tiebreak: count desc, char-len desc, gram desc (documented)
            top = max(c, key=lambda g: (c[g], len(g), g))
            chars = c[top] * (len(top) - (n - 1))
        else:
            chars = 0
        out[f"top_{n}gram_char_ppm"] = chars * 1_000_000 // max(total, 1)
    for n in range(5, 11):
        grams = [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]
        c = Counter(grams)
        covered = set()
        for i, g in enumerate(grams):
            if c[g] > 1:
                covered.update(range(i, i + n))
        chars = sum(len(t[p]) for p in covered)
        out[f"dup_{n}gram_char_ppm"] = chars * 1_000_000 // max(total, 1)
    return out


def test_gopher_repetition_vs_brute_force(spark):
    rows = [
        (1, "spam ham " * 40),                      # top-2-gram saturated
        (2, "the quick brown fox jumps over the lazy dog and then sleeps"),
        (3, ("one two three four five six seven ") * 3 + "tail words here"),
        (4, "a b c d e f g h i j " * 2),            # exact doubling: every
        # 5..10-gram duplicated, overlapping spans must count chars ONCE
        (5, "solo"),
        (6, ""),
        (7, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in tx.gopher_repetition(df).collect()}
    assert set(got) == {r[0] for r in rows}
    for doc_id, text in rows:
        want = _brute_repetition(text)
        have = got[doc_id]
        for k, v in want.items():
            assert have[k] == v, f"doc {doc_id} {k}: {have[k]} != {v}"
    # doc 4 sanity: overlap-once means dup chars == all 20 token chars, not
    # the 6x-or-more a per-gram sum would produce
    assert got[4]["dup_5gram_char_ppm"] == 1_000_000
    assert got[4]["rep_pass"] is False
    assert got[5]["rep_pass"] is True  # no grams at all -> all metrics 0
    # the pass flag is exactly the thresholded brute-force metrics (note a
    # SHORT doc fails top-n-gram by construction — its unique longest
    # 3-gram alone exceeds 18% of chars; Gopher applies these after the
    # >=50-word rule, same as our gopher_quality ordering)
    for doc_id, text in rows:
        want = _brute_repetition(text)
        want_pass = all(
            want[f"top_{n}gram_char_ppm"] <= thr
            for n, thr in tx.GOPHER_TOP_NGRAM_MAX_PPM.items()
        ) and all(
            want[f"dup_{n}gram_char_ppm"] <= thr
            for n, thr in tx.GOPHER_DUP_NGRAM_MAX_PPM.items()
        )
        assert got[doc_id]["rep_pass"] is want_pass, doc_id


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "Bee", "cccc", "d", "ee-f", "GG", "hi", "j0"]),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_gopher_repetition_hypothesis(spark, token_lists):
    """Random small-vocab docs (duplicates forced by the 8-token vocab)
    agree with the brute-force Counter+marked-positions model on every
    metric — the property-test companion to the crafted-case pin."""
    rows = [(i, " ".join(ts)) for i, ts in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in tx.gopher_repetition(df).collect()}
    assert set(got) == set(range(len(rows)))
    for doc_id, text in rows:
        want = _brute_repetition(text)
        for k, v in want.items():
            assert got[doc_id][k] == v, f"doc {doc_id} {k}: {got[doc_id][k]} != {v}"


def test_c4_rules_planted(spark):
    rows = [
        # 3 clean sentences, one per line -> keep
        (1, "This is a good first sentence line.\n"
            "Here is another proper sentence line.\n"
            "And a third full sentence line appears here."),
        # javascript line + short line + unterminated line all drop;
        # one survivor line -> only 1 sentence -> page dropped
        (2, "Contains the word JavaScript so it drops.\n"
            "Too short line.\n"
            "No terminal punctuation here at all\n"
            "This line is perfectly fine and stays here."),
        # curly bracket anywhere on the page -> dropped
        (3, "One full sentence right here stands alone.\n"
            "function f() { return 1; }\n"
            "Another full sentence line is right here.\n"
            "A third full sentence line is here too."),
        # blocked phrase (case-insensitive) -> dropped
        (4, "Lorem Ipsum dolor sit amet consectetur adipiscing elit.\n"
            "Second proper sentence with enough words here.\n"
            "Third proper sentence with enough words too."),
        # blank-only + one short line -> nothing kept
        (5, "   \nShort.\n"),
        # ONE line can carry >=3 sentences (terminal-punct counting)
        (6, "He asked why? She said yes. Done now."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in tx.c4_rules(df).collect()}

    assert got[1]["n_lines"] == 3 and got[1]["n_lines_kept"] == 3
    assert got[1]["n_sentences"] == 3 and got[1]["c4_keep"] is True
    # kept text is the newline-join of the trimmed kept lines
    assert got[1]["kept_chars"] == len(rows[0][1])

    assert got[2]["n_lines"] == 4 and got[2]["n_lines_kept"] == 1
    assert got[2]["n_sentences"] == 1 and got[2]["c4_keep"] is False

    assert got[3]["has_brace"] is True and got[3]["c4_keep"] is False
    assert got[3]["n_lines_kept"] == 3  # the {-line itself fails the line rule

    assert got[4]["has_blocked"] is True and got[4]["c4_keep"] is False

    assert got[5]["n_lines"] == 1 and got[5]["n_lines_kept"] == 0
    assert got[5]["kept_chars"] == 0 and got[5]["c4_keep"] is False

    assert got[6]["n_lines_kept"] == 1 and got[6]["n_sentences"] == 3
    assert got[6]["c4_keep"] is True


def _brute_bfd(sizes, L):
    """(doc_id, n_tokens) -> {(doc_id, piece_idx): (bin_id, final_fill)} —
    the spec of pack_best_fit for ONE (partition, subshard) group."""
    pieces = []
    for doc_id, n in sizes:
        n = max(n, 1)
        n_full = n // L
        rem = n % L
        for i in range(n_full):
            pieces.append((doc_id, i, L))
        if rem > 0:
            pieces.append((doc_id, n_full, rem))
    remainder = sorted(
        [p for p in pieces if p[2] < L], key=lambda p: (-p[2], p[0], p[1])
    )
    # deliberately NOT the production bisect structure: a naive O(n·bins)
    # scan over ALL open bins, picking the fullest (min remaining) that
    # fits with ties to the oldest bin — an independent statement of the
    # best-fit rule, so a shared algorithmic bug can't self-confirm
    fills, assign = [], {}
    for doc_id, idx, size in remainder:
        candidates = [
            (L - fills[bid], bid)
            for bid in range(len(fills))
            if L - fills[bid] >= size
        ]
        if candidates:
            _, bid = min(candidates)
            fills[bid] += size
        else:
            bid = len(fills)
            fills.append(size)
        assign[(doc_id, idx)] = bid
    out = {}
    for doc_id, idx, size in pieces:
        if size < L:
            bid = assign[(doc_id, idx)]
            out[(doc_id, idx)] = (bid, fills[bid])
    n_packed = len(fills)
    for j, (doc_id, idx, size) in enumerate(
        sorted([p for p in pieces if p[2] >= L], key=lambda p: (p[0], p[1]))
    ):
        out[(doc_id, idx)] = (n_packed + j, L)
    return out


def test_pack_best_fit_matches_brute_force(spark):
    L = 16
    rows = [
        (1, "w " * 10),    # 10 tokens
        (2, "w " * 9),     # 9
        (3, "w " * 7),     # 7  -> fits with doc2's 9 exactly (16)
        (4, "w " * 6),     # 6  -> with doc1's 10 exactly (16)
        (5, "w " * 40),    # 2 full bins + remainder 8
        (6, "w " * 16),    # exactly one full bin, no remainder
        (7, ""),           # empty -> one 1-token piece
    ]
    docs = spark.createDataFrame(
        [(i, t.strip(), "s0") for i, t in rows],
        "doc_id long, text string, source string",
    )
    got = tx.pack_best_fit(docs, seq_len=L).collect()
    sizes = [(i, len(t.split()) if t.strip() else 1) for i, t in rows]
    want = _brute_bfd(sizes, L)
    assert len(got) == len(want)
    for r in got:
        wb, wf = want[(r["doc_id"], r["piece_idx"])]
        assert (r["bin_id"], r["bin_fill"]) == (wb, wf), r
        assert r["bin_fill"] <= L
    # the two planted PERFECT fits (10+6 and 9+7) fill their bins exactly;
    # the third pairing (8+1 -> fill 9) is best-fit behavior, not perfect
    perfect = {r["bin_id"] for r in got if r["bin_fill"] == L and r["piece_tokens"] < L}
    assert len(perfect) == 2


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=70), min_size=1, max_size=40))
def test_pack_best_fit_hypothesis(spark, lens):
    L = 24
    docs = spark.createDataFrame(
        [(i, "w " * n, "s0") for i, n in enumerate(lens)],
        "doc_id long, text string, source string",
    )
    got = tx.pack_best_fit(docs, seq_len=L).collect()
    want = _brute_bfd(list(enumerate(max(n, 1) for n in lens)), L)
    # NOTE: tokens('') -> [''] counts 1, and 'w '*n strips to n tokens
    assert len(got) == len(want)
    fills = {}
    for r in got:
        wb, wf = want[(r["doc_id"], r["piece_idx"])]
        assert (r["bin_id"], r["bin_fill"]) == (wb, wf)
        fills.setdefault(r["bin_id"], 0)
        fills[r["bin_id"]] += r["piece_tokens"]
    for bid, total in fills.items():
        assert total <= L


def test_gopher_quality_long_doc_no_int32_overflow(spark):
    """A clean 3,000-word doc is squarely inside Gopher's 50..100k word
    contract, but n_alpha * 1_000_000 overflows int32 (wraps negative,
    silently failing the alpha rule AND diverging from the BIGINT-casting
    DuckDB twin). All ppm/x100 metrics must be computed in bigint."""
    words = (["the", "and", "that", "have", "with"] * 600)[:3000]
    text = " ".join(f"{w}{i%97}x" if i % 7 == 0 else w for i, w in enumerate(words))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = tx.gopher_quality(df).collect()[0]
    assert r["n_words"] == 3000
    assert r["alpha_word_ppm"] == 1_000_000        # every word has a letter
    assert 200 <= r["mean_word_len_x100"] <= 1500  # sane, not wrapped
    assert r["symbol_word_ppm"] == 0
    assert r["gopher_pass"] is True


def test_compression_band_margins_hold_across_id_space():
    """The compression_band gate's class->band mapping must be robust to
    any doc_id (fixture sizes are id-derived) and to realistic zlib
    drift: every constructed class text must sit >= 1.4x away from the
    nearest ppm threshold (150k / 400k) on BOTH sides."""
    import hashlib
    import zlib

    def ratio_ppm(t: str) -> int:
        b = t.encode()
        return len(zlib.compress(b, 6)) * 1_000_000 // len(b)

    ids = list(range(0, 120)) + [10**6 + i for i in range(40)] + [
        987654321, 2**40 + 7, 31, 36, 37, 8, 9, 17
    ]
    for did in ids:
        rep = ("spam " * (50 + did % 37)).rstrip()
        hx = "".join(
            hashlib.md5(f"{did}:{i}".encode()).hexdigest()
            for i in range(8 + did % 9)
        )
        mix = hx[:40] + " " + ("token " * 30)
        assert ratio_ppm(rep) * 1.4 <= 150_000, (did, ratio_ppm(rep))
        assert ratio_ppm(hx) >= 400_000 * 1.4, (did, ratio_ppm(hx))
        m = ratio_ppm(mix)
        assert 150_000 * 1.4 <= m <= 400_000 / 1.4, (did, m)

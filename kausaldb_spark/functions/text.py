"""Text analysis for training-data pipelines: tokenization, shingling,
language ID, quality scoring, SimHash, document fingerprinting.

Everything here is a pure Column expression (whole-stage codegen, no Python
UDFs) so it vectorizes across a 100 TB corpus exactly like a scan. All
outputs that feed the oracle gate are integers or hash strings — engine-
portable (no float formatting drift).

These are net-new capabilities beyond the reference engine (which only has
keyword scoring, ``src/query/operations.zig:421-437``) — the SURVEY.md §2
"north-star extensions" for large-scale corpus work.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization / shingling
# ---------------------------------------------------------------------------

def tokens(text: Column) -> Column:
    """Whitespace tokens of lower-cased trimmed text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-grams as ' '-joined strings; empty array when fewer than n
    tokens. Built by zipping n shifted slices of the token array — each
    shingle costs one concat, where the transform-with-slice formulation
    re-sliced the array per position (O(len²) per doc, measured dominating
    the whole MinHash pipeline)."""
    t = toks
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    out = F.slice(t, 1, m)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(t, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


# A GPT-2-flavored pre-tokenization pattern restricted to the regex subset
# that Java (Spark) and RE2 (DuckDB) interpret identically: letter runs,
# single digits, punctuation runs. No lookarounds, no \p classes.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def bpe_ish_tokens(text: Column) -> Column:
    """Subword-ish token stream (the 'BPE-ish regex' counter): splits letter
    runs from digits and punctuation the way GPT-2's pre-tokenizer does,
    minus the unicode categories (engine-portable subset)."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0)


def split_assignment(key: Column, val_pct: int = 5, test_pct: int = 5) -> Column:
    """Deterministic train/val/test split: bucket = first 8 md5 hex digits of
    the key mod 100. Stable under corpus growth (a doc's split never changes
    when other docs are added) — the property random splits lack."""
    bucket = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )


# ---------------------------------------------------------------------------
# text normalization (cleanup pass before any downstream op)
# ---------------------------------------------------------------------------

# Control characters stripped outright: C0 minus \t (x09), \n (x0A), \r (x0D),
# plus DEL. \r is handled separately (normalized to \n, not dropped) so CRLF
# input collapses to a single newline instead of vanishing entirely.
# The class uses only \xhh escapes — Java (Spark) and RE2 (DuckDB) read them
# identically; no \p categories, no lookarounds.
_CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text(text: Column) -> Column:
    """Deterministic whitespace/control normalization — the cleanup pass a
    corpus gets before tokenization or dedup (stray control bytes and
    inconsistent whitespace otherwise split exact-dedup groups that are the
    same document):

    1. strip C0 control chars (except tab/newline/CR) and DEL;
    2. normalize CRLF / lone CR to ``\\n``;
    3. collapse horizontal whitespace runs (space/tab) to one space;
    4. strip horizontal whitespace around newlines (trailing/leading
       per-line);
    5. squeeze 3+ consecutive newlines to a blank line (paragraph break);
    6. trim the ends.

    Pure chained ``regexp_replace`` — whole-stage codegen, one projection,
    no shuffle; every pattern sits in the Java∩RE2 portable subset so the
    DuckDB oracle replays it byte-for-byte."""
    t = F.regexp_replace(text, _CTRL_CLASS, "")
    t = F.regexp_replace(t, r"\r\n?", "\n")
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n\n\n+", "\n\n")
    return F.trim(t)


# ---------------------------------------------------------------------------
# token-budget mixture solver (how many epochs of each source)
# ---------------------------------------------------------------------------

def mixture_solve(
    docs,
    targets: dict[str, float],
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    token_col: str | None = None,
    max_weight_ppm: int | None = None,
):
    """Token-budget mixture solver — the planning step of data mixing:
    given target proportions per source and a total training-token budget,
    compute how many tokens each source must contribute and the sampling
    weight (epochs) that achieves it given what is actually available.

    Returns one row per source present in ``docs``:
    ``(source, avail_tokens, target_ppm, target_tokens, weight_ppm)`` with
    ``weight_ppm = round_down(1e6 * target_tokens / avail_tokens)`` —
    weight 1_000_000 = exactly one epoch, 2_500_000 = 2.5 epochs
    (upsampled), 310_000 = 31% subsample. Sources absent from ``targets``
    get target 0 (dropped from the mix). ``max_weight_ppm`` optionally caps
    upsampling (the "max epochs" rule — repeating a tiny source 40× hurts
    more than missing the target mix, Muennighoff et al. 2023).

    ALL integer arithmetic (ppm fractions, DIV division) so the plan is
    engine-portable and the driver's value-hash gate applies. One
    map-side-combined groupBy over the corpus (#sources result rows); the
    solve itself is column arithmetic on that tiny relation."""
    tok = F.size(tokens(F.col(text_col))) if token_col is None else F.col(token_col)
    per = docs.groupBy(source_col).agg(
        F.sum(tok).cast("bigint").alias("avail_tokens")
    )
    ppm = F.lit(0)
    for name, frac in sorted(targets.items()):
        ppm = F.when(
            F.col(source_col) == name, F.lit(int(round(frac * 1_000_000)))
        ).otherwise(ppm)
    out = (
        per.select(
            F.col(source_col).alias("source"),
            "avail_tokens",
            ppm.cast("int").alias("target_ppm"),
        )
        .withColumn(
            "target_tokens",
            F.expr(
                f"CAST(CAST({int(budget_tokens)} AS BIGINT) * target_ppm"
                " DIV 1000000 AS BIGINT)"
            ),
        )
        .withColumn(
            "weight_ppm",
            F.expr(
                "CAST(CASE WHEN avail_tokens > 0"
                " THEN target_tokens * 1000000 DIV avail_tokens"
                " ELSE 0 END AS BIGINT)"
            ),
        )
    )
    if max_weight_ppm is not None:
        out = out.withColumn(
            "weight_ppm",
            F.least(F.col("weight_ppm"), F.lit(int(max_weight_ppm)).cast("bigint")),
        )
    return out


def apply_mixture(
    docs,
    targets: dict[str, float],
    budget_tokens: int,
    key_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    max_weight_ppm: int | None = None,
):
    """Solve the mixture then apply it via :func:`mix_sources`. The solver
    result is collected to the driver — bounded by the number of SOURCES
    (tens to hundreds at any real scale, never corpus-sized), the same
    bounded-collect pattern as the reference's ≤1000 caps."""
    solved = mixture_solve(
        docs, targets, budget_tokens, source_col=source_col, text_col=text_col,
        max_weight_ppm=max_weight_ppm,
    ).collect()
    weights = {r["source"]: r["weight_ppm"] / 1_000_000 for r in solved}
    # ppm granularity: the solver's weights are exact to 1e-6 — don't
    # throw that away on the default 1% selection buckets
    return mix_sources(
        docs, weights, key_col=key_col, source_col=source_col,
        granularity=1_000_000,
    )


# ---------------------------------------------------------------------------
# language ID (stopword-hit heuristic)
# ---------------------------------------------------------------------------

# Deliberately tiny, disjoint stopword lists — the goal is a deterministic,
# cheap, SQL-portable heuristic (argmax of stopword hits with fixed priority),
# not linguistic accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "les", "et", "dans", "pour"),
    "es": ("el", "los", "y", "para", "con"),
    "zh": ("的", "是", "在", "了", "和"),
}
_LANG_ORDER = tuple(LANG_STOPWORDS)


def lang_scores(toks: Column) -> dict[str, Column]:
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(toks: Column) -> Column:
    """Predicted language: first language (in fixed order) whose stopword-hit
    count equals the max; 'und' when no stopword hits at all."""
    scores = lang_scores(toks)
    mx = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(_LANG_ORDER):
        pred = F.when(scores[lang] == mx, F.lit(lang)).otherwise(pred)
    return F.when(mx == 0, F.lit("und")).otherwise(pred)


# ---------------------------------------------------------------------------
# quality scoring (integer metrics only — oracle-portable)
# ---------------------------------------------------------------------------

def quality_columns(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    n_tokens = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    en_arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_arr, t)))
    return {
        "n_chars": F.length(text).cast("int"),
        "n_tokens": n_tokens.cast("int"),
        "avg_token_len_x100": F.floor(sum_len * 100 / n_tokens).cast("bigint"),
        "pct_stopwords": F.floor(n_stop * 100 / n_tokens).cast("bigint"),
        "n_distinct_tokens": F.size(F.array_distinct(toks)).cast("int"),
    }


def quality_flag(cols: dict[str, Column]) -> Column:
    """1 if the document passes the cheap quality gate (length band, token
    shape, repetition)."""
    return (
        (cols["n_tokens"] >= 10)
        & (cols["n_tokens"] <= 100_000)
        & (cols["avg_token_len_x100"] >= 200)
        & (cols["avg_token_len_x100"] <= 1500)
        & (cols["n_distinct_tokens"] * 4 >= cols["n_tokens"])
    ).cast("int")


def compression_ratio(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
    min_ratio_ppm: int = 150_000,
):
    """zlib-compressibility quality signal — the Gopher/FineWeb-family
    heuristic that n-gram counting misses: templated, boilerplate-heavy, or
    machine-generated text compresses far below natural prose, while
    high-entropy garbage (base64 blobs, minified code) barely compresses at
    all. Emits per doc:

    - ``n_bytes``        — utf-8 length of the raw text
    - ``compressed_bytes`` — ``len(zlib.compress(text, level))``
    - ``ratio_ppm``      — compressed/raw in parts-per-million (integer)
    - ``too_repetitive`` — 1 when ratio_ppm < ``min_ratio_ppm`` (default:
      compresses below 15% ⇒ near-pure repetition)

    zlib is a Python-side computation, so this is the ONE quality signal
    here that is not pure codegen — it runs as an Arrow-batched pandas UDF
    (bytes move column-wise, never row-at-a-time Python) and its output is
    deterministic integers for a fixed zlib version/level. Not
    SQL-expressible → pytest-pinned, no DuckDB oracle (same policy as the
    float-ranking ops)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _clen_fn(s):
        import zlib

        lvl = level
        return s.fillna("").map(
            lambda t: len(zlib.compress(t.encode("utf-8"), lvl))
        )

    # module has `from __future__ import annotations` (hints become strings
    # pandas_udf can't resolve) — attach REAL type objects instead
    _clen_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _clen = pandas_udf(_clen_fn, "long")

    raw = F.octet_length(F.col(text_col)).cast("bigint")
    out = docs.select(
        F.col(id_col),
        raw.alias("n_bytes"),
        _clen(F.col(text_col)).alias("compressed_bytes"),
    )
    ratio = F.expr(
        "CAST(CASE WHEN n_bytes > 0"
        " THEN compressed_bytes * 1000000 DIV n_bytes"
        " ELSE 1000000 END AS BIGINT)"
    )
    return out.withColumn("ratio_ppm", ratio).withColumn(
        "too_repetitive", (F.col("ratio_ppm") < min_ratio_ppm).cast("int")
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit bands, md5-nibble hash family; 64-bit = 4 salted bands)
# ---------------------------------------------------------------------------

N_SIMHASH_BANDS = 4  # 4 x 16-bit salted bands = a 64-bit signature


def simhash64_bands(toks: Column) -> list[Column]:
    """The four 16-bit bands of the 64-bit SimHash, all derived from ONE
    md5 per token: signature bit j uses bit (j mod 2) of hex nibble (j div 2)
    — 128 hash bits feed 64 signature bits in a single aggregate pass (the
    4-salted-md5 formulation measured ~4x slower: four hashes and four
    aggregate passes per token). Band b = bits [16b, 16b+15].

    Band-identical signatures are the LSH candidate condition for
    hamming-distance pairing: two 64-bit signatures within hamming
    distance 3 must agree on at least one of 4 bands (pigeonhole)."""
    def step(acc, t):
        h = F.md5(t)
        def contrib_at(j):
            v = F.conv(F.substring(h, F.floor(j / 2).cast("int") + 1, 1), 16, 10).cast("int")
            bit = F.when(j % 2 == 0, v % 2).otherwise(F.floor(v / 2).cast("int") % 2)
            return bit * 2 - 1
        return F.zip_with(
            acc,
            F.transform(F.sequence(F.lit(0), F.lit(63)), contrib_at),
            lambda a, c: a + c,
        )

    sums = F.aggregate(toks, F.array_repeat(F.lit(0), 64), step)

    def band(b: int) -> Column:
        total = None
        for j in range(16):
            bit = F.when(
                F.element_at(sums, 16 * b + j + 1) >= 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            total = bit if total is None else total + bit
        return total.cast("int")

    return [band(b) for b in range(N_SIMHASH_BANDS)]


def simhash64(toks: Column) -> Column:
    """64-bit SimHash signature as a bigint: band b occupies bits
    [16b, 16b+15] (shiftleft wraps band 3 through the sign bit — the value
    is an opaque 64-bit pattern, XOR/bit_count semantics are unaffected)."""
    bands = simhash64_bands(toks)
    total = None
    for b, col in enumerate(bands):
        part = F.shiftleft(col.cast("bigint"), 16 * b)
        total = part if total is None else total.bitwiseOR(part)
    return total.cast("bigint")


# ---------------------------------------------------------------------------
# PII detection / redaction (regex subset identical in Java and RE2)
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^\s]+"
PII_PHONE = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"
_PII_PATTERNS = (
    ("emails", PII_EMAIL, "<EMAIL>"),
    ("urls", PII_URL, "<URL>"),
    ("phones", PII_PHONE, "<PHONE>"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document PII-ish hit counts (email/url/phone) — the scrubbing
    pre-pass every training-data pipeline runs. Pure regexp_count column
    exprs; the patterns stay in the Java∩RE2 regex subset so DuckDB counts
    identically."""
    return {
        f"n_{name}": F.regexp_count(text, F.lit(pat)).cast("int")
        for name, pat, _ in _PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """Replace detected PII spans with typed placeholders (applied in the
    fixed email → url → phone order, so the output is deterministic)."""
    out = text
    for _name, pat, token in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# ---------------------------------------------------------------------------
# document fingerprinting (k-min sketch over shingles)
# ---------------------------------------------------------------------------

def fingerprint(toks: Column, n: int = 5, k: int = 4) -> Column:
    """Deterministic doc fingerprint: the k lexicographically smallest md5
    hashes of word n-grams, '|'-joined (a winnowing-style content sketch —
    stable under small edits away from the minima)."""
    sh = shingles(toks, n)
    hashed = F.transform(sh, lambda s: F.md5(s))
    return F.concat_ws("|", F.slice(F.array_sort(hashed), 1, k))


def mix_sources(docs, weights: dict[str, float], key_col: str = "doc_id",
                source_col: str = "source", granularity: int = 100):
    """Deterministic source mixing/upsampling — the pretraining data-mixing
    op: each source's docs are repeated ``weights[source]`` times in
    expectation (floor copies always, +1 copy for the md5-selected fraction;
    sources absent from ``weights`` default to 1.0, weight 0 drops). Output
    adds a ``copy_idx`` column (0-based). Growth-stable like the split
    assignment: a doc's copy count never changes when other docs appear.
    Pure column expressions — explode of a per-row sequence, no shuffle at
    all (the mix is embarrassingly parallel).

    ``granularity`` sets the fractional-selection resolution: the default
    100 buckets (1% steps — the gated oracle's encoding) suffices for
    hand-written weights; solver-derived ppm weights pass 1_000_000
    (md5's first 8 hex digits give 2^32 values, so ppm buckets stay
    uniform)."""
    g = int(granularity)
    w = F.lit(1.0)
    for name, weight in sorted(weights.items()):
        w = F.when(F.col(source_col) == name, F.lit(float(weight))).otherwise(w)
    base = F.floor(w).cast("int")
    # explicit round: .cast('int') TRUNCATES in Spark but ROUNDS in DuckDB,
    # so weights whose fraction*granularity isn't binary-exact (e.g. 1.33
    # -> 32.999...) diverged between engines (VERDICT r4 §Wrong #6)
    frac_sel = F.round((w - F.floor(w)) * g).cast("bigint")
    bucket = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
                    ).cast("bigint") % g
    n_copies = base + (bucket < frac_sel).cast("int")
    return (
        docs.withColumn("_n_copies", n_copies)
        .where(F.col("_n_copies") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)))
        .drop("_n_copies")
    )


def remove_boilerplate_lines(
    docs, min_df: int = 2, key_col: str = "doc_id", text_col: str = "text"
):
    """CCNet-style line-level dedup (boilerplate removal): a trimmed,
    non-empty line appearing in >= ``min_df`` distinct documents is
    boilerplate (nav bars, headers, license banners, cookie notices) and is
    stripped from EVERY document; remaining lines reassemble in original
    order. Output: (doc_id, text_clean, n_kept, n_removed) — one row per
    input doc (fully-boilerplate docs come back with empty text, the
    drop-or-keep decision belongs to the caller's quality gate).

    Scale shape: one explode + one count aggregate keyed by line text + one
    anti-join on the same key + one per-doc reassembly aggregate — the same
    two-shuffle profile as exact dedup; no driver-side state and no UDF
    (reassembly is array_sort + transform, whole-stage codegen). The
    boilerplate side of the anti-join is duplication-rate-sized, so AQE
    typically broadcasts it at runtime.
    """
    lines = docs.select(
        key_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    ).withColumn("key", F.trim("line"))
    bp = (
        lines.where(F.col("key") != "")
        .groupBy("key")
        .agg(F.countDistinct(key_col).alias("df"))
        .where(F.col("df") >= min_df)
        .select("key")
    )
    kept = lines.join(bp, "key", "left_anti")
    agg = kept.groupBy(key_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("text_clean"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    totals = docs.select(
        key_col,
        F.size(F.split(F.col(text_col), "\n")).cast("bigint").alias("_n_lines"),
    )
    return totals.join(agg, key_col, "left").select(
        key_col,
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("_n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# ranked multi-term retrieval (BM25 + an integer-exact variant)
# ---------------------------------------------------------------------------

def _per_term_tf(toks: Column, terms: list[str]) -> dict[str, Column]:
    """tf per literal query term as pure column expressions — with the query
    a compile-time literal list there is NO posting-list shuffle at all:
    each tf is a filtered-array size inside whole-stage codegen, so ranked
    retrieval is one corpus scan + a distributed top-k heap. (An explode →
    filter → groupBy formulation shuffles every matching token; this shape
    shuffles nothing.)"""
    def _eq(term: str):
        # a one-arg lambda is required: F.filter treats a second lambda
        # parameter as the element INDEX, so `lambda x, t=t:` would compare
        # tokens against positions
        return lambda x: x == F.lit(term)

    return {t: F.size(F.filter(toks, _eq(t))) for t in terms}


def term_match_topk(docs, query_terms: list[str], k: int = 20,
                    text_col: str = "text", id_col: str = "doc_id"):
    """Integer-exact ranked boolean retrieval: rank docs by (number of
    distinct query terms present DESC, total term frequency DESC, doc id
    ASC), keep the top ``k``. The deterministic-integer companion to
    :func:`bm25_topk` (same candidate set and first-order ranking, no
    floats — engine-portable for the DuckDB oracle gate).

    Extends the reference's single-keyword scoring
    (``src/query/operations.zig:421-437``) to multi-term ranked retrieval.
    Output: (doc_id, n_terms, total_tf, rank)."""
    toks = tokens(F.col(text_col))
    tfs = _per_term_tf(toks, query_terms)
    n_terms = sum(((tf > 0).cast("int") for tf in tfs.values()), F.lit(0))
    total_tf = sum(tfs.values(), F.lit(0))
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        n_terms.cast("int").alias("n_terms"),
        total_tf.cast("bigint").alias("total_tf"),
    ).where(F.col("n_terms") > 0)
    top = scored.orderBy(
        F.col("n_terms").desc(), F.col("total_tf").desc(), F.col("doc_id")
    ).limit(k)  # compiles to TakeOrderedAndProject: per-partition heaps
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("n_terms").desc(), F.col("total_tf").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def bm25_topk(docs, query_terms: list[str], k: int = 20, k1: float = 1.2,
              b: float = 0.75, text_col: str = "text", id_col: str = "doc_id"):
    """Okapi BM25 top-k retrieval (Robertson/Spärck Jones idf with the
    standard +1 floor, as in Lucene):

        idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(d)  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Distributed shape (scan-dominated, shuffle-free): per-term tf is a
    codegen'd filtered-array size (see _per_term_tf); N, avgdl and the
    per-term df reduce to ONE single-row aggregate that broadcasts back
    over the corpus; the final top-k is a TakeOrdered heap. At 100 TB this
    is two corpus scans (stats + score) and no exchange of corpus rows.

    Floats by nature — ranking is pytest-pinned against a brute-force
    reference, not oracle-hash-gated.
    Output: (doc_id, n_terms, score, rank)."""
    toks = tokens(F.col(text_col))
    tfs = _per_term_tf(toks, query_terms)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("double").alias("dl"),
        *[tf.cast("double").alias(f"_tf{i}") for i, tf in enumerate(tfs.values())],
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("double")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    n_terms = F.lit(0)
    for i in range(len(query_terms)):
        tf = F.col(f"_tf{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5)
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        score = score + F.when(
            tf > 0, idf * tf * F.lit(k1 + 1.0) / denom
        ).otherwise(F.lit(0.0))
        n_terms = n_terms + (tf > 0).cast("int")
    ranked = (
        scored.select(
            "doc_id", n_terms.cast("int").alias("n_terms"), score.alias("score")
        )
        .where(F.col("n_terms") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return ranked.withColumn("rank", F.row_number().over(w).cast("int"))


def bm25_topk_ppm(docs, query_terms: list[str], k: int = 20,
                  text_col: str = "text", id_col: str = "doc_id"):
    """Fixed-point BM25 top-k: the engine-portable integer twin of
    :func:`bm25_topk`, exact enough for a value-hash oracle gate. Two
    deliberate, documented deviations from Okapi make every quantity a
    ratio of integers (the house no-float-aggregate rule):

    - k1 = 1.2 and b = 0.75 are fixed as the rationals 6/5 and 3/4, so the
      tf saturation term is exactly ``22·total_dl·tf / (10·total_dl·tf +
      3·total_dl + 9·dl·N)`` (multiply numerator and denominator of the
      Okapi term by ``10·total_dl``) — integer arithmetic only;
    - the idf drops the log and keeps the rational odds
      ``(2N − 2df + 1) / (2df + 1)`` (Robertson's argument to ln(1+·),
      scaled by 2 to clear the halves). Per-term contributions stay
      monotone in tf and df exactly as BM25's are; only the inter-term
      weighting is steeper. The float :func:`bm25_topk` remains the
      faithful ranking (pytest-pinned).

    Everything is ppm-scaled floor division. Intermediates ride
    decimal(38,0) (``10·total_dl·tf`` overflows bigint at web scale);
    floors are computed as ``(a − a % b) / b`` so the quotient is an exact
    integer before Spark's scale-6 decimal rounding can touch it —
    byte-identical to DuckDB's hugeint ``//``.

    Same distributed shape as bm25_topk: one single-row stats broadcast,
    one scoring scan, a TakeOrdered heap — no corpus-row exchange.
    Output: (doc_id, n_terms, score_ppm, rank)."""
    from pyspark.sql.window import Window

    M = F.lit(1_000_000).cast("decimal(38,0)")

    def _floordiv(a, b):
        # exact floor for non-negative decimals: subtract the remainder
        # first so the division result is integral (no scale-6 rounding)
        return ((a - a % b) / b).cast("decimal(38,0)")

    toks = tokens(F.col(text_col))
    tfs = _per_term_tf(toks, query_terms)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("bigint").alias("dl"),
        *[tf.cast("bigint").alias(f"_tf{i}") for i, tf in enumerate(tfs.values())],
    )
    stats = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("bigint")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    score = F.lit(0).cast("decimal(38,0)")
    n_terms = F.lit(0)
    for i in range(len(query_terms)):
        tf, df = F.col(f"_tf{i}"), F.col(f"_df{i}")
        idf_ppm = _floordiv(
            dec(F.lit(1_000_000) * (F.lit(2) * F.col("n_docs") - F.lit(2) * df + F.lit(1))),
            dec(F.lit(2) * df + F.lit(1)),
        )
        nm = dec(F.lit(22)) * dec(F.col("total_dl")) * dec(tf)
        dn = (
            dec(F.lit(10)) * dec(F.col("total_dl")) * dec(tf)
            + dec(F.lit(3)) * dec(F.col("total_dl"))
            + dec(F.lit(9)) * dec(F.col("dl")) * dec(F.col("n_docs"))
        )
        tfq_ppm = _floordiv(M * nm, dn)
        contrib = _floordiv(idf_ppm * tfq_ppm, M)
        score = score + F.when(tf > 0, contrib).otherwise(F.lit(0).cast("decimal(38,0)"))
        n_terms = n_terms + (tf > 0).cast("int")
    ranked = (
        scored.select(
            "doc_id",
            n_terms.cast("int").alias("n_terms"),
            score.cast("bigint").alias("score_ppm"),
        )
        .where(F.col("n_terms") > 0)
        .orderBy(F.col("score_ppm").desc(), F.col("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.col("score_ppm").desc(), F.col("doc_id"))
    return ranked.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# context-length chunking (training-sequence preparation)
# ---------------------------------------------------------------------------

def chunk_documents(docs, chunk_tokens: int = 512, overlap: int = 64,
                    text_col: str = "text", id_col: str = "doc_id"):
    """Split documents into fixed-length token chunks with overlap — the
    context-window preparation step of a pretraining pipeline (long docs
    become stride-``chunk_tokens - overlap`` windows; the final chunk is
    clipped to the document end).

    Chunk layout for a doc of n tokens (stride s = chunk_tokens - overlap):
        n_chunks = 1                       if n <= chunk_tokens
                   1 + ceil((n - chunk_tokens) / s)   otherwise
        chunk i  = tokens[i*s : min(i*s + chunk_tokens, n)]

    Zero-shuffle: per-row sequence explode + array slice + concat — the op
    is embarrassingly parallel and scales as a map over the corpus.
    Output: (doc_id, chunk_idx, start_tok, end_tok, n_tokens, chunk_text)
    with end_tok exclusive; all integers + deterministic strings
    (oracle-portable)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - chunk_tokens) / F.lit(stride)).cast("int")
    )
    out = (
        docs.select(
            F.col(id_col).alias("doc_id"), toks.alias("_t"), n.alias("_n"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("bigint").alias("start_tok"),
            F.least(
                F.col("chunk_idx") * stride + chunk_tokens, F.col("_n")
            ).cast("bigint").alias("end_tok"),
            F.col("_t"),
        )
        .select(
            "doc_id", "chunk_idx", "start_tok", "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("n_tokens"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_t"),
                    (F.col("start_tok") + 1).cast("int"),
                    (F.col("end_tok") - F.col("start_tok")).cast("int"),
                ),
            ).alias("chunk_text"),
        )
    )
    return out


def pack_offsets(docs, seq_len: int = 512, partition_col: str = "source",
                 text_col: str = "text", id_col: str = "doc_id"):
    """Concat-and-chunk sequence packing (GPT-style): within each
    ``partition_col`` shard, documents are laid end-to-end in (doc_id)
    order and cut into fixed ``seq_len`` training sequences; each document
    reports its global token offset and the range of sequence indices it
    lands in. The index-building metadata a packed-pretraining loader
    needs — emitted without materializing any packed text.

    Scale shape: ONE running-sum window per shard (ordered by doc_id).
    The sort is per-shard by design — a 100 TB corpus packs per
    source/split shard exactly like this, never globally (the same
    reasoning as the stratified-sample salting: no single-task sort of an
    unbounded partition; shard count grows with the corpus).

    Output: (partition, doc_id, n_tokens, global_start, first_seq,
    last_seq) — all integers; empty docs still occupy their (single
    empty-string) token slot, keeping offsets deterministic."""
    from pyspark.sql.window import Window

    n = F.size(tokens(F.col(text_col))).cast("bigint")
    w = Window.partitionBy(partition_col).orderBy(id_col)
    base = docs.select(
        F.col(partition_col).alias("partition"),
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
    ).withColumn(
        "global_start",
        F.coalesce(
            F.sum("n_tokens").over(
                Window.partitionBy("partition")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    # integer DIV, not floor(double /): a 100 TB shard's token offset can
    # exceed 2^53 where double division stops being exact
    last_tok = "global_start + greatest(n_tokens, CAST(1 AS BIGINT)) - 1"
    return base.select(
        "partition", "doc_id", "n_tokens", "global_start",
        F.expr(f"CAST(global_start DIV {seq_len} AS BIGINT)").alias("first_seq"),
        F.expr(f"CAST(({last_tok}) DIV {seq_len} AS BIGINT)").alias("last_seq"),
    )


def pack_sequences(docs, seq_len: int = 512, partition_col: str = "source",
                   text_col: str = "text", id_col: str = "doc_id"):
    """Materialize the packed training sequences that :func:`pack_offsets`
    indexes: within each shard, documents laid end-to-end in doc_id order
    and cut into fixed ``seq_len`` sequences, each output row one training
    sequence with its token payload.

    Output: (partition, seq_idx, n_tokens int, n_docs int, text_packed) —
    ``n_docs`` = documents contributing to the sequence, ``n_tokens`` <
    seq_len only for each shard's final (clipped) sequence.

    Scale shape: the same per-shard running-sum window as pack_offsets
    (never a global sort), then each doc EXPLODES into its [first_seq,
    last_seq] fragments — a doc emits ceil(n_tokens/seq_len)+1 rows, so
    the explode is output-sized — and ONE groupBy(seq_idx) reassembles
    fragments in global-offset order (array_sort of (offset, frag)
    structs: sequence payloads are seq_len-bounded, so per-group state is
    tiny and map-side combined)."""
    from pyspark.sql.window import Window

    L = int(seq_len)
    toks = tokens(F.col(text_col))
    w_prev = (
        Window.partitionBy("partition")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = docs.select(
        F.col(partition_col).alias("partition"),
        F.col(id_col).alias("doc_id"),
        toks.alias("_t"),
    ).select(
        "partition", "doc_id", "_t",
        F.size("_t").cast("bigint").alias("n_tokens"),
    ).withColumn(
        "gs",
        F.coalesce(F.sum("n_tokens").over(w_prev), F.lit(0)).cast("bigint"),
    )
    frag = base.select(
        "partition", "gs", "_t", "n_tokens",
        F.explode(
            F.sequence(
                F.expr(f"CAST(gs DIV {L} AS BIGINT)"),
                F.expr(
                    f"CAST((gs + greatest(n_tokens, CAST(1 AS BIGINT)) - 1)"
                    f" DIV {L} AS BIGINT)"
                ),
            )
        ).alias("seq_idx"),
    ).select(
        "partition", "seq_idx", "gs",
        F.expr(
            f"slice(_t, CAST(greatest(gs, seq_idx * {L}) - gs + 1 AS INT),"
            f" CAST(least(gs + n_tokens, (seq_idx + 1) * {L})"
            f" - greatest(gs, seq_idx * {L}) AS INT))"
        ).alias("frag"),
    )
    packed = (
        frag.groupBy("partition", "seq_idx")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gs", "frag"))),
                    lambda x: x["frag"],
                )
            ).alias("_toks"),
            F.count("*").cast("int").alias("n_docs"),
        )
    )
    return packed.select(
        "partition",
        "seq_idx",
        F.size("_toks").alias("n_tokens"),
        "n_docs",
        F.concat_ws(" ", F.col("_toks")).alias("text_packed"),
    )


def pack_best_fit(docs, seq_len: int = 512, partition_col: str = "source",
                  text_col: str = "text", id_col: str = "doc_id",
                  target_pieces_per_shard: int = 100_000):
    """No-split sequence packing by best-fit-decreasing — the bin-packing
    alternative to :func:`pack_offsets`' concat-and-chunk: no document
    crosses a sequence boundary (fewer truncations at the price of some
    padding), the layout used when attention must not bleed across
    document joins.

    Semantics (deterministic): a doc of n tokens contributes
    ``n DIV seq_len`` FULL pieces — each a bin of its own — plus one
    remainder piece of ``n MOD seq_len`` tokens (empty docs count one
    1-token piece, same convention as pack_offsets). Remainder pieces are
    packed within their shard by best-fit-decreasing: descending
    (piece_tokens, doc_id asc) order, each piece into the fullest open
    bin it fits (ties → oldest bin), else a new bin. Packed bins are
    numbered 0.. in creation order; full-piece bins follow, in (doc_id,
    piece_idx) order.

    Scale shape: the greedy is inherently sequential PER SHARD, so shards
    are bounded: documents hash-salt into sub-shards of at most
    ~``target_pieces_per_shard`` pieces (one cheap per-partition count
    derives the salt width), and each sub-shard packs independently in
    one Arrow-batched applyInPandas group — state is O(open bins), the
    pandas fallback every engine accepts for stateful-greedy semantics
    built-ins can't express (same policy as compression_ratio). Salting
    costs a little padding (bins don't mix across sub-shards) and buys
    unbounded parallelism — the identical trade the shard-local sorts in
    the sink make.

    Output: (partition, subshard, doc_id, piece_idx, piece_tokens,
    bin_id, bin_fill) — one row per piece; ``bin_fill`` is the final fill
    of the piece's bin (every row of a bin repeats it, so padding waste =
    seq_len − bin_fill aggregates without a second pass)."""
    import pandas as pd

    L = int(seq_len)
    n = F.size(tokens(F.col(text_col))).cast("int")
    base = docs.select(
        F.col(partition_col).alias("partition"),
        F.col(id_col).alias("doc_id"),
        F.greatest(n, F.lit(1)).alias("n_tokens"),
    )
    # salt width from the LARGEST partition's PIECE count — docs alone
    # undercount by the full-chunk multiplier on long-doc corpora (a
    # 100k-doc shard of 10·L-token docs is ~1.1M pieces); per-doc pieces
    # = n DIV L + (1 if remainder) ≤ n DIV L + 1, summed in the same
    # cheap aggregation
    top = (
        base.groupBy("partition")
        .agg(
            F.sum(
                ((F.col("n_tokens") - F.col("n_tokens") % L) / L).cast("bigint")
                + F.lit(1)
            ).alias("pieces")
        )
        .agg(F.max("pieces").alias("m")).collect()[0]["m"]
    )
    n_sub = max(1, -(-int(top or 0) // int(target_pieces_per_shard)))
    sub = _hash_bucket(F.col("doc_id").cast("string"), n_sub)

    pieces = base.select(
        "partition",
        sub.cast("int").alias("subshard"),
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                ((F.col("n_tokens") - F.col("n_tokens") % L) / L).cast("int")
                - F.when(F.col("n_tokens") % L == 0, 1).otherwise(0),
            )
        ).alias("piece_idx"),
        "n_tokens",
    ).select(
        "partition", "subshard", "doc_id", "piece_idx",
        F.when(
            (F.col("piece_idx") + 1) * L <= F.col("n_tokens"), F.lit(L)
        ).otherwise(F.col("n_tokens") % L).cast("int").alias("piece_tokens"),
    )

    out_schema = (
        "partition string, subshard int, doc_id long, piece_idx int,"
        " piece_tokens int, bin_id long, bin_fill int"
    )

    def _bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        rem = pdf[pdf.piece_tokens < L].sort_values(
            ["piece_tokens", "doc_id", "piece_idx"],
            ascending=[False, True, True],
        )
        fills: list[int] = []          # fill per packed bin, by bin_id
        # ascending (remaining, bin_id): bisect_left((size, -1)) lands on
        # the smallest remaining >= size — the FULLEST bin that fits —
        # and, among equal remainders, the smallest bin_id (oldest bin)
        open_bins: list[tuple[int, int]] = []
        bin_of = {}
        for row in rem.itertuples(index=False):
            size = int(row.piece_tokens)
            i = bisect.bisect_left(open_bins, (size, -1))
            if i < len(open_bins):
                remaining, bid = open_bins.pop(i)
                fills[bid] += size
                if remaining - size > 0:
                    bisect.insort(open_bins, (remaining - size, bid))
            else:
                bid = len(fills)
                fills.append(size)
                if L - size > 0:
                    bisect.insort(open_bins, (L - size, bid))
            bin_of[(row.doc_id, row.piece_idx)] = bid
        n_packed = len(fills)
        full = pdf[pdf.piece_tokens >= L].sort_values(["doc_id", "piece_idx"])
        rows = []
        for row in rem.itertuples(index=False):
            bid = bin_of[(row.doc_id, row.piece_idx)]
            rows.append((row.partition, row.subshard, row.doc_id,
                         row.piece_idx, row.piece_tokens, bid, fills[bid]))
        for j, row in enumerate(full.itertuples(index=False)):
            rows.append((row.partition, row.subshard, row.doc_id,
                         row.piece_idx, row.piece_tokens, n_packed + j, L))
        return pd.DataFrame(rows, columns=[
            "partition", "subshard", "doc_id", "piece_idx", "piece_tokens",
            "bin_id", "bin_fill",
        ])

    return pieces.groupBy("partition", "subshard").applyInPandas(
        _bfd, schema=out_schema
    )


# ---------------------------------------------------------------------------
# URL / domain blocklist filtering (UT1-style curation pass)
# ---------------------------------------------------------------------------

# host = text between :// and the first /, :, ?, # or whitespace.
# Java∩RE2 subset (no lookarounds) so DuckDB extracts identically.
URL_HOST_PATTERN = r"https?://([^/:?#\s]+)"


def extract_domains(text: Column) -> Column:
    """Lower-cased host of every http(s) URL in the text, in order of
    appearance (duplicates kept — one entry per URL occurrence)."""
    urls = F.regexp_extract_all(text, F.lit(PII_URL), 0)
    return F.transform(
        urls, lambda u: F.lower(F.regexp_extract(u, URL_HOST_PATTERN, 1))
    )


def domain_flags(
    docs, blocklist, text_col: str = "text", id_col: str = "doc_id",
):
    """Per-document URL/domain report + blocklist verdict — the UT1-style
    domain-blocklist curation pass. Returns (id, n_urls, n_domains,
    n_blocked, blocked) with integer/bool columns only (oracle-portable).

    ``blocklist`` may be a Python list of domains (compiled into a literal
    array — whole-stage codegen, zero shuffle; right for small curated
    lists) or a DataFrame with a ``domain`` column (real blocklists run to
    millions of rows: the exploded domains join the blocklist on the
    domain key — AQE broadcasts it while it fits and shuffles both sides
    when it doesn't; the corpus text never moves, only (id, domain))."""
    domains = extract_domains(F.col(text_col))
    base = docs.select(
        F.col(id_col), domains.alias("_domains"),
        F.size(domains).cast("int").alias("n_urls"),
        F.size(F.array_distinct(domains)).cast("int").alias("n_domains"),
    )
    if isinstance(blocklist, (list, tuple)):
        arr = F.array(*[F.lit(d.lower()) for d in blocklist])
        n_blocked = F.size(
            F.filter("_domains", lambda d: F.array_contains(arr, d))
        ).cast("int")
        return base.select(
            id_col, "n_urls", "n_domains", n_blocked.alias("n_blocked"),
            (n_blocked > 0).cast("int").alias("blocked"),
        )
    hits = (
        base.select(id_col, F.explode("_domains").alias("domain"))
        .join(blocklist.select(F.lower(F.col("domain")).alias("domain")), "domain")
        .groupBy(id_col)
        .agg(F.count("*").cast("int").alias("n_blocked"))
    )
    return (
        base.drop("_domains")
        .join(hits, id_col, "left")
        .select(
            id_col, "n_urls", "n_domains",
            F.coalesce("n_blocked", F.lit(0)).cast("int").alias("n_blocked"),
            (F.coalesce("n_blocked", F.lit(0)) > 0).cast("int").alias("blocked"),
        )
    )


# ---------------------------------------------------------------------------
# exact corpus quantiles (value-histogram method)
# ---------------------------------------------------------------------------

def exact_quantiles(docs, value_col: str = "n_chars",
                    pcts: tuple = (25, 50, 75, 90, 99)):
    """EXACT percentile_disc-style quantiles of an integer column:
    (pct, value) where value = the smallest v with at least
    ceil(pct/100 * n) rows <= v. Pure integer arithmetic — engine-portable
    with no float interpolation drift.

    Scale shape: groupBy value → counts, then ONE running-sum window over
    the distinct-VALUE histogram. The window is unpartitioned, but it sorts
    the value domain (distinct lengths), not the corpus — bounded by the
    value range regardless of row count, unlike a global sort-based
    percentile. The corpus itself is touched by exactly one map-side-
    combined groupBy."""
    from pyspark.sql import Window

    hist = docs.groupBy(F.col(value_col).alias("v")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("v", F.sum("c").over(w).alias("cum"))
    tot = docs.agg(F.count("*").alias("n"))
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) DIV 100"), F.col("v")
            )
        ).alias(f"p{p}")
        for p in pcts
    ]
    one = cum.crossJoin(F.broadcast(tot)).agg(*picks)
    stack = ", ".join(f"{p}, p{p}" for p in pcts)
    return one.selectExpr(
        f"stack({len(pcts)}, {stack}) as (pct, value)"
    ).select(F.col("pct").cast("int"), F.col("value").cast("bigint"))


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (hashed-unigram importance weights)
# ---------------------------------------------------------------------------

def importance_weights(
    docs, target_docs, n_buckets: int = 4096, alpha: float = 1.0,
    text_col: str = "text", id_col: str = "doc_id",
):
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), hashed-unigram flavor: estimate bucketed unigram
    LMs over the raw corpus and a (small) target corpus, then score every
    raw doc by its log importance ratio
    ``logw = sum_tokens log(p_target(bucket)/p_raw(bucket))`` with
    add-``alpha`` smoothing. Returns (id, n_tokens, logw double).

    Scale shape: two map-side-combined token→bucket groupBys (one per
    corpus), a ``n_buckets``-row log-ratio table (broadcast — thousands of
    rows regardless of corpus size), one tokens⨝ratio join + per-doc sum.
    No corpus-sized sort, no UDFs — crc32 bucketing and log arithmetic are
    whole-stage codegen."""
    def bucket_counts(df):
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("t"))
            .where(F.col("t") != "")
            .select((F.crc32(F.col("t")) % n_buckets).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("c"))
        )

    spark = docs.sparkSession
    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    raw = bucket_counts(docs)
    tgt = bucket_counts(target_docs)
    ratio = (
        buckets.join(raw, "bucket", "left")
        .withColumnRenamed("c", "cr")
        .join(tgt, "bucket", "left")
        .withColumnRenamed("c", "ct")
        .crossJoin(
            F.broadcast(
                raw.agg(F.sum("c").alias("nr"))
                .crossJoin(tgt.agg(F.sum("c").alias("nt")))
            )
        )
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + alpha)
                    / (F.col("nt") + alpha * n_buckets)
                )
                - F.log(
                    (F.coalesce("cr", F.lit(0)) + alpha)
                    / (F.col("nr") + alpha * n_buckets)
                )
            ).alias("logratio"),
        )
    )
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    ).where(F.col("t") != "").select(
        id_col, (F.crc32(F.col("t")) % n_buckets).alias("bucket")
    )
    scored = (
        tok.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum("logratio").alias("logw"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce("logw", F.lit(0.0)).alias("logw"),
        )
    )


def importance_resample(
    docs, target_docs, k: int, seed: int = 17, n_buckets: int = 4096,
    alpha: float = 1.0, text_col: str = "text", id_col: str = "doc_id",
):
    """Sample ``k`` docs WITHOUT replacement with probability proportional
    to the importance weight, via the Gumbel-top-k trick: key =
    logw - ln(-ln(u)) with u a deterministic md5-derived uniform — the
    whole draw is reproducible from ``seed`` and stable under partitioning
    (no Spark RNG). Returns (id, n_tokens, logw, rank). Selection is one
    TakeOrdered heap — no global sort."""
    w = importance_weights(docs, target_docs, n_buckets, alpha, text_col, id_col)
    # u in (0,1): 15 md5 hex digits → [0, 16^15), shift+scale away from {0,1}
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed) + ":"),
                                   F.col(id_col).cast("string"))), 1, 15),
        16, 10,
    ).cast("double")
    u = (h + 1.0) / (float(16 ** 15) + 2.0)
    keyed = w.withColumn("gkey", F.col("logw") - F.log(-F.log(u)))
    topk = keyed.orderBy(F.col("gkey").desc(), F.col(id_col)).limit(k)
    from pyspark.sql import Window

    wr = Window.orderBy(F.col("gkey").desc(), F.col(id_col))
    return topk.select(
        id_col, "n_tokens", "logw",
        F.row_number().over(wr).cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A)
# ---------------------------------------------------------------------------

GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs, text_col: str = "text", id_col: str = "doc_id", *,
    min_words: int = 50, max_words: int = 100_000,
    min_mwl_x100: int = 300, max_mwl_x100: int = 1000,
    min_alpha_ppm: int = 800_000, max_symbol_ppm: int = 100_000,
    min_req_stopwords: int = 2, max_bullet_ppm: int = 900_000,
    max_ellipsis_ppm: int = 300_000, max_dup_line_ppm: int = 300_000,
    max_dup_line_char_ppm: int = 200_000,
):
    """The published Gopher document-quality rule set as integer ppm
    metrics + a single pass flag (Rae et al. 2021, Appendix A — the same
    rules MassiveText, RefinedWeb and FineWeb inherit):

    - 50 ≤ word count ≤ 100 000
    - 3 ≤ mean word length ≤ 10            (×100 fixed point)
    - ≥ 80% of words contain an alphabetic character
    - symbol-to-word ratio ≤ 0.1           ('#' chars + '...' occurrences)
    - ≥ 2 of the 8 required English stop words present
    - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis
    - duplicate-line fraction ≤ 30%; duplicate-line CHAR fraction ≤ 20%

    (The paper's remaining repetition rules — top-n-gram and duplicate
    n-gram char fractions — are covered by :func:`repetition_score` and
    :func:`compression_ratio`; this function carries the word- and
    line-level family.)

    Distributed shape: word metrics are pure array expressions on the
    corpus scan; line metrics are one explode → (doc, line) count →
    per-doc re-aggregate, i.e. a single shuffle keyed by doc — the
    line-table route keeps long documents O(lines), never the O(lines²)
    of array self-matching. Everything integer → full oracle row.

    Output: (id, n_words, mean_word_len_x100, alpha_word_ppm,
    symbol_word_ppm, n_req_stopwords, bullet_line_ppm, ellipsis_line_ppm,
    dup_line_ppm, dup_line_char_ppm, gopher_pass)."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_hash = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit("#"), F.lit(""))
    )
    ellipsis_len_diff = F.length(F.col(text_col)) - F.length(
        F.replace(F.col(text_col), F.lit("..."), F.lit(""))
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])
    n_req = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))

    def fdiv(num, den):
        # exact bigint floor (house rule): subtract the remainder first.
        # BOTH operands go to bigint BEFORE any arithmetic — F.size/counts
        # are int32 and Spark's non-ANSI int multiplication WRAPS silently
        # (n_alpha·1e6 overflows at 2,148 alphabetic words, squarely
        # inside Gopher's 100k-word contract; the DuckDB twin casts to
        # BIGINT, so the wrap was also an oracle divergence)
        num = num.cast("bigint")
        d = F.greatest(den.cast("bigint"), F.lit(1).cast("bigint"))
        return ((num - num % d) / d).cast("bigint")

    def ppm(num, den):
        return fdiv(num.cast("bigint") * F.lit(1_000_000), den)

    # the length diff is always a multiple of 3 (non-overlapping '...'
    # removal), so the quotient is exact
    n_symbols = (n_hash + fdiv(ellipsis_len_diff, F.lit(3))).cast("bigint")
    words = docs.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        fdiv(sum_len.cast("bigint") * 100, n_words).alias("mean_word_len_x100"),
        ppm(n_alpha, n_words).alias("alpha_word_ppm"),
        ppm(n_symbols, n_words).alias("symbol_word_ppm"),
        n_req.cast("int").alias("n_req_stopwords"),
    )

    # line table: empty-after-trim lines are layout, not content — they
    # never count as lines or duplicates
    line = F.trim(F.col("_line"))
    per_line = (
        docs.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("_line")
        )
        .where(line != "")
        .select(
            id_col,
            line.alias("line"),
            line.rlike(r"^[-*•]").cast("bigint").alias("is_bullet"),
            (line.endswith("...") | line.endswith("…"))
            .cast("bigint").alias("is_ellipsis"),
        )
        .groupBy(id_col, "line")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.first("is_bullet").alias("is_bullet"),
            F.first("is_ellipsis").alias("is_ellipsis"),
        )
    )
    dup = F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))
    lines = per_line.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("cnt") * F.length("line")).alias("n_line_chars"),
        F.sum(dup).alias("dup_lines"),
        F.sum(dup * F.length("line")).alias("dup_chars"),
        F.sum(F.col("cnt") * F.col("is_bullet")).alias("bullet_lines"),
        F.sum(F.col("cnt") * F.col("is_ellipsis")).alias("ellipsis_lines"),
    )
    out = words.join(lines, id_col, "left").select(
        id_col, "n_words", "mean_word_len_x100", "alpha_word_ppm",
        "symbol_word_ppm", "n_req_stopwords",
        ppm(F.coalesce("bullet_lines", F.lit(0)), F.coalesce("n_lines", F.lit(0)))
        .alias("bullet_line_ppm"),
        ppm(F.coalesce("ellipsis_lines", F.lit(0)), F.coalesce("n_lines", F.lit(0)))
        .alias("ellipsis_line_ppm"),
        ppm(F.coalesce("dup_lines", F.lit(0)), F.coalesce("n_lines", F.lit(0)))
        .alias("dup_line_ppm"),
        ppm(F.coalesce("dup_chars", F.lit(0)), F.coalesce("n_line_chars", F.lit(0)))
        .alias("dup_line_char_ppm"),
    )
    # thresholds default to the paper's; overridable per corpus the way
    # production curation stacks expose them (synthetic or non-English
    # corpora won't carry the English stop-word set, for example)
    return out.withColumn(
        "gopher_pass",
        (
            (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
            & (F.col("mean_word_len_x100") >= min_mwl_x100)
            & (F.col("mean_word_len_x100") <= max_mwl_x100)
            & (F.col("alpha_word_ppm") >= min_alpha_ppm)
            & (F.col("symbol_word_ppm") <= max_symbol_ppm)
            & (F.col("n_req_stopwords") >= min_req_stopwords)
            & (F.col("bullet_line_ppm") <= max_bullet_ppm)
            & (F.col("ellipsis_line_ppm") <= max_ellipsis_ppm)
            & (F.col("dup_line_ppm") <= max_dup_line_ppm)
            & (F.col("dup_line_char_ppm") <= max_dup_line_char_ppm)
        ),
    )


# paper thresholds for the n-gram repetition family (Rae et al. 2021,
# Appendix A.2 table), in ppm of document token characters:
#   top-{2,3,4}-gram char fraction  <= 0.20 / 0.18 / 0.16
#   dup-{5..10}-gram char fraction  <= 0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10
GOPHER_TOP_NGRAM_MAX_PPM = {2: 200_000, 3: 180_000, 4: 160_000}
GOPHER_DUP_NGRAM_MAX_PPM = {
    5: 150_000, 6: 140_000, 7: 130_000, 8: 120_000, 9: 110_000, 10: 100_000,
}


def gopher_repetition(docs, text_col: str = "text", id_col: str = "doc_id"):
    """The n-gram half of the Gopher repetition rules (Rae et al. 2021,
    Appendix A.2) — the companion to :func:`gopher_quality`'s word/line
    family, completing the published rule set:

    - **top-n-gram char fraction** (n = 2, 3, 4): characters contained in
      occurrences of the document's single most frequent word n-gram, as a
      fraction of total token characters. Ties on count break by longer
      gram then lexicographically-last gram (deterministic where the
      paper's reference counter is insertion-ordered).
    - **duplicate-n-gram char fraction** (n = 5..10): characters contained
      in ANY n-gram that occurs more than once, counting each character
      ONCE even when overlapping duplicate n-grams cover it repeatedly —
      the paper's "taking care not to count characters ... more than once".

    All metrics are integer ppm of the document's total token characters
    (separator whitespace excluded on both sides), so the whole row is a
    DuckDB-oracle-checkable integer surface; ``rep_pass`` applies the
    paper's thresholds (module constants above).

    Distributed shape — MAP-ONLY (r10): the input is already one row per
    document and every metric is a within-document statistic, so the whole
    family is in-row higher-order array math — zero shuffles, zero joins;
    at 100 TB it rides the corpus scan like ``c4_rules``. Per row: ONE
    tokenize, one ``shingles`` pass per n, then each family's grams are
    ``array_sort``-ed and a neighbor scan over the sorted array does what
    a group-by did before — run starts (an element differing from its
    predecessor) delimit the per-gram counts for the top-n pick, and an
    element equal to its sorted neighbor IS a duplicated gram for the
    dup-n families. The top pick is a struct-max over (count, token-chars,
    gram) runs (the deterministic tie-break: count desc, longer gram,
    lexicographically-last); duplicated starts expand to their ≤ n covered
    positions, ``array_distinct`` realizes the overlap-once interval
    union, and a fold over the token-length array sums each covered
    token's chars exactly once. All indexing is ``F.get`` (0-based,
    null-on-out-of-bounds — ANSI-safe where ``element_at`` throws).
    Stages are separate selects so each sorted array materializes once per
    row (CollapseProject keeps non-cheap aliases un-inlined). Everything
    is codegen'd built-ins; no UDF, no window, no driver-side work.
    Skew: a giant document is one long task, not a hot shuffle partition —
    O(m log m) per doc vs the previous two-shuffle shape whose exchange
    carried every singleton n≥5 gram's position list (measured 12.2 s
    median at sf0.1; this shape replaced it after the r9 drift flag —
    three earlier formulations and their measurements are in git history
    at this docstring).

    Output: (id, total_chars, top_2gram_char_ppm, top_3gram_char_ppm,
    top_4gram_char_ppm, dup_5gram_char_ppm .. dup_10gram_char_ppm,
    rep_pass)."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    top_n = sorted(GOPHER_TOP_NGRAM_MAX_PPM)
    dup_n = sorted(GOPHER_DUP_NGRAM_MAX_PPM)

    # HOF DISCIPLINE (r10 hang postmortem): no lambda body may reference a
    # COLUMN — lambdas bind only their own element/index variables, and
    # every array is consumed in ARGUMENT position. Rationale: when column
    # pruning leaves an alias referenced exactly once, Catalyst inlines its
    # defining expression at the use site; inlined into an HOF *argument*
    # that costs one extra evaluation per row, but inlined into a lambda
    # *body* it re-evaluates PER ELEMENT — an indexed F.get(sorted_arr, i)
    # inside a filter turned O(m log m) into O(m^2 log m) and hung the
    # curation pipeline (the standalone plan kept the attributes, so the
    # direct query never showed it). Neighbor logic is therefore expressed
    # as zip_with over SHIFTED COPIES (slice pads the tail comparison with
    # null -> three-valued -> coalesce(false)), and per-run values are
    # harvested with flag-conditional zips + array_compact instead of
    # indexed lookups. The one residual indexed access (token lengths by
    # covered position) binds `_lens`, which is referenced by all six dup
    # families — multi-reference aliases are never single-ref-inlined.
    # tests/test_plan_guard.py pins the pruned-projection plan's
    # array_sort count so a future optimizer change can't regress this.

    def _shift_left(arr):
        # arr[1:], so zip_with(arr, _shift_left(arr), f) pairs each
        # element with its successor (the last pairs with null)
        return F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))

    def _shift_right(arr, fill):
        # [fill] ++ arr[:-1] — aligns each element with its predecessor
        return F.concat(
            F.array(fill),
            F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        )

    # stage 1 — tokenize once; gram arrays built INCREMENTALLY (g_n =
    # g_{n-1} ++ one shifted token slice): 9 zip_with passes total where
    # independent `shingles` calls per family cost sum(n-1) = 44 — HOFs are
    # interpreted, not codegen'd, so pass count is the real cost (measured
    # 4.4 s -> ~1.2 s at sf0.1 for the builds alone). One chained select
    # per n so each gram array is a materialized attribute, computed once.
    all_n = top_n + dup_n
    cur = docs.select(F.col(id_col), toks.alias("_t")).select(
        id_col,
        "_t",
        F.transform("_t", lambda x: F.length(x)).alias("_lens"),
        F.coalesce(
            F.aggregate("_t", F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)),
            F.lit(0).cast("bigint"),
        ).alias("total_chars"),
        shingles(F.col("_t"), all_n[0]).alias(f"_g{all_n[0]}"),
    )
    for n in all_n[1:]:
        sz = F.greatest(F.size("_t") - (n - 1), F.lit(0))
        cur = cur.select(
            "*",
            F.zip_with(
                F.slice(F.col(f"_g{n - 1}"), 1, sz),
                F.slice(F.col("_t"), n, sz),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ).alias(f"_g{n}"),
        )

    # per-family sorted gram arrays. Top families sort bare gram strings;
    # dup families sort (gram, position) structs (array_sort on structs
    # orders by fields, so equal grams are adjacent)
    s1 = cur.select(
        id_col,
        "_lens",
        "total_chars",
        *[F.array_sort(F.col(f"_g{n}")).alias(f"_sg{n}") for n in top_n],
        *[
            F.array_sort(
                F.transform(
                    F.col(f"_g{n}"),
                    lambda g, i: F.struct(g.alias("g"), i.alias("p")),
                )
            ).alias(f"_sp{n}")
            for n in dup_n
        ],
    )

    def _eq_next(arr, key=lambda x: x):
        # eq_next[i] = key(arr[i]) == key(arr[i+1]) (false at the end)
        return F.zip_with(
            arr, _shift_left(arr),
            lambda a, b: F.coalesce(key(a) == key(b), F.lit(False)),
        )

    _BEST_T = "struct<c:bigint,tl:int,g:string>"

    def _best(n):
        # ONE bind-only fold over the sorted gram strings: track (current
        # run length, current gram, best-so-far). A candidate is emitted
        # at EVERY element; a run's intermediate candidates are dominated
        # by its final one (same gram/tl, larger count), so the running
        # struct-max over all candidates equals the max over complete
        # runs. The (count, token-chars, gram) struct-max IS the
        # tie-break; the ' '-joined gram carries exactly n-1 separators.
        sg = F.col(f"_sg{n}")

        def merge(acc, g):
            same = F.coalesce(g == acc["g"], F.lit(False))
            nl = F.when(same, acc["l"] + 1).otherwise(F.lit(1).cast("bigint"))
            cand = F.struct(
                nl.alias("c"),
                (F.length(g) - F.lit(n - 1)).alias("tl"),
                g.alias("g"),
            )
            nb = F.when(
                acc["best"].isNull() | (cand > acc["best"]), cand
            ).otherwise(acc["best"])
            return F.struct(nl.alias("l"), g.alias("g"), nb.alias("best"))

        init = F.struct(
            F.lit(0).cast("bigint").alias("l"),
            F.lit(None).cast("string").alias("g"),
            F.lit(None).cast(_BEST_T).alias("best"),
        )
        return F.aggregate(sg, init, merge, lambda acc: acc["best"])

    def _dup_starts(n):
        # original positions of grams equal to a sorted neighbor (count>1)
        sp = F.col(f"_sp{n}")
        eqn = _eq_next(sp, key=lambda x: x["g"])
        eq_prev = _shift_right(eqn, F.lit(False))
        dup_flag = F.zip_with(eqn, eq_prev, lambda a, b: a | b)
        return F.array_compact(
            F.zip_with(sp, dup_flag, lambda e, f: F.when(f, e["p"]))
        )

    # stage 2 — per-family run maxima and duplicated starts (stage-1
    # arrays referenced in argument position only)
    s2 = s1.select(
        id_col, "_lens", "total_chars",
        *[_best(n).alias(f"_top{n}") for n in top_n],
        *[_dup_starts(n).alias(f"_ds{n}") for n in dup_n],
    )

    def _dup_chars(n: int):
        # duplicated n-gram starts -> covered positions -> distinct union
        # -> fold token chars; each char counted once per the paper. The
        # `_lens` bind inside the fold is the documented exception above.
        cov = F.array_distinct(
            F.flatten(
                F.transform(
                    F.col(f"_ds{n}"), lambda p: F.sequence(p, p + F.lit(n - 1))
                )
            )
        )
        return F.aggregate(
            cov,
            F.lit(0).cast("bigint"),
            lambda a, p: a + F.get(F.col("_lens"), p),
        )

    # stage 3 — per-family scalars
    s3 = s2.select(
        id_col, "total_chars",
        *[F.col(f"_top{n}") for n in top_n],
        *[_dup_chars(n).alias(f"_dc{n}") for n in dup_n],
    )

    def ppm(c):
        # exact bigint floor (house rule, same as gopher_quality's fdiv):
        # remainder-subtract instead of floor(double division), so the
        # quotient can never drift from DuckDB's integer // at any scale
        num = F.coalesce(c, F.lit(0)).cast("bigint") * F.lit(1_000_000)
        den = F.greatest(F.col("total_chars").cast("bigint"), F.lit(1).cast("bigint"))
        return ((num - num % den) / den).cast("bigint")

    out = s3.select(
        id_col,
        "total_chars",
        *[
            ppm(F.col(f"_top{n}.c") * F.col(f"_top{n}.tl")).alias(
                f"top_{n}gram_char_ppm"
            )
            for n in top_n
        ],
        *[ppm(F.col(f"_dc{n}")).alias(f"dup_{n}gram_char_ppm") for n in dup_n],
    )
    passed = F.lit(True)
    for n, thr in GOPHER_TOP_NGRAM_MAX_PPM.items():
        passed = passed & (F.col(f"top_{n}gram_char_ppm") <= thr)
    for n, thr in GOPHER_DUP_NGRAM_MAX_PPM.items():
        passed = passed & (F.col(f"dup_{n}gram_char_ppm") <= thr)
    return out.withColumn("rep_pass", passed)


# ---------------------------------------------------------------------------
# C4 heuristic cleaning rules (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

def c4_rules(
    docs, text_col: str = "text", id_col: str = "doc_id", *,
    min_words_per_line: int = 5, min_sentences: int = 3,
    blocked_phrases: tuple[str, ...] = ("lorem ipsum",),
    kept_text: bool = False,
):
    """The published C4 line/page cleaning heuristics (Raffel et al. 2020
    §2.2 — the web-cleaning stack Gopher/MassiveText cite as prior art;
    together with :func:`gopher_quality` / :func:`gopher_repetition` this
    completes both published filter families end-to-end):

    - a LINE is retained iff (after trim) it ends in a terminal
      punctuation mark (``. ! ? "``), contains ≥ 5 words, and does not
      contain the word "javascript" (case-insensitive);
    - a PAGE is dropped if it contains a curly bracket ``{`` (code), any
      blocked phrase ("lorem ipsum" by default), or fewer than 3
      sentences after line cleaning.

    One documented deviation: C4 counted sentences with an NLTK sentence
    splitter; this engine counts terminal-punctuation marks (``. ! ?``)
    in the retained lines — deterministic, engine-portable, and a strict
    upper bound on the NLTK count (abbreviation periods over-count), so
    the ≥3-sentences rule is marginally more permissive on abbreviation-
    heavy pages. The bad-words list is a corpus-policy input, not code:
    pass it via ``blocked_phrases``.

    Distributed shape: pure higher-order array expressions on the corpus
    scan — split/transform/filter/aggregate, zero shuffles, zero UDFs,
    whole-stage codegen end to end. At 100 TB this is a map-only pass.

    Output: (id, n_lines, n_lines_kept, kept_chars, n_sentences,
    has_brace, has_blocked, c4_keep) — all integer/boolean, full oracle
    row. ``kept_text=True`` appends ``c4_text`` — the cleaned page, the
    newline-join of the retained lines (excluded from the oracle gate
    entry only to keep the hashed row narrow)."""
    # single-arg lambda on purpose: transform(arr, F.trim) would bind the
    # element INDEX as trim's optional second (trim-chars) parameter.
    # Split consumes an optional \r so CRLF text can't leave a trailing
    # \r on the element (trim strips spaces only); the line-keep anchor
    # below is \z (end of TEXT) because Java's $ also matches before a
    # trailing unicode line separator where RE2's does not — both choices
    # keep the DuckDB twin byte-for-byte
    lines = F.transform(F.split(F.col(text_col), r"\r?\n"), lambda l: F.trim(l))
    # layout-only blank lines are not content lines (same convention as
    # gopher_quality's line table)
    content = F.filter(lines, lambda l: l != "")

    def _n_words(l):
        return F.size(F.filter(F.split(l, r"\s+"), lambda x: x != ""))

    kept = F.filter(
        content,
        lambda l: l.rlike(r'[.!?"]\z')
        & (_n_words(l) >= min_words_per_line)
        & ~F.lower(l).contains("javascript"),
    )
    kt = F.array_join(kept, "\n")
    # count of . ! ? in the retained lines == sentences (see docstring)
    n_sent = F.length(kt) - F.length(F.translate(kt, ".!?", ""))
    has_blocked = F.lit(False)
    for p in blocked_phrases:
        has_blocked = has_blocked | F.lower(F.col(text_col)).contains(p.lower())
    out = docs.select(
        F.col(id_col),
        F.size(content).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_lines_kept"),
        F.length(kt).cast("bigint").alias("kept_chars"),
        n_sent.cast("int").alias("n_sentences"),
        F.col(text_col).contains("{").alias("has_brace"),
        has_blocked.alias("has_blocked"),
        *([kt.alias("c4_text")] if kept_text else []),
    )
    return out.withColumn(
        "c4_keep",
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_brace")
        & ~F.col("has_blocked"),
    )


# ---------------------------------------------------------------------------
# hashed-bigram LM perplexity filter (CCNet-style quality gate)
# ---------------------------------------------------------------------------

def _hash_bucket(col: Column, n_buckets: int) -> Column:
    """First 8 md5 hex digits as a bigint, mod ``n_buckets`` — the
    engine-portable token hash (DuckDB: ``('0x' || substr(md5(x),1,8))
    ::BIGINT % B``). 8 hex digits < 2^32 so signedness never bites."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % n_buckets


def _doc_bigram_buckets(docs, n_buckets: int, text_col: str, id_col: str):
    """(id, pb, cb): one row per adjacent token transition, both sides
    hashed into ``n_buckets``. Built array-side (bucket the token array
    once, zip two shifted slices) so the explode is the only row
    amplification — no per-token join."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    bk = F.transform(toks, lambda x: _hash_bucket(x, n_buckets))
    n1 = F.greatest(F.size(bk) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(bk, 1, n1),
        F.slice(bk, F.lit(2), n1),
        lambda a, b: F.struct(a.alias("pb"), b.alias("cb")),
    )
    return (
        docs.select(F.col(id_col), F.explode(pairs).alias("bg"))
        .select(id_col, F.col("bg.pb").alias("pb"), F.col("bg.cb").alias("cb"))
        # pb/cb are never null (hash of a non-null token) — the explicit
        # filter makes the c_bi and c_ctx lineages byte-identical below
        # their exchanges, so ReuseExchange collapses the two reference-
        # corpus scans in lm_bits_per_token into one
        .where(F.col("pb").isNotNull() & F.col("cb").isNotNull())
    )


def lm_bits_per_token(docs, ref_docs, n_buckets: int = 4096,
                      text_col: str = "text", id_col: str = "doc_id"):
    """Integer perplexity proxy: mean Shannon code length (bits/token)
    of each document under an add-one-smoothed hashed-bigram LM trained
    on ``ref_docs`` — the CCNet/Gopher "perplexity under a clean-corpus
    LM" quality signal (Wenzek et al. 2020), made engine-portable by
    quantizing each −log2 p to integer bits:

        p(cur | prev) = (c(pb,cb) + 1) / (c(pb) + B)
        bits          = fl2(c(pb) + B) − fl2(c(pb,cb) + 1)

    with fl2(x) = floor(log2 x) = length(bin(x)) − 1 — exact integer in
    both engines, within 1 bit/token of the true code length. log2
    perplexity IS bits per token, so the ppm-scaled mean ranks documents
    the way a perplexity filter does (fluent text reuses frequent
    reference transitions → short codes; gibberish hits unseen buckets →
    pays ~fl2(c(pb)+B) bits).

    Distributed shape: the model is two count relations keyed by hash
    bucket — ≤ B rows (contexts) and ≤ B² rows (bigrams) REGARDLESS of
    reference-corpus size, so at 100 TB the train pass is one groupBy of
    the reference's transitions and scoring is two bounded-size equi-joins
    (AQE broadcasts them when small) + one per-doc partial agg. No
    all-corpus shuffle, no UDFs, pure codegen.

    Output: (id, n_bigrams int, bits_ppm bigint); docs with < 2 tokens
    score n_bigrams = 0, bits_ppm = 0 (no evidence — callers decide)."""
    bi = (
        _doc_bigram_buckets(ref_docs, n_buckets, text_col, id_col)
        .groupBy("pb", "cb")
        .agg(F.count("*").cast("bigint").alias("c_bi"))
    )
    ctx = bi.groupBy("pb").agg(F.sum("c_bi").cast("bigint").alias("c_ctx"))

    def fl2(c):
        return F.length(F.bin(c)) - 1

    scored = (
        _doc_bigram_buckets(docs, n_buckets, text_col, id_col)
        .join(bi, ["pb", "cb"], "left")
        .join(ctx, ["pb"], "left")
        .select(
            id_col,
            (
                fl2(F.coalesce("c_ctx", F.lit(0)) + F.lit(n_buckets))
                - fl2(F.coalesce("c_bi", F.lit(0)) + F.lit(1))
            ).cast("bigint").alias("bits"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.sum("bits").cast("bigint").alias("total_bits"),
        )
    )
    num = F.lit(1_000_000) * F.col("total_bits")
    # exact bigint floor (house rule): subtract the remainder before the
    # divide so the quotient is integral — no double-rounding drift vs
    # DuckDB's integer `//` (values < 2^53, exactly representable)
    ppm = ((num - num % F.col("n_bigrams")) / F.col("n_bigrams")).cast("bigint")
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("int").alias("n_bigrams"),
        F.coalesce(ppm, F.lit(0)).cast("bigint").alias("bits_ppm"),
    )


def perplexity_filter(docs, ref_docs, max_bits_ppm: int,
                      n_buckets: int = 4096, text_col: str = "text",
                      id_col: str = "doc_id"):
    """Corpus quality gate on :func:`lm_bits_per_token`: ``kept`` = the
    document has ≥ 1 transition and its bits/token (ppm) under the
    reference LM is ≤ ``max_bits_ppm``. Returns every input id with its
    score and verdict (callers semi-join to materialize the kept set, so
    the funnel can report both sides)."""
    s = lm_bits_per_token(docs, ref_docs, n_buckets, text_col, id_col)
    return s.select(
        id_col, "n_bigrams", "bits_ppm",
        ((F.col("n_bigrams") > 0) & (F.col("bits_ppm") <= max_bits_ppm))
        .alias("kept"),
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction (map-reduce pair counting, Sennrich et al. 2016)
# ---------------------------------------------------------------------------

def _merge_pair_expr(syms: Column, a: str, b: str) -> Column:
    """Greedy leftmost non-overlapping merge of adjacent (a, b) -> a+b in a
    symbol array — one codegen fold, no UDF. The fold appends each symbol
    unless the running output ends with ``a`` and the next symbol is ``b``,
    in which case the tail is replaced by the merged symbol; because the
    merged symbol differs from a bare ``a`` match-state never leaks across
    a merge, giving exactly BPE's leftmost-first semantics."""
    merged = F.lit(a + b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_symbol_table(docs, text_col: str = "text"):
    """Distinct whitespace words with corpus counts, each split into its
    character symbols + the </w> end-of-word marker — the working set BPE
    training iterates over. Corpus-size-independent once built: the table
    is DISTINCT-WORD-sized (one explode+groupBy pass over the corpus, the
    only pass that ever touches the documents)."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            "w", "cnt",
            F.concat(
                F.split(F.col("w"), ""), F.array(F.lit("</w>"))
            ).alias("syms"),
        )
    )


def learn_bpe_merges(
    docs, n_merges: int = 10, text_col: str = "text", min_count: int = 2,
):
    """Learn a BPE merge table from the corpus (Sennrich et al. 2016,
    arXiv:1508.07909), map-reduce flavor: per round, count adjacent symbol
    pairs weighted by word frequency (explode + groupBy over the
    distinct-word symbol table), pick the argmax with a DETERMINISTIC
    tie-break (count desc, then (left, right) lexicographic), and rewrite
    the symbol table with one codegen fold. Returns the merge list
    [(rank, left, right, pair_count)] as plain Python (it IS the learned
    artifact — vocabulary-sized, driver-held by design).

    Scale: the corpus is touched ONCE (word counting); every round then
    runs over distinct words only — the classic reason BPE training is
    feasible on terabyte corpora. n_merges rounds = n_merges bounded
    shuffles of the word table; the table is localCheckpoint'd every few
    rounds to cut the growing fold-expression lineage."""
    words = word_symbol_table(docs, text_col).localCheckpoint()
    merges = []
    for rank in range(n_merges):
        pairs = (
            words.select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .where(F.col("c") >= min_count)
        )
        top = pairs.orderBy(F.col("c").desc(), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], top[0]["c"]
        merges.append((rank, l, r, int(c)))
        words = words.select(
            "w", "cnt", _merge_pair_expr(F.col("syms"), l, r).alias("syms")
        )
        if (rank + 1) % 4 == 0:
            words = words.localCheckpoint()
    return merges


def apply_bpe(docs, merges, text_col: str = "text", id_col: str = "doc_id"):
    """Tokenize with a learned merge table: chars+</w> then the merges in
    rank order, each one codegen fold — the whole encoder is a single
    projection, no UDF, no shuffle. Returns (id, bpe_tokens array<string>,
    n_bpe_tokens)."""
    words = tokens(F.col(text_col))
    enc = F.transform(
        words,
        lambda w: F.concat(F.split(w, ""), F.array(F.lit("</w>"))),
    )
    def _merge_pass(arr, l, r):
        # closure factory: binding l/r via lambda default-args would change
        # the lambda's ARITY, which PySpark reads as the higher-order
        # function's argument count (same trap as F.filter's index param)
        return F.transform(arr, lambda s: _merge_pair_expr(s, l, r))

    for _rank, l, r, *_ in merges:
        enc = _merge_pass(enc, l, r)
    flat = F.flatten(enc)
    return docs.select(
        F.col(id_col),
        flat.alias("bpe_tokens"),
        F.size(flat).cast("int").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# training-order shuffle + sharding
# ---------------------------------------------------------------------------

def shard_and_shuffle(
    docs, n_shards: int = 16, seed: int = 7, id_col: str = "doc_id",
):
    """Deterministic global training-order shuffle, expressed as shard
    assignment + within-shard position — the standard way a 100 TB corpus
    is "shuffled": an md5(seed, id) sort key makes the order reproducible
    and growth-stable per seed, sharding turns the global sort into
    ``n_shards`` independent per-shard sorts (one hash shuffle + a
    partitioned window — no single global sort task; shard count scales
    with the corpus). Returns (id, shard int, pos bigint) where pos is the
    0-based training position within the shard."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    with_shard = docs.select(
        F.col(id_col),
        key.alias("_key"),
        (
            F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % n_shards
        ).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("_key", id_col)
    return with_shard.select(
        id_col, "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization (r11): the re-crawl dedup key
# ---------------------------------------------------------------------------

#: query parameters that never change page identity (tracking noise); the
#: standard crawler-dedup strip list
URL_TRACKING_PARAM_PREFIXES = ("utm_", "fbclid", "gclid")


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL — the key a crawler
    pipeline dedups re-crawls on (two spellings of one page must collapse
    BEFORE content dedup ever sees them):

      1. scheme and host lowercased; userinfo dropped;
      2. default port stripped (:80 for http, :443 for https);
      3. fragment dropped;
      4. empty path becomes "/" (path otherwise untouched — aggressive
         path rewriting changes identity on real sites);
      5. query parameters sorted bytewise, empty and tracking parameters
         (URL_TRACKING_PARAM_PREFIXES) dropped; an emptied query loses
         its "?".

    Pure codegen (regexp/split/array_sort/concat — Java∩RE2 regex subset
    like every text op here), so it canonicalizes at scan throughput; the
    identical chain is expressible in ANSI SQL, which the url_canonicalize
    driver entry hash-gates cross-engine."""
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    rest = F.regexp_replace(
        F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", ""),
        r"#.*$",
        "",
    )
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    host = F.lower(F.regexp_replace(hostport, r"^[^@]*@", ""))
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, r":80$", ""),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, r":443$", ""),
    ).otherwise(host)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    drop = F.array(*[F.lit(p) for p in URL_TRACKING_PARAM_PREFIXES])
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~F.exists(drop, lambda d: p.startswith(d)),
        )
    )
    q2 = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q2 != "", F.concat(F.lit("?"), q2)).otherwise(F.lit("")),
    )

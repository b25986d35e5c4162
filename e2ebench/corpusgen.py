"""Seeded document corpus for the curation workload.

English-like documents over a synthetic vocabulary (the gate's English
stopwords mixed into content words), so every base document passes the
quality, language and compressibility gates of ``curate_and_write``. At
seeded positions the generator plants:

- exact copies of earlier documents (the text byte-identical, or differing
  only in whitespace the normalizer collapses);
- near-duplicate mutations (a few tokens replaced; word-3-gram Jaccard
  stays far above the 0.7 near-dup threshold);
- benchmark overlaps: documents that embed a 12-token span of one of the
  benchmark stand-in documents (doc_id below ``BENCHMARK_MAX_ID``), which
  shares several 8-grams with it, so decontamination must drop them.

The planted counts are the ground truth the curation funnel is checked
against.
"""

from __future__ import annotations

import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

#: curation treats doc_id < 10 as the benchmark stand-in set
BENCHMARK_MAX_ID = 10
_STOP = ("the", "and", "of", "to", "in")
_SOURCES = ("web", "books", "code_docs", "forums")


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        k = rng.randint(3, 9)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(k)))
    return sorted(words)


def generate(seed: int, n_docs: int) -> tuple[pa.Table, dict[str, int]]:
    """(documents table, planted counts). Same seed → same bytes."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    texts: list[str] = []
    kinds: list[str] = []
    planted = {"exact_copies": 0, "near_dups": 0, "bench_overlaps": 0}

    def fresh() -> list[str]:
        n = rng.randint(60, 160)
        content = rng.choices(vocab, weights=weights, k=n)
        return [rng.choice(_STOP) if rng.random() < 0.3 else w for w in content]

    for i in range(n_docs):
        r = rng.random()
        # originals eligible as sources: fresh documents past the benchmark ids
        if i >= 2 * BENCHMARK_MAX_ID and r < 0.05:
            src = texts[rng.choice([j for j in range(BENCHMARK_MAX_ID, i)
                                    if kinds[j] == "fresh"][-500:])]
            texts.append(src if rng.random() < 0.5 else src.replace(" ", "  ", 3))
            kinds.append("exact")
            planted["exact_copies"] += 1
        elif i >= 2 * BENCHMARK_MAX_ID and r < 0.10:
            toks = texts[rng.choice([j for j in range(BENCHMARK_MAX_ID, i)
                                     if kinds[j] == "fresh"][-500:])].split(" ")
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts.append(" ".join(toks))
            kinds.append("near")
            planted["near_dups"] += 1
        elif i >= 2 * BENCHMARK_MAX_ID and r < 0.12:
            bench = texts[rng.randrange(BENCHMARK_MAX_ID)].split(" ")
            at = rng.randrange(len(bench) - 12)
            toks = fresh()
            cut = rng.randrange(len(toks))
            texts.append(" ".join(toks[:cut] + bench[at:at + 12] + toks[cut:]))
            kinds.append("overlap")
            planted["bench_overlaps"] += 1
        else:
            texts.append(" ".join(fresh()))
            kinds.append("fresh")
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [_SOURCES[i % len(_SOURCES)] for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, planted


def write(path: str, seed: int, n_docs: int) -> dict[str, int]:
    table, planted = generate(seed, n_docs)
    pq.write_table(table, path)
    return planted


def check_funnel(manifest: dict, planted: dict[str, int], n_docs: int) -> list[str]:
    """Mismatches between a curate manifest's funnel and the planted truth."""
    f = manifest.get("funnel", {})
    errs = []
    if f.get("ingested") != n_docs:
        errs.append(f"ingested {f.get('ingested')} != {n_docs}")
    if f.get("after_quality_gate") != n_docs:
        errs.append(f"quality gate dropped {n_docs - f.get('after_quality_gate', 0)} docs")
    exact_drop = f.get("after_quality_gate", 0) - f.get("after_exact_dedup", 0)
    if exact_drop < planted["exact_copies"]:
        errs.append(f"exact dedup dropped {exact_drop} < planted {planted['exact_copies']}")
    decon_drop = f.get("after_near_dedup", 0) - f.get("after_decontamination", 0)
    if decon_drop < planted["bench_overlaps"]:
        errs.append(f"decontamination dropped {decon_drop} < planted {planted['bench_overlaps']}")
    rows = sum(s["n_rows"] for s in manifest.get("shards", []))
    if rows != f.get("after_decontamination"):
        errs.append(f"shards hold {rows} rows != funnel {f.get('after_decontamination')}")
    return errs

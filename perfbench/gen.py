"""Seeded input generators for the workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs.  Size-shaping quantities (page lengths, duplicate
rates) are drawn by stratified quantiles and then shuffled by the seed, so
every seed has the same size distribution and only the content and order
move.  That keeps run-to-run spread down to the program's own noise.

Inputs are written with pyarrow (no Spark) under a cache directory keyed
by kind, seed and size; ``meta.json`` beside them records the input size
and why the workload was chosen.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 16
_INV = statistics.NormalDist().inv_cdf


def vocabulary(n: int = 3000):
    """Deterministic lowercase pseudo-words (no markup characters, so a
    page's text survives rendering and parsing byte for byte)."""
    syl = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "do",
           "ba", "gu", "shi", "zo", "fe", "ny", "qu", "wa", "xi", "he"]
    rng = random.Random(1234)
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(1, 4))))
    return sorted(words)


VOCAB = vocabulary()


def lognormal_quantiles(n, median, sigma, lo, hi, rng):
    """``n`` stratified draws of a clipped log-normal, shuffled by ``rng``."""
    vals = [
        min(hi, max(lo, round(median * math.exp(sigma * _INV((i + 0.5) / n)))))
        for i in range(n)
    ]
    rng.shuffle(vals)
    return vals


def _write_parts(table: pa.Table, out_dir: str, sizes):
    """One parquet file per entry of ``sizes``, of consecutive rows."""
    os.makedirs(out_dir, exist_ok=True)
    start = 0
    for i, size in enumerate(sizes):
        if size:
            pq.write_table(table.slice(start, size),
                           os.path.join(out_dir, f"part-{i:03d}.parquet"))
        start += size


def even_sizes(n: int, n_files: int):
    base, extra = divmod(n, n_files)
    return [base + (i < extra) for i in range(n_files)]


def cached(cache_root: str, kind: str, seed: int, size: int, build):
    """Return (input dir, meta, seconds spent).  ``build(tmp_dir, seed,
    size)`` writes the inputs and returns the meta dict; it runs only when
    no complete copy is cached."""
    t0 = time.perf_counter()
    path = os.path.join(cache_root, "inputs", f"{kind}-s{seed}-n{size}")
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp, seed, size)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        # write back now rather than while the workload is being timed
        os.sync()
    with open(meta_path) as f:
        meta = json.load(f)
    meta["cached_input_build_s"] = time.perf_counter() - t0
    return path, meta


# ---------------------------------------------------------------------------
# pages: extract
# ---------------------------------------------------------------------------

#: median tokens per page and log-normal spread: about 20 blocks on the
#: median page, several hundred at the clipped tail.  These are assumed
#: values, not fitted to a crawl: they make a heavy tail of page sizes, which
#: is the shape the extract workload needs, and no page corpus ships with
#: the program to fit them to.
PAGE_MEDIAN_TOKENS = 100
PAGE_SIGMA = 1.1
PAGE_MIN_TOKENS = 8
PAGE_MAX_TOKENS = 3000


def page_texts(seed: int, n: int, n_files: int = N_FILES):
    """Page texts, one list per file.  Lengths are dealt to the files in
    snake order, largest first, so every file (and every scan task made of
    files) carries the same work whatever the seed; the seed shuffles pages
    within a file."""
    rng = random.Random(seed)
    lengths = sorted(lognormal_quantiles(
        n, PAGE_MEDIAN_TOKENS, PAGE_SIGMA, PAGE_MIN_TOKENS, PAGE_MAX_TOKENS,
        rng,
    ), reverse=True)
    files = [[] for _ in range(n_files)]
    for i, k in enumerate(lengths):
        row, col = divmod(i, n_files)
        files[col if row % 2 == 0 else n_files - 1 - col].append(k)
    for f in files:
        rng.shuffle(f)
    return [[" ".join(rng.choices(VOCAB, k=k)) for k in f] for f in files]


def page_doc_ids(seed: int, n: int):
    base = (seed % 1000) * 1_000_000
    return [base + i for i in range(n)]


def build_pages(out_dir: str, seed: int, n: int, why: str):
    from layout_parser_spark.sources.pages import page_url, render_page_html

    per_file = page_texts(seed, n)
    texts = [t for f in per_file for t in f]
    ids = page_doc_ids(seed, n)
    html = [render_page_html(d, t).encode("utf-8") for d, t in zip(ids, texts)]
    blocks = [html_blocks(h) for h in html]
    table = pa.table({
        "url": [page_url(d) for d in ids],
        "warc_ts": pa.array([1_704_067_200_000_000 + d for d in ids],
                            pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": texts,
        "lang": ["en"] * n,
        "doc_id": pa.array(ids, pa.int64()),
    })
    _write_parts(table, os.path.join(out_dir, "pages"),
                 [len(f) for f in per_file])
    q = statistics.quantiles(blocks, n=100)
    return {
        "kind": "pages",
        "why": why,
        "docs": n,
        "html_mb": sum(len(h) for h in html) / 1e6,
        "text_mb": sum(len(t.encode()) for t in texts) / 1e6,
        "blocks_per_page": {"min": min(blocks), "p50": q[49], "p90": q[89],
                            "p99": q[98], "max": max(blocks),
                            "total": sum(blocks)},
        "files": N_FILES,
    }


def html_blocks(html: bytes) -> int:
    return html.count(b"data-box=")


# ---------------------------------------------------------------------------
# corpus: curate
# ---------------------------------------------------------------------------

#: shares of the corpus rows; the rest are unique documents.  Assumed
#: values, not measured on a crawl: each stage of the funnel gets a share
#: large enough to count and to check, and the near-duplicate chains give
#: connected components multi-hop graphs to label.
REFETCH_FRAC = 0.10
EXACT_FRAC = 0.10
CHAIN_FRAC = 0.20
CHAIN_LEN = (2, 6)
#: share of tokens replaced per chain step (at least one): about 0.83
#: Jaccard between neighbours, so consecutive members pair and distant
#: ones may not
CHAIN_EDIT = 0.03
REFETCH_DECOR = (
    "?utm_source=news&utm_medium=mail",
    "?gclid=abc123",
    "#comments",
    "?ref=home&fbclid=x9",
)


def corpus_rows(seed: int, n: int):
    """Rows (url, warc_ts, text) plus ground truth.  Built from unique base
    documents, near-duplicate chains hanging off some of them, exact copies
    under new URLs, and re-fetches of existing URLs with tracking
    parameters and a later timestamp."""
    rng = random.Random(seed)
    n_refetch = int(n * REFETCH_FRAC)
    n_exact = int(n * EXACT_FRAC)
    n_chain = int(n * CHAIN_FRAC)
    n_fresh = n - n_refetch - n_exact  # rows with a URL of their own
    # tokens per document: log-normal, median 80, clipped 20..600 (assumed)
    lengths = lognormal_quantiles(n_fresh, 80, 0.6, 20, 600, rng)
    texts = []
    chains = 0
    i = 0
    while len(texts) < n_fresh:
        if len(texts) < n_chain:
            k = min(rng.randint(*CHAIN_LEN), n_chain - len(texts))
            toks = rng.choices(VOCAB, k=lengths[i])
            chains += 1
            for _ in range(k):
                texts.append(" ".join(toks))
                toks = list(toks)
                edits = max(1, round(CHAIN_EDIT * len(toks)))
                for pos in rng.sample(range(len(toks)), edits):
                    shift = rng.randrange(1, len(VOCAB))
                    toks[pos] = VOCAB[(VOCAB.index(toks[pos]) + shift)
                                      % len(VOCAB)]
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=lengths[i])))
        i += 1
    texts = texts[:n_fresh]
    if len(set(texts)) != len(texts):
        raise ValueError("generator produced a repeated text; change VOCAB")
    site = seed % 1000
    urls = [f"https://host{j % 53}.example.org/s{site}/doc/{j}"
            for j in range(n_fresh)]
    ts = [1_704_067_200_000_000 + 1_000_000 * j for j in range(n_fresh)]
    rows = list(zip(urls, ts, texts))
    for j in range(n_exact):
        src = rng.randrange(n_fresh)
        rows.append((f"https://mirror{j % 7}.example.net/s{site}/copy/{j}",
                     ts[-1] + 1_000_000 * (j + 1), texts[src]))
    fresh_and_copies = len(rows)
    for j in range(n_refetch):
        src = rng.randrange(fresh_and_copies)
        url, t, text = rows[src]
        rows.append((url + REFETCH_DECOR[j % len(REFETCH_DECOR)],
                     t + 86_400_000_000 * (j + 1), text))
    rng.shuffle(rows)
    truth = {
        "n_input": n,
        "url_keep": fresh_and_copies,
        "exact_keep": n_fresh,
        "refetches": n_refetch,
        "exact_copies": n_exact,
        "chain_rows": n_chain,
        "chains": chains,
        "unique_rows": n_fresh - n_chain,
    }
    return rows, truth


def build_corpus(out_dir: str, seed: int, n: int, why: str):
    rows, truth = corpus_rows(seed, n)
    table = pa.table({
        "url": [r[0] for r in rows],
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "lang": ["en"] * len(rows),
        "extracted_text": [r[2] for r in rows],
        "n_blocks": pa.array([1 + len(r[2]) // 60 for r in rows], pa.int32()),
    })
    _write_parts(table, os.path.join(out_dir, "corpus"),
                 even_sizes(table.num_rows, 8))
    return {
        "kind": "corpus",
        "why": why,
        "docs": n,
        "text_mb": sum(len(r[2].encode()) for r in rows) / 1e6,
        "truth": truth,
        "rates": {"refetch": REFETCH_FRAC, "exact_copy": EXACT_FRAC,
                  "near_dup_chain": CHAIN_FRAC,
                  "unique": 1 - REFETCH_FRAC - EXACT_FRAC - CHAIN_FRAC},
    }


# ---------------------------------------------------------------------------
# layout tables: the columns the layout queries of __spark_entry__ read
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "error", "scroll", "share"]


def build_layout(out_dir: str, seed: int, n: int, why: str):
    """``n`` lineitem rows, n/2 events and n/4 orders, with the schemas
    and value ranges of the test fixtures.  ``value`` carries exactly two
    decimals, which the OCR aggregation query relies on for exact sums."""
    rng = random.Random(seed)
    n_li, n_ev, n_od = n, n // 2, n // 4
    n_users = max(10, n_ev // 40)
    li = pa.table({
        "l_orderkey": pa.array([rng.randrange(n_od) for _ in range(n_li)],
                               pa.int64()),
        "l_linenumber": pa.array([1 + i % 7 for i in range(n_li)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_li)],
        "l_extendedprice": [rng.randint(90_000, 10_000_000) / 100
                            for _ in range(n_li)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_li)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_li)],
    })
    ev = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [rng.randint(1, 10_000) / 100 for _ in range(n_ev)],
    })
    od = pa.table({
        "o_orderkey": pa.array(range(n_od), pa.int64()),
        "o_totalprice": [rng.randint(100_000, 50_000_000) / 100
                         for _ in range(n_od)],
    })
    for name, t in (("lineitem", li), ("events", ev), ("orders", od)):
        _write_parts(t, os.path.join(out_dir, f"{name}.parquet"),
                     even_sizes(t.num_rows, 4))
    return {
        "kind": "layout",
        "why": why,
        "docs": n_li + n_ev + n_od,
        "rows": {"lineitem": n_li, "events": n_ev, "orders": n_od},
        "users": n_users,
    }

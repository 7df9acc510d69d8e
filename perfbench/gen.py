"""Seeded input generator for the benchmark workloads.

Inputs are a pure function of ``(workload, seed, docs)``: the same seed
writes the same bytes.  Generation runs in the benchmark process before
any Spark session exists, is never timed, and ends with ``os.sync()`` so
its page-cache writeback is not billed to a later timed region.

Each workload directory gets a ``manifest.json`` recording what was
written and the input properties the program's behaviour depends on:
planted-duplicate share, boilerplate-line share, and the distinct token
and trigram counts measured against the models' memo cap
(``ArpaLM._MEMO_CAP`` / ``FastTextModel._MEMO_CAP``).
"""

from __future__ import annotations

import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from dqmtools_spark.functions.models import ArpaLM, FastTextModel, tokenize
from dqmtools_spark.functions.textproc import extract_text
from dqmtools_spark.sources.warc import write_warc_gz
from dqmtools_spark.synth import _BOILERPLATE, gen_page

# synth pages repeat this line in ~35% of documents
BOILERPLATE_LINE = _BOILERPLATE
SAMPLE_DOCS = 128
N_FILES = 16
PLANTED_SHARE = 0.10
PLANTED_JACCARD = (0.70, 0.95)
MIN_WORDS = 20

_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_CORPUS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# Java's \s (what Spark's split(text, '\\s+') matches), not Python's
# Unicode-aware one
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    """Word n-gram set with the token rules of
    ``operators.dedup.word_shingle_hashes``: tokens split on whitespace
    after trimming spaces; a document shorter than n words is one gram."""
    words = _JAVA_WS.split(text.strip(" "))
    return {tuple(words[i : i + n]) for i in range(max(len(words) - (n - 1), 1))}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def _pages(seed: int, n: int) -> list[dict]:
    return [gen_page(seed, i) for i in range(n)]


def _working_set(texts: list[str]) -> dict:
    """Distinct tokens and trigrams the models' memos would see."""
    toks: set[str] = set()
    tris: set[tuple[str, ...]] = set()
    for t in texts:
        words = tokenize(t)
        toks.update(words)
        tris.update(zip(words, words[1:], words[2:]))
    return {
        "distinct_tokens": len(toks),
        "distinct_trigrams": len(tris),
        "arpa_memo_cap": ArpaLM._MEMO_CAP,
        "fasttext_memo_cap": FastTextModel._MEMO_CAP,
    }


def _boilerplate_share(texts: list[str]) -> float:
    return sum(BOILERPLATE_LINE in t for t in texts) / max(len(texts), 1)


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files, so a scan has one
    input split per file instead of one for the whole table."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def _gen_warc(seed: int, n: int, out: str) -> dict:
    pages = _pages(seed, n)
    seg_dir = os.path.join(out, "warc")
    os.makedirs(seg_dir, exist_ok=True)
    for f in range(N_FILES):
        recs = [
            {
                "uri": p["url"],
                "date": p["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                "body": p["html"],
            }
            for p in pages[f::N_FILES]
        ]
        with open(os.path.join(seg_dir, f"seg-{f:05d}.warc.gz"), "wb") as fh:
            fh.write(write_warc_gz(recs))
    size = sum(
        os.path.getsize(os.path.join(seg_dir, x)) for x in os.listdir(seg_dir)
    )
    texts = [p["text"] for p in pages]
    return {
        "warc_dir": seg_dir,
        "warc_files": N_FILES,
        "warc_mb": size / 1e6,
        "records": n,
        "boilerplate_share": _boilerplate_share(texts),
        "working_set": _working_set(texts),
    }


def _gen_pages_table(seed: int, n: int, out: str) -> dict:
    pages = _pages(seed, n)
    table = pa.Table.from_pylist(pages, schema=_PAGES_SCHEMA)
    path = os.path.join(out, "pages")
    _write_split(table, path, N_FILES)
    texts = [p["text"] for p in pages]
    return {
        "pages_path": path,
        "records": n,
        "boilerplate_share": _boilerplate_share(texts),
        "working_set": _working_set(texts),
    }


def _edit_copy(text: str, target: float, rng: random.Random) -> tuple[str, float]:
    """Replace random words of ``text`` with fresh tokens until the
    shingle Jaccard against the original drops to ``target`` or below."""
    orig = shingles(text)
    words = text.split(" ")
    j = 1.0
    while j > target:
        words[rng.randrange(len(words))] = f"zq{rng.randrange(10**6)}"
        j = jaccard(orig, shingles(" ".join(words)))
    return " ".join(words), j


def _gen_near_dup(seed: int, n: int, out: str) -> dict:
    """Extracted texts of pages with at least ``MIN_WORDS`` words (the
    short pages a quality filter drops would pair by accident);
    ``PLANTED_SHARE`` of the documents are edited copies, each of a
    distinct earlier original, so every seed plants the same number of
    two-document clusters."""
    rng = random.Random(seed)
    texts = []
    page_id = 0
    while len(texts) < n:
        text = extract_text(gen_page(seed, page_id)["html"])
        page_id += 1
        if len(text.split(" ")) >= MIN_WORDS:
            texts.append(text)
    n_copies = round(PLANTED_SHARE * n)
    slots = set(rng.sample(range(n // 5, n), n_copies))
    originals = [i for i in range(n) if i not in slots]
    planted = []
    for i in sorted(slots):
        pool = [o for o in originals if o < i]
        src = pool.pop(rng.randrange(len(pool)))
        originals.remove(src)
        texts[i], j = _edit_copy(texts[src], rng.uniform(*PLANTED_JACCARD), rng)
        planted.append([src, i, j])
    path = os.path.join(out, "corpus")
    table = pa.Table.from_pydict(
        {"doc_id": list(range(n)), "text": texts}, schema=_CORPUS_SCHEMA
    )
    _write_split(table, path, N_FILES)
    n_lines = sum(1 for t in texts for ln in t.split("\n") if ln)
    return {
        "corpus_path": path,
        "records": n,
        "planted": planted,
        "planted_share": len(planted) / n,
        "boilerplate_share": _boilerplate_share(texts),
        "nonempty_lines": n_lines,
        "working_set": _working_set(texts),
    }


_GENERATORS = {
    "warc_filter": _gen_warc,
    "staged_rerun": _gen_pages_table,
    "near_dup": _gen_near_dup,
}


def generate(workload: str, seed: int, docs: int, out: str) -> dict:
    """Write the inputs of ``workload`` under ``out`` and return (and
    store as ``out/manifest.json``) its manifest."""
    os.makedirs(out, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, "docs": docs}
    manifest.update(_GENERATORS[workload](seed, docs, out))
    manifest.setdefault("planted_share", 0.0)
    manifest["sample_ids"] = sorted(
        random.Random(seed + 1).sample(range(docs), min(SAMPLE_DOCS, docs))
    )
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.sync()
    return manifest


"""Seeded input generators for the benchmark workloads.

Every input is generated from ``numpy.random.default_rng(seed)`` alone, so
the same seed writes the same bytes and another seed writes other bytes
with the same row counts. The ``documents`` table follows the schema and
word-salad text of the engine's sf-style test tables, so the registry's
queries and their DuckDB oracles run unchanged on the output directory.

The documents corpus carries the near-duplicate classes that
``tools/scale_up.py --perturb`` defines (exact clone, case variant, marker
near-dup, case-variant near-dup, short quote inclusion, unrelated
scramble). Class counts are fixed; the seed decides which document gets
which class and which parent.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: word vocabulary of the engine's test corpora
VOCAB = (
    "a the spark data row column table key value query join group agg sort "
    "filter scan hash merge window stream batch vector line part order "
    "customer fast slow big small"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_CLASSES = ("clone", "casevar", "near", "casenear", "quote", "unrelated")


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated input set."""

    docs_base: int = 0  # unique documents; derived docs are added on top
    docs_derived: int = 0
    records: int = 0  # pipeline caption records


def _words(rng: np.random.Generator, n_docs: int, lo: int, hi: int) -> list[str]:
    # lengths are a shuffle of one fixed spread, so every seed writes the
    # same number of words: the seed changes content, not volume
    lengths = rng.permutation(np.linspace(lo, hi, n_docs).astype(int))
    ids = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.array(VOCAB)[ids]
    out, at = [], 0
    for n in lengths:
        out.append(" ".join(vocab[at : at + n]))
        at += n
    return out


def _initcap(text: str) -> str:
    # Spark's initcap: first letter of every space-separated word upper
    return " ".join(w[:1].upper() + w[1:] for w in text.split(" "))


def documents(rng: np.random.Generator, n_base: int, n_derived: int) -> pa.Table:
    """Word-salad base documents plus seeded near-duplicate derivatives."""
    texts = _words(rng, n_base, 8, 100)
    # fixed class counts and distinct parents (while they last): every
    # seed yields the same near-duplicate structure over other documents
    parents = rng.permutation(np.arange(n_derived) % n_base)
    classes = rng.permutation(np.arange(n_derived) % len(DOC_CLASSES))
    for i, (p, k) in enumerate(zip(parents, classes)):
        base, copy = texts[p], i + 1
        kind = DOC_CLASSES[k]
        if kind == "clone":
            texts.append(base)
        elif kind == "casevar":
            texts.append(_initcap(base))
        elif kind == "near":
            texts.append(f"{base} v{copy}")
        elif kind == "casenear":
            texts.append(f"{_initcap(base)} v{copy}")
        elif kind == "quote":
            words = base.split(" ")
            keep = max(5, len(words) * (20 + 5 * (copy % 5)) // 100)
            texts.append(" ".join(words[:keep]))
        else:
            # a (doc, copy)-unique token after every 2nd word puts it inside
            # every 3-shingle: no shingle overlap with any other document
            words = base.split(" ")
            salt = f"p{p}c{copy}"
            texts.append(
                " ".join(w if j % 2 == 0 else f"{w} {salt}" for j, w in enumerate(words))
            )
    n = len(texts)
    order = rng.permutation(n)  # doc ids do not reveal the class structure
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % 5}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def caption_records(rng: np.random.Generator, n: int) -> list[dict]:
    """JSONL caption metadata: one video path and one caption per record.
    The paths do not exist, so the pack plan's hermetic fetch derives the
    stand-in media bytes from each path."""
    ids = rng.permutation(n * 10)[:n]
    return [
        {"video_path": f"/nonexistent/videos/{i:08d}.mp4", "caption": text}
        for i, text in zip(ids, _words(rng, n, 8, 100))
    ]


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write every table ``sizes`` asks for into ``out_dir``; returns the
    row count per table (``meta.jsonl`` counts caption records)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    if sizes.docs_base:
        docs = documents(rng, sizes.docs_base, sizes.docs_derived)
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
        counts["documents"] = docs.num_rows
    if sizes.records:
        recs = caption_records(rng, sizes.records)
        with open(os.path.join(out_dir, "meta.jsonl"), "w") as fh:
            for r in recs:
                fh.write(json.dumps(r) + "\n")
        counts["meta.jsonl"] = len(recs)
    return counts

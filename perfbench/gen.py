"""Seeded input generators owned by the benchmark.

Every document is a pure function of ``(seed, doc index)``: its random
stream is seeded from both, so a corpus is identical however its rows are
split into files or generation chunks. The generators do not use the
library's own corpus generator, so a change to the program cannot change
a workload.

Two corpora:

- ``bow``: flat ``(doc_id bigint, text string)`` bag-of-words documents
  over the closed 31-word data-engineering vocabulary that the DuckDB KG
  oracle accepts (single-space separated, 10-100 words). Every block of
  20 documents plants one close near-duplicate (doc 19 is doc 18 with one
  word replaced, Jaccard ~0.9 on word 3-grams; doc 18 has at least 60
  words) and one far copy (doc 17 is doc 16 with six spaced replacements,
  Jaccard < 0.7), so near-dup search has true pairs and decoys.
- ``clinical``: interleaved ``(doc_id string, spans array<struct<kind,
  text, media_ref, offset>>)`` notes over the fixture terminology with
  media spans, negation and acronym templates and a hot-term ("skin")
  share.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window")

BLOCK = 20            # one close and one far copy per block of documents
CLOSE_BASE, CLOSE_COPY = 18, 19
FAR_BASE, FAR_COPY = 16, 17
FAR_EDITS = 6

_BOW, _CLINICAL = 1, 2  # stream tags: the corpora never share a stream


def _rng(seed: int, stream: int, i: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, i])


def _bow_words(seed: int, i: int) -> list[str]:
    rng = _rng(seed, _BOW, i)
    slot = i % BLOCK
    if slot == CLOSE_COPY:
        words = _bow_words(seed, i - 1)
        p = int(rng.integers(3, len(words) - 3))
        words[p] = _other_word(rng, words[p])
        return words
    if slot == FAR_COPY:
        words = _bow_words(seed, i - 1)
        # positions 3 apart change disjoint 3-gram sets: 18 of <= 98 change
        for k in range(FAR_EDITS):
            p = 3 + 4 * k + int(rng.integers(2))
            words[p] = _other_word(rng, words[p])
        return words
    lo = 60 if slot == CLOSE_BASE else (40 if slot == FAR_BASE else 10)
    n = int(rng.integers(lo, 101))
    return [VOCAB[j] for j in rng.integers(len(VOCAB), size=n)]


def _other_word(rng: np.random.Generator, word: str) -> str:
    choices = [w for w in VOCAB if w != word]
    return choices[int(rng.integers(len(choices)))]


def bow_rows(seed: int, start: int, stop: int) -> dict[str, list]:
    ids = list(range(start, stop))
    return {"doc_id": ids,
            "text": [" ".join(_bow_words(seed, i)) for i in ids]}


BOW_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# --- clinical notes --------------------------------------------------------

_TERMS = ("melanoma", "malignant melanoma", "breast cancer", "skin cancer",
          "cancer of the skin", "dysplastic nevus", "nevus", "rash", "fever",
          "headache", "hypertension", "diabetes", "asthma", "chest pain",
          "shortness of breath", "nausea", "diarrhea", "skin lesion",
          "skin rash", "dry skin", "skin ulcer", "skin tag",
          "muscle weakness", "common cold", "Alzheimer's disease",
          "ductal carcinoma in situ", "pain", "tumor", "skin biopsy")
_HOT = "skin"
_HOT_TERMS = tuple(t for t in _TERMS if _HOT in t)
_HOT_SHARE = 0.3

_TEMPLATES = (
    "The patient presents with {a} and a history of {b}.",
    "There is no evidence of {a}, but there was a family history of {b}.",
    "Biopsy of the {hot} revealed {a}.",
    "Patient denies {a}; reports {b} in the past.",
    "Examination of the {hot} shows {a} near the {hot} surface.",
    "Assessment: {a}. Plan: follow-up for {b}.",
    "She has DCIS as a diagnosis and {a}.",
    "FISH testing was performed; {a} was ruled out.",
    "Possible {a} versus {b} on the deep margin.",
    "History of HTN and SOB, negative for {a}.",
    "Mother had {a}. No {b} was seen.",
    "Findings are suspicious for {a} without {b}.",
)
_TEXT_SPANS = 8
_MEDIA_EVERY = 4       # every 4th span slot is an image or table
_MEDIA_KINDS = ("image", "table")


def clinical_doc(seed: int, i: int) -> tuple[str, list[dict]]:
    rng = _rng(seed, _CLINICAL, i)
    doc_id = f"note-{i:08d}"
    spans: list[dict] = []
    offset = 0
    k = 0
    while sum(s["kind"] == "text" for s in spans) < _TEXT_SPANS:
        if k % _MEDIA_EVERY == _MEDIA_EVERY - 1:
            kind = _MEDIA_KINDS[int(rng.integers(len(_MEDIA_KINDS)))]
            spans.append({"kind": kind, "text": "",
                          "media_ref": f"media://{doc_id}/{k}",
                          "offset": offset})
        else:
            pool = _HOT_TERMS if rng.random() < _HOT_SHARE else _TERMS
            a, b = (pool[int(j)] for j in rng.integers(len(pool), size=2))
            tpl = _TEMPLATES[int(rng.integers(len(_TEMPLATES)))]
            text = tpl.format(a=a, b=b, hot=_HOT) + " "
            spans.append({"kind": "text", "text": text, "media_ref": "",
                          "offset": offset})
            offset += len(text)
        k += 1
    return doc_id, spans


def clinical_rows(seed: int, start: int, stop: int) -> dict[str, list]:
    docs = [clinical_doc(seed, i) for i in range(start, stop)]
    return {"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]}


CLINICAL_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()),
                                  ("text", pa.string()),
                                  ("media_ref", pa.string()),
                                  ("offset", pa.int32())]))),
])

CORPORA = {"bow": (bow_rows, BOW_SCHEMA),
           "clinical": (clinical_rows, CLINICAL_SCHEMA)}


def chunks(n_docs: int, parts: int) -> list[tuple[int, int]]:
    """Contiguous ``[start, stop)`` index ranges covering ``n_docs``."""
    step = -(-n_docs // parts)
    return [(s, min(s + step, n_docs)) for s in range(0, n_docs, step)]


def write_corpus(corpus: str, seed: int, n_docs: int, out_dir: str,
                 parts: int) -> str:
    """Write ``n_docs`` documents as ``parts`` parquet files under
    ``out_dir``; return ``out_dir``."""
    rows_fn, schema = CORPORA[corpus]
    os.makedirs(out_dir, exist_ok=True)
    for k, (start, stop) in enumerate(chunks(n_docs, parts)):
        table = pa.Table.from_pydict(rows_fn(seed, start, stop), schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return out_dir

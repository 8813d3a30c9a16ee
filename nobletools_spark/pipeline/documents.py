"""Deterministic synthetic corpus in the north-rule input shape.

``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
— interleaved text + media spans (BASELINE.json input_hint). Text spans carry
templated clinical-note prose over the fixture terminology; every k-th span
is an opaque media span; a skew knob inflates designated hot terms ("skin")
so salting / AQE skew handling is actually exercised.

Generation is *distributed and partition-independent*: each row is produced
from a counter-based RNG seeded by (seed, doc index), so the same doc_id has
identical content at any parallelism or partitioning — required both for
test determinism and for the two-parallelism scaling benchmark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as ST

DOCUMENTS_SCHEMA = ST.StructType([
    ST.StructField("doc_id", ST.StringType(), False),
    ST.StructField("spans", ST.ArrayType(ST.StructType([
        ST.StructField("kind", ST.StringType(), False),
        ST.StructField("text", ST.StringType(), False),
        ST.StructField("media_ref", ST.StringType(), False),
        ST.StructField("offset", ST.IntegerType(), False),
    ]), False), False),
])

# sentence templates; {hot} slots amplify the skew term
_TEMPLATES = [
    "The patient presents with {t0} and a history of {t1}.",
    "There was no evidence of {t0}, but there was a family history of {t1}.",
    "Biopsy of the {hot} revealed {t0}.",
    "Images show possible {t0} vs {t1}.",
    "The deep margin is clear of {t0}.",
    "Patient denies {t0}; reports {t1} in the past.",
    "Examination of the {hot} shows {t0} near the {hot} surface.",
    "Assessment: {t0}. Plan: follow-up for {t1}.",
    "He has DCIS as a diagnosis and {t0}.",
    "FISH testing was performed; {t0} was unlikely.",
]

_TERMS = [
    "melanoma", "malignant melanoma", "breast cancer", "skin cancer",
    "cancer of the skin", "dysplastic nevus", "nevus", "rash", "fever",
    "headache", "hypertension", "diabetes", "asthma", "chest pain",
    "shortness of breath", "nausea", "diarrhea", "skin lesion", "skin rash",
    "dry skin", "skin ulcer", "skin tag", "muscle weakness", "common cold",
    "Alzheimer's disease", "ductal carcinoma in situ", "pain",
]
_HOT_TERM = "skin"
_MEDIA_KINDS = ["image", "table"]


def _gen_doc(idx: int, seed: int, sentences_per_doc: int, media_every: int,
             skew: float) -> tuple[str, list[dict]]:
    rng = np.random.default_rng((seed << 32) ^ idx)
    doc_id = f"doc-{idx:09d}"
    spans: list[dict] = []
    offset = 0
    n_text = 0
    total = sentences_per_doc + max(1, sentences_per_doc // max(media_every, 1))
    for k in range(total):
        if media_every > 0 and k % media_every == media_every - 1:
            spans.append({"kind": str(rng.choice(_MEDIA_KINDS)), "text": "",
                          "media_ref": f"media://{doc_id}/{k}", "offset": offset})
            continue
        n_text += 1
        tpl = _TEMPLATES[int(rng.integers(len(_TEMPLATES)))]
        # skew: with probability `skew` force hot-term-bearing vocabulary
        if rng.random() < skew:
            pool = [t for t in _TERMS if _HOT_TERM in t]
        else:
            pool = _TERMS
        t0 = pool[int(rng.integers(len(pool)))]
        t1 = pool[int(rng.integers(len(pool)))]
        text = tpl.format(t0=t0, t1=t1, hot=_HOT_TERM) + " "
        spans.append({"kind": "text", "text": text, "media_ref": "",
                      "offset": offset})
        offset += len(text)
    return doc_id, spans


def generate_documents(spark: SparkSession, n_docs: int, seed: int = 42,
                       sentences_per_doc: int = 8, media_every: int = 4,
                       skew: float = 0.3, partitions: int | None = None,
                       ) -> DataFrame:
    """Distributed generation: spark.range -> mapInPandas (no driver loop)."""
    params = (seed, sentences_per_doc, media_every, skew)

    def gen(batches):
        s, spd, me, sk = params
        for pdf in batches:
            rows = [_gen_doc(int(i), s, spd, me, sk) for i in pdf["id"]]
            if rows:  # empty frames infer float64 cols, breaking Arrow
                yield pd.DataFrame({"doc_id": [r[0] for r in rows],
                                    "spans": [r[1] for r in rows]})

    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)


def generate_documents_local(n_docs: int, seed: int = 42,
                             sentences_per_doc: int = 8, media_every: int = 4,
                             skew: float = 0.3) -> list[tuple[str, list[dict]]]:
    """Driver-side twin of ``generate_documents`` for pure-Python tests."""
    return [_gen_doc(i, seed, sentences_per_doc, media_every, skew)
            for i in range(n_docs)]


def interleave_flat_documents(df: DataFrame) -> DataFrame:
    """Adapt a flat (doc_id, text) table to the north-rule interleaved shape
    deterministically, using only JVM-side expressions (no UDF): the text is
    split at the first space past its midpoint into two text spans with a
    media span between them (media kind derived from md5(doc_id) parity —
    md5 so the derivation is reproducible in any engine, e.g. the DuckDB
    oracle re-deriving the span fingerprint)."""
    from pyspark.sql import functions as F
    mid = F.expr("locate(' ', text, greatest(cast(length(text)/2 as int), 1))")
    head = F.expr("substring(text, 1, "
                  "locate(' ', text, greatest(cast(length(text)/2 as int), 1)))")
    tail = F.expr("substring(text, "
                  "locate(' ', text, greatest(cast(length(text)/2 as int), 1)) + 1)")
    doc_id_s = F.col("doc_id").cast("string")
    media_kind = F.when(
        F.substring(F.md5(doc_id_s), 1, 1).isin(*"02468ace"), "image") \
        .otherwise("table")
    media_ref = F.concat(F.lit("media://"), doc_id_s, F.lit("/1"))
    span = lambda kind, text, ref, off: F.struct(
        kind.alias("kind"), text.alias("text"), ref.alias("media_ref"),
        off.cast("int").alias("offset"))
    two_spans = F.array(
        span(F.lit("text"), head, F.lit(""), F.lit(0)),
        span(media_kind, F.lit(""), media_ref, mid),
        span(F.lit("text"), tail, F.lit(""), mid))
    one_span = F.array(
        span(F.lit("text"), F.col("text"), F.lit(""), F.lit(0)),
        span(media_kind, F.lit(""), media_ref, F.length("text")))
    return df.select(
        doc_id_s.alias("doc_id"),
        F.when(mid > 0, two_spans).otherwise(one_span).alias("spans"))


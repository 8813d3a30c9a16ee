"""References for the workload outputs and the checks against them.

Each reference is computed once per seed, outside the timed region:

- ``kg_dataeng``: the DuckDB re-derivation of the best-match pipeline,
  ``kg_oracle.kg_triples_sql()``, over the input parquet.
- ``dedup_neardup``: the exact word-3-gram Jaccard DuckDB SQL that backs
  the ``minhash_neardup_pairs`` query.
- ``kg_clinical_resume``: the public stage functions over one input
  partition, with no salt and no checkpoint, on a seeded sample of
  documents.
- the graph layer's canonical map: a Python union-find over CUIs that
  share a normalized term.
"""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq

JACCARD_TOL = 5.1e-5      # the SQL rounds to 4 places; Spark does not


def _duck(input_dir: str, tmp_dir: str,
          doc_ids: list[int] | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    where = (f" WHERE doc_id IN ({', '.join(map(str, doc_ids))})"
             if doc_ids is not None else "")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{input_dir}/*.parquet'){where}")
    return con


def kg_triples(input_dir: str, tmp_dir: str,
               doc_ids: list[int] | None = None) -> set[tuple]:
    """Triples of the documents ``doc_ids`` (default: all) plus the isa
    triples. The SQL handles each document on its own, so a subset's
    triples are exactly the full corpus's triples for those documents."""
    from nobletools_spark.relational.kg_oracle import kg_triples_sql
    with _duck(input_dir, tmp_dir, doc_ids) as con:
        return set(con.execute(kg_triples_sql()).fetchall())


def neardup_pairs(input_dir: str, tmp_dir: str) -> dict[tuple, float]:
    from nobletools_spark.relational.queries import QUERIES
    with _duck(input_dir, tmp_dir) as con:
        rows = con.execute(QUERIES["minhash_neardup_pairs"].oracle).fetchall()
    return {(a, b): j for a, b, j in rows}


def canonical_map(dico) -> dict[str, str]:
    """CUI -> smallest CUI of its synonym component, for CUIs that share
    a normalized term with another CUI."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for cuis in dico.term_map.values():
        cuis = sorted(set(cuis))
        if len(cuis) < 2:
            continue
        for c in cuis:
            parent.setdefault(c, c)
        for c in cuis[1:]:
            a, b = find(cuis[0]), find(c)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {c: find(c) for c in parent}


def clinical_triples(spark, docs, sample_ids: list[str], dico,
                     context_dico) -> set[tuple]:
    """Triples of the sampled documents plus the isa triples."""
    from pyspark.sql import functions as F

    from nobletools_spark.config import for_search_method
    from nobletools_spark.pipeline.stages import (annotate_documents,
                                                  split_sentences)
    sc = spark.sparkContext
    sample = docs.where(F.col("doc_id").isin(sample_ids)).coalesce(1)
    mentions = annotate_documents(split_sentences(sample), sc.broadcast(dico),
                                  sc.broadcast(context_dico),
                                  for_search_method("best-match"))
    rows = mentions.select("doc_id", "cui").distinct().collect()
    return ({(d, "mentions_concept", c, d) for d, c in rows}
            | {(c, "isa", p, "") for c, p in dico.isa_edges})


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a Spark parquet output directory, as tuples."""
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def diff_rows(got: list[tuple], want: set[tuple], what: str) -> str | None:
    """None when ``got`` holds exactly the rows of ``want``, once each."""
    if len(got) != len(set(got)):
        return f"{what}: {len(got) - len(set(got))} duplicate rows"
    missing, extra = want - set(got), set(got) - want
    if not missing and not extra:
        return None
    return (f"{what}: {len(missing)} missing (e.g. {sorted(missing)[:2]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:2]})")


def diff_pairs(got: dict[tuple, float],
               want: dict[tuple, float]) -> str | None:
    bad = diff_rows(list(got), set(want), "pairs")
    if bad:
        return bad
    off = [k for k in want if abs(got[k] - want[k]) > JACCARD_TOL]
    return f"jaccard differs on {off[:3]}" if off else None

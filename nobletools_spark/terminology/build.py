"""T0: Spark-side terminology build (SURVEY.md §2.H) — the dictionary as
columnar DataFrames.

The reference builds its ten JDBM hashtables one concept at a time
(``NobleCoderTerminology.addConcept``:1142-1214 feeding
``NobleCoderUtils.saveWordTermsInStorage``:121-139 / ``saveWordStats``:52-68);
here the same tables fall out of two hash aggregations over an exploded
synonym table:

    concepts --explode normalized terms--> (cui, term)
      term_index = groupBy(term)  agg collect_set(cui)      -- the TC table
      (cui, term) --explode words--> (cui, term, word)
      word_index = groupBy(word)  agg collect_set(term)     -- the WT table
      word_stats = groupBy(word)  agg count, any(word=term) -- rarest-word order

Both aggregations partial-aggregate map-side; the only shuffles are the two
groupBys on term/word. At UMLS scale (~10M synonyms) each is a single
hash-aggregate stage; the collected ``Dictionary`` is then broadcast to the
match stage, or — when the vocabulary outgrows the broadcast budget — the
compacted (rarest-word) index keys a shuffle join instead (H5,
``ConceptImporter.compact``:1646-1699).

Parity: ``dictionary_from_tables(build_tables(...))`` must equal the
driver-side ``storage.build_dictionary`` — asserted in
tests/test_terminology_build.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.window import Window

from ..config import SearchConfig
from ..frames import local_frame
from ..text import tools as T
from .storage import (BLACKLIST_CUTOFF, BLACKLIST_MIN_TERMS,
                      BLACKLIST_TOP_CUTOFF, ConceptMeta, Dictionary,
                      normalized_terms_for)
from .termfilter import filter_terms

CONCEPTS_SCHEMA = ST.StructType([
    ST.StructField("_idx", ST.LongType(), False),  # insertion order (parity)
    ST.StructField("cui", ST.StringType(), False),
    ST.StructField("name", ST.StringType(), False),
    ST.StructField("synonyms", ST.ArrayType(ST.StringType()), False),
    ST.StructField("sem_types", ST.ArrayType(ST.StringType()), False),
    ST.StructField("sources", ST.ArrayType(ST.StringType()), False),
    ST.StructField("terms", ST.ArrayType(ST.StructType([
        ST.StructField("text", ST.StringType(), False),
        ST.StructField("form", ST.StringType(), False),
    ])), False),
    ST.StructField("definitions", ST.ArrayType(ST.StringType()), False),
    ST.StructField("codes", ST.ArrayType(ST.StructType([
        ST.StructField("source", ST.StringType(), False),
        ST.StructField("code", ST.StringType(), False),
    ])), False),
])


def concepts_df(spark: SparkSession, concepts: list[dict | ConceptMeta]) -> DataFrame:
    """Concept records -> DataFrame (insertion index kept for deterministic
    first-wins tie-breaks, matching the sequential reference import)."""
    rows = []
    for i, c in enumerate(concepts):
        if isinstance(c, ConceptMeta):
            rows.append((i, c.cui, c.name, list(c.synonyms), list(c.sem_types),
                         list(c.sources), [tuple(t) for t in c.terms],
                         list(c.definitions), [tuple(x) for x in c.codes]))
        else:
            rows.append((i, c["cui"], c["name"], list(c.get("synonyms", ())),
                         list(c.get("sem_types", ())), list(c.get("sources", ())),
                         [(t[0], t[1]) for t in c.get("terms", ())],
                         list(c.get("definitions", ())),
                         list(dict(c.get("codes", {})).items())))
    return local_frame(spark, rows, CONCEPTS_SCHEMA)


def apply_term_filter(concepts: DataFrame) -> DataFrame:
    """H1: rewrite/suppress synonyms with the Hettne rule chain
    (TermFilter.java:44-401; applied on import at ConceptImporter.java:1559).
    Vectorized pandas UDF over the synonym arrays — no explode needed, the
    rule chain is per-synonym."""
    @F.pandas_udf(ST.ArrayType(ST.StringType()))
    def _filt(syns: pd.Series) -> pd.Series:
        return syns.map(lambda s: filter_terms(list(s)))

    return concepts.withColumn("synonyms", _filt("synonyms"))


def select_preferred_names(concepts: DataFrame) -> DataFrame:
    """H6: preferred-name selection (NobleCoderUtils.getPreferredName:870-903)
    as a pure JVM-side array expression over the (text, form) term structs.
    Preferred forms here are PT/PN (our schema folds the isPreferred flag
    into the form code); the reference's loop semantics — last 'PN' wins,
    else last of PT/PN, else first term, else keep name — map to coalesce
    over filtered arrays."""
    terms = F.col("terms")
    pn = F.filter(terms, lambda t: t["form"] == "PN")
    ptpn = F.filter(terms, lambda t: (t["form"] == "PT") | (t["form"] == "PN"))
    name = F.coalesce(
        F.try_element_at(pn, F.lit(-1))["text"],
        F.try_element_at(ptpn, F.lit(-1))["text"],
        F.try_element_at(terms, F.lit(1))["text"],
        F.col("name"),
    )
    return concepts.withColumn("name", name)


def _word_split_udf():
    """Term -> words via the REAL tokenizer (TextTools.getWords), not
    split(' '): normalized terms can carry protected periods (e.g. 'a.0',
    the float-protect trick) that getWords splits differently — the
    driver-side build and matcher both use getWords, so the Spark build
    must too (parity edge case found by property testing). Built per call
    like every UDF here: a module-level pandas UDF binds the first
    SparkContext and breaks after a session restart."""
    @F.pandas_udf(ST.ArrayType(ST.StringType()))
    def _word_split(terms: pd.Series) -> pd.Series:
        return pd.Series([T.get_words(t) for t in terms])
    return _word_split


def _normalized_terms_udf(cfg: SearchConfig):
    @F.pandas_udf(ST.ArrayType(ST.StringType()))
    def _norm(name: pd.Series, synonyms: pd.Series) -> pd.Series:
        return pd.Series([
            normalized_terms_for(n, list(s), cfg)
            for n, s in zip(name, synonyms)
        ])
    return _norm


def build_tables(concepts: DataFrame, cfg: SearchConfig | None = None
                 ) -> dict[str, DataFrame]:
    """H2/H3: term & word indexing as hash aggregations."""
    cfg = cfg or SearchConfig()
    norm = _normalized_terms_udf(cfg)

    exploded = (concepts
                .select("cui", F.explode(norm("name", "synonyms")).alias("term")))
    is_regex = (F.col("term").startswith("/") & F.col("term").endswith("/")
                & (F.length("term") > 1))

    regex_terms = exploded.where(is_regex)
    plain = exploded.where(~is_regex)

    term_index = (plain.groupBy("term")
                  .agg(F.sort_array(F.collect_set("cui")).alias("cuis")))

    word_pairs = plain.select(
        "cui", "term", F.explode(_word_split_udf()("term")).alias("word"))
    word_index = (word_pairs.groupBy("word")
                  .agg(F.sort_array(F.collect_set("term")).alias("terms")))
    word_stats = (word_pairs.groupBy("word")
                  .agg(F.count(F.lit(1)).alias("term_count"),
                       F.max(F.col("word") == F.col("term")).alias("is_term")))

    # code_xref: first concept (insertion order) wins per code
    # (addConcept:1207-1211 putIfAbsent semantics)
    codes = (concepts.select("_idx", "cui", F.explode("codes").alias("c"))
             .select("_idx", "cui", F.col("c.code").alias("code"))
             .where((F.col("code") != "") & (F.col("code") != "NOCODE")))
    w = Window.partitionBy("code").orderBy("_idx")
    code_xref = (codes.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") == 1).select("code", "cui"))

    return {"concepts": concepts, "term_index": term_index,
            "word_index": word_index, "word_stats": word_stats,
            "regex_terms": regex_terms, "code_xref": code_xref}


def build_blacklist_df(word_index: DataFrame, word_stats: DataFrame,
                       n_words: int | None = None) -> DataFrame:
    """H4: hot-word pre-pruned posting lists (BlacklistHandler.java:38-110).
    Words with termCount > 100, ordered (termCount desc, word desc), top
    0.002 fraction of the vocabulary; each hot word keeps only terms all of
    whose words are themselves hot (top 10% use the tighter super-hot set).

    The hot set is tiny by construction (0.2% of vocab) so the allowed-word
    sets travel as broadcast literals; the pruning join is word_index
    (hot-only) with an array `forall` predicate — one broadcast join, no
    driver loop over terms."""
    if n_words is None:
        n_words = word_stats.count()
    top_n = int(n_words * BLACKLIST_CUTOFF)
    hot = (word_stats.where(F.col("term_count") > BLACKLIST_MIN_TERMS)
           .orderBy(F.desc("term_count"), F.desc("word"))
           .limit(top_n).select("word"))
    top = [r.word for r in hot.collect()]        # <= 0.2% of vocab: tiny
    ttop = top[: int(len(top) * BLACKLIST_TOP_CUTOFF)]
    top_arr = F.array(*[F.lit(w) for w in top]) if top else F.array().cast("array<string>")
    ttop_arr = F.array(*[F.lit(w) for w in ttop]) if ttop else F.array().cast("array<string>")

    hot_index = word_index.where(F.col("word").isin(top) if top else F.lit(False))
    super_hot = F.array_contains(ttop_arr, F.col("word")) if ttop else F.lit(False)

    def kept(allowed):
        return F.filter("terms", lambda t: F.forall(
            F.split(t, " "), lambda tw: F.array_contains(allowed, tw)))
    # the allowed set is picked once per row, outside the lambdas: a
    # column they captured would be inlined and re-picked per term word
    return hot_index.select(
        "word", F.when(super_hot, kept(ttop_arr)).otherwise(kept(top_arr))
        .alias("terms"))


def compact_word_index(term_index: DataFrame, word_stats: DataFrame) -> DataFrame:
    """H5: rarest-word compaction (ConceptImporter.compact:1646-1699) — each
    term filed under only its rarest word (skip 1-letter words; missing
    stats rank last; ties favor earlier term position, matching
    ``getRarestWord``'s first-wins scan, NobleCoderUtils:149-165).

    The reference does this with per-word temp files and a reload; here it
    is one posexplode + broadcast-join + window argmin + groupBy — the
    shuffle is on `term` (argmin) then `word` (regroup)."""
    words = (term_index
             .select("term", F.posexplode(_word_split_udf()("term"))
                     .alias("pos", "word"))
             .where(F.length("word") > 1))
    joined = words.join(F.broadcast(word_stats.select("word", "term_count")),
                        "word", "left")
    rank = F.coalesce(F.col("term_count"), F.lit(2 ** 31 - 1))
    w = Window.partitionBy("term").orderBy(rank.asc(), F.col("pos").asc())
    rarest = (joined.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).select("term", "word"))
    return (rarest.groupBy("word")
            .agg(F.sort_array(F.collect_set("term")).alias("terms")))


def build_terminology(spark: SparkSession, concepts: list[dict | ConceptMeta],
                      cfg: SearchConfig | None = None,
                      term_filter: bool = False,
                      compact: bool = False) -> dict[str, DataFrame]:
    """Full T0 stage: concept records -> all dictionary DataFrames."""
    cfg = cfg or SearchConfig()
    cdf = concepts_df(spark, concepts)
    if term_filter:
        cdf = apply_term_filter(cdf)
    cdf = select_preferred_names(cdf)
    tables = build_tables(cdf, cfg)
    tables["blacklist"] = build_blacklist_df(
        tables["word_index"], tables["word_stats"])
    if compact:
        tables["word_index_compact"] = compact_word_index(
            tables["term_index"], tables["word_stats"])
    return tables


def dictionary_from_tables(tables: dict[str, DataFrame],
                           cfg: SearchConfig | None = None,
                           isa_edges: list[tuple[str, str]] | None = None,
                           ) -> Dictionary:
    """Collect the built DataFrames into the broadcastable ``Dictionary``.
    This is the handoff point between the build job and the match job; at
    scale the collect targets only the index tables (concept metadata stays
    columnar and joins post-match via E8 if the broadcast budget is tight).
    """
    cfg = cfg or SearchConfig()
    d = Dictionary(build_config=cfg)

    import re as _re
    for r in tables["concepts"].collect():
        d.concepts[r.cui] = ConceptMeta(
            cui=r.cui, name=r.name, synonyms=tuple(r.synonyms),
            sem_types=tuple(r.sem_types), sources=tuple(r.sources),
            terms=tuple((t.text, t.form) for t in r.terms),
            definitions=tuple(r.definitions),
            codes=tuple((c.source, c.code) for c in r.codes))

    d.term_map = {r.term: tuple(r.cuis) for r in tables["term_index"].collect()}
    d.word_map = {r.word: tuple(r.terms) for r in tables["word_index"].collect()}
    for r in tables["word_stats"].collect():
        d.word_stats[r.word] = r.term_count
        if r.is_term:
            d.word_is_term.add(r.word)
    if "blacklist" in tables:
        d.blacklist = {r.word: tuple(r.terms)
                       for r in tables["blacklist"].collect()}

    # regex synonyms: wrap exactly as addConcept:1161-1183 does
    regex_map: dict[str, set[str]] = {}
    for r in tables["regex_terms"].collect():
        regex = r.term[1:-1]
        try:
            _re.compile(regex)
        except _re.error:
            continue
        wrapped = ("(" + regex + ")" if _re.fullmatch(r"\W+", regex, _re.ASCII)
                   else r"\b(" + regex + r")\b")
        regex_map.setdefault(wrapped, set()).add(r.cui)
    d.regex_map = {p: tuple(sorted(s)) for p, s in regex_map.items()}

    d.code_map = {r.code: r.cui for r in tables["code_xref"].collect()}

    if isa_edges:
        d.isa_edges = list(isa_edges)
        children = {c for c, _ in isa_edges}
        d.roots = {p for _, p in isa_edges if p not in children}
    return d

"""RRF terminology export — the write half of the A2 surface.

Behavior-matched to ``util/ConceptExporter.exportRRF:241-380``: one
MRCONSO row per term atom (18 pipe-delimited fields, trailing ``|``),
MRDEF per definition, MRSTY per semantic type, MRSAB per source, and the
``CUI2CODE`` cui=code translation file — so a terminology curated here
round-trips through any UMLS-RRF consumer and back through ``load_rrf``.

Identifier assignment diverges deliberately from the reference in ONE
way: the reference numbers CUIs/LUIs/SUIs/AUIs by driver-side insertion
order (``getCUI/getLUI/getSUI:393-427``, ``atomCount``); here every id
is a dense rank over the SORTED key — same shape (``C%07d``/``L%07d``/
``S%07d``/``A%07d``), same internal consistency (equal strings share a
LUI/SUI exactly as the reference's maps guarantee), but deterministic
under any partitioning and cluster size instead of depending on
iteration order. Codes already shaped ``[A-Z]\\d{7}`` pass through
verbatim (``getCUI:408-416``), so UMLS-born CUIs survive unchanged.

The rank windows are global (one-partition) — acceptable for the same
reason the reference's driver-side maps are: the table is bounded by
distinct VOCABULARY, not corpus size (the dictionary-broadcast budget
argument, terminology/build.py). Everything else is explode + join.

LUIs key on the NORMALIZED term (``TextTools.normalize``, the D3-parity
implementation) exactly like ``getLUI:393-400``, computed in one
Arrow-batched pass over the distinct-string table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_CUI_SHAPE = r"^[A-Z][0-9]{7}$"
_TUI_SHAPE = r"^T[0-9]{3}$"


def _rank_ids(df: DataFrame, key: str, out: str, fmt: str,
              passthrough: str | None = None) -> DataFrame:
    """key -> deterministic ``fmt % rank`` id table (columns: ``key``,
    ``out``); keys matching ``passthrough`` keep themselves
    (getCUI:408-410 semantics). The key rides internally under a neutral
    name so case-insensitive resolution never collides with ``out``
    (e.g. cui vs CUI)."""
    distinct = df.select(F.col(key).alias("_key")).distinct()
    if passthrough:
        keep = distinct.where(F.col("_key").rlike(passthrough)) \
            .select("_key", F.col("_key").alias("_id"))
        rest = distinct.where(~F.col("_key").rlike(passthrough))
    else:
        keep, rest = None, distinct
    w = Window.orderBy("_key")
    ranked = rest.select(
        "_key", F.format_string(fmt, F.row_number().over(w) - 1).alias("_id"))
    both = ranked.unionByName(keep) if keep is not None else ranked
    return both.select(F.col("_key").alias(key), F.col("_id").alias(out))


def _normalized_udf():
    # built per call: a module-level pandas UDF needs a session at import
    @F.pandas_udf("string")
    def _normalized(text: pd.Series) -> pd.Series:
        from ..text.tools import normalize
        return text.map(lambda t: normalize(t or ""))
    return _normalized


def _prepare(concepts: DataFrame):
    """Shared atom/id machinery for both export flavors: (base frame with
    CUI assigned, per-atom frame with LUI/SUI joined, sab/scode column
    builders)."""
    # the source frame's "cui" is really the concept CODE (getCUI takes
    # c.getCode()); rename up front so the emitted CUI column never
    # collides with it under case-insensitive resolution
    src = concepts.withColumnRenamed("cui", "src_code")
    cui_map = _rank_ids(src, "src_code", "CUI", "C%07d", _CUI_SHAPE)
    base = src.join(cui_map, "src_code")

    # one row per term atom (exportRRF:262-288). The reference Concept
    # guarantees every synonym has a Term atom (Concept.getTerms builds
    # them from synonyms); hand-built ConceptMeta rows may declare only
    # SOME terms — export the declared terms plus an atom for the name
    # (PT) / any uncovered synonym (SY) so no lexical content is lost.
    empty_t = F.array().cast("array<struct<text:string,form:string>>")
    terms_norm = F.coalesce("terms", empty_t)
    covered = F.transform(terms_norm, lambda t: t["text"])
    missing = F.array_except(
        F.concat(F.array(F.col("name")),
                 F.coalesce("synonyms", F.array().cast("array<string>"))),
        covered)
    extras = F.transform(
        missing, lambda s: F.struct(
            s.alias("text"),
            F.when(s == F.col("name"), "PT").otherwise("SY").alias("form")))
    terms_eff = F.concat(terms_norm, extras)
    atoms = (base.select(
        "CUI", "name", "sources", "codes",
        F.explode(terms_eff).alias("t"))
        .select("CUI", "name", "sources", "codes",
                F.col("t.text").alias("STR"),
                F.coalesce(F.col("t.form"), F.lit("SY")).alias("TTY")))
    lui_src = atoms.select("STR").distinct() \
        .withColumn("_norm", _normalized_udf()("STR"))
    lui_map = _rank_ids(lui_src.select("_norm"), "_norm", "LUI", "L%07d") \
        .join(lui_src, "_norm").select("STR", "LUI")
    sui_map = _rank_ids(atoms, "STR", "SUI", "S%07d")
    atoms = atoms.join(lui_map, "STR").join(sui_map, "STR")
    return base, atoms


def _write_pipe(tables: dict[str, DataFrame], out_dir: str,
                suffix: str) -> None:
    for name, df in tables.items():
        line = F.concat(F.concat_ws("|", *df.columns), F.lit("|"))
        (df.orderBy(*df.columns[:2]).select(line.alias("value"))
         .coalesce(1).write.mode("overwrite")
         .text(f"{out_dir}/{name}{suffix}"))


# source: the term's source if modeled, else the concept's first
# (exportRRF:264-266); our term tuples carry no per-term source
def _sab():
    return F.coalesce(F.element_at("sources", 1), F.lit(""))


def _scode():
    return F.coalesce(
        F.element_at(F.map_from_entries("codes"), _sab()), F.col("CUI"))


def export_rrf(concepts: DataFrame, out_dir: str,
               language: str = "ENG") -> dict[str, DataFrame]:
    """``concepts`` in the loader/build shape (cui, name, synonyms,
    sem_types, sources, terms[(text, form)], definitions, codes
    [(source, code)]) -> RRF files under ``out_dir`` plus the row
    DataFrames (for tests / further writes). Like the reference
    exporter, hierarchy is NOT exported (exportRRF writes no MRHIER)."""
    base, atoms = _prepare(concepts)
    is_pref = (F.col("TTY") == "PT") | (F.col("STR") == F.col("name"))
    sab, scode = _sab(), _scode()

    w_aui = Window.orderBy("CUI", "SUI", "TTY")
    mrconso = (atoms
               .withColumn("AUI", F.format_string(
                   "A%07d", F.row_number().over(w_aui) - 1))
               .select(
                   "CUI", F.lit(language).alias("LAT"),
                   F.when(is_pref, "P").otherwise("S").alias("TS"),
                   "LUI",
                   F.when(is_pref, "PF").otherwise("VO").alias("STT"),
                   "SUI",
                   F.when(is_pref, "Y").otherwise("N").alias("ISPREF"),
                   "AUI", F.lit("").alias("SAUI"), F.lit("").alias("SCUI"),
                   F.lit("").alias("SDUI"), sab.alias("SAB"), "TTY",
                   scode.alias("CODE"), "STR", F.lit("0").alias("SRL"),
                   F.lit("N").alias("SUPPRESS"), F.lit("").alias("CVF")))

    # ---- MRDEF (exportRRF:291-312) ----
    mrdef = (base.select("CUI", "sources", F.explode("definitions")
                         .alias("DEF"))
             .select("CUI", F.lit("").alias("AUI"), F.lit("").alias("ATUI"),
                     F.lit("").alias("SATUI"), sab.alias("SAB"), "DEF",
                     F.lit("N").alias("SUPPRESS"), F.lit("").alias("CVF")))

    # ---- MRSTY (exportRRF:314-323) ----
    sty = base.select("CUI", F.explode("sem_types").alias("STY"))
    tui_map = _rank_ids(sty, "STY", "TUI", "T%03d")
    mrsty = (sty.join(tui_map, "STY")
             .select("CUI", "TUI", F.lit("").alias("STN"), "STY",
                     F.lit("").alias("ATUI"), F.lit("").alias("CVF")))

    # ---- MRSAB (exportRRF:338-380, minimal columns) + CUI2CODE ----
    mrsab = (base.select(F.explode("sources").alias("RSAB")).distinct()
             .select(F.lit("").alias("VCUI"), F.lit("").alias("RCUI"),
                     F.col("RSAB").alias("VSAB"), "RSAB",
                     F.col("RSAB").alias("SON")))
    cui2code = base.select(
        F.concat_ws("=", "CUI", "src_code").alias("line"))

    tables = {"MRCONSO": mrconso, "MRDEF": mrdef, "MRSTY": mrsty,
              "MRSAB": mrsab}
    _write_pipe(tables, out_dir, ".RRF")
    cui2code.coalesce(1).write.mode("overwrite") \
        .text(f"{out_dir}/CUI2CODE")
    return tables


def export_orf(concepts: DataFrame, out_dir: str,
               language: str = "ENG") -> dict[str, DataFrame]:
    """The legacy Original-Release-Format flavor
    (``ConceptExporter.exportORF:68-238``): MRCON (8 fields: atom rows
    without source), MRSO (7 fields: the atom->source/code side), MRSTY
    (4 fields), MRDEF (4 fields), MRSAB + CUI2CODE. Same atoms and id
    assignment as ``export_rrf``; TTY degrades to the ORF PT/NP pair
    (exportORF:110) exactly like the reference."""
    base, atoms = _prepare(concepts)
    is_pref = (F.col("TTY") == "PT") | (F.col("STR") == F.col("name"))
    sab, scode = _sab(), _scode()

    mrcon = atoms.select(
        "CUI", F.lit(language).alias("LAT"),
        F.when(is_pref, "P").otherwise("S").alias("TS"), "LUI",
        F.when(is_pref, "PF").otherwise("VO").alias("STT"), "SUI",
        "STR", F.lit("0").alias("LRL"))
    mrso = atoms.select(
        "CUI", "LUI", "SUI", sab.alias("SAB"),
        F.when(is_pref, "PT").otherwise("NP").alias("TTY"),
        scode.alias("CODE"), F.lit("0").alias("SRL"))
    mrdef = (base.select("CUI", "sources",
                         F.explode("definitions").alias("DEF"))
             .select("CUI", sab.alias("SAB"), "DEF"))
    sty = base.select("CUI", F.explode("sem_types").alias("STY"))
    tui_map = _rank_ids(sty, "STY", "TUI", "T%03d")
    mrsty = sty.join(tui_map, "STY").select("CUI", "TUI", "STY")
    mrsab = (base.select(F.explode("sources").alias("RSAB")).distinct()
             .select(F.lit("").alias("VCUI"), F.lit("").alias("RCUI"),
                     F.col("RSAB").alias("VSAB"), "RSAB",
                     F.col("RSAB").alias("SON")))
    tables = {"MRCON": mrcon, "MRSO": mrso, "MRSTY": mrsty,
              "MRDEF": mrdef, "MRSAB": mrsab}
    _write_pipe(tables, out_dir, "")
    base.select(F.concat_ws("=", "CUI", "src_code").alias("line")) \
        .coalesce(1).write.mode("overwrite").text(f"{out_dir}/CUI2CODE")
    return tables

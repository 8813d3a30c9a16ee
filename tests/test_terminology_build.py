"""T0 terminology build: Spark-side build parity, the round-trip
self-retrieval invariant (the reference's key test,
NobleCoderTerminologyTest.java:31-84), TermFilter rules, loaders."""

import os
import subprocess
import sys

import pytest

from nobletools_spark.config import SearchConfig
from nobletools_spark.matcher.core import search
from nobletools_spark.terminology import termfilter as TF
from nobletools_spark.terminology.build import (build_tables,
                                                build_terminology,
                                                compact_word_index,
                                                concepts_df,
                                                dictionary_from_tables,
                                                select_preferred_names)
from nobletools_spark.terminology.fixture import (FIXTURE_CONCEPTS,
                                                  FIXTURE_ISA_EDGES,
                                                  fixture_dictionary)
from nobletools_spark.terminology.loaders import (load_obo, load_rrf,
                                                  load_tab_text,
                                                  rrf_concepts_with_index)
from nobletools_spark.terminology.storage import build_dictionary
from nobletools_spark.text import tools as T


# ----------------------------------------------------- round-trip invariant

class TestRoundTrip:
    """Every synonym of every concept, fed back through search(), must
    return its own CUI; unexpected concepts are allowed only if their
    matched term's words are a subset of the query words (sub-term rule,
    NobleCoderTerminologyTest.java:86-90); misses tolerated only beyond
    maxWordsInTerm."""

    def test_every_synonym_self_retrieves(self):
        dico = fixture_dictionary()
        cfg = SearchConfig()
        failures = []
        for c in FIXTURE_CONCEPTS:
            for syn in c["synonyms"]:
                if syn.startswith("/") and syn.endswith("/"):
                    continue  # regex synonyms match surface text, not selves
                if syn.count(" ") > cfg.max_words_in_term:
                    continue
                hits = search(syn, dico, "best-match")
                cuis = {h["cui"] for h in hits}
                if c["cui"] not in cuis:
                    failures.append((c["cui"], syn, sorted(cuis)))
        assert not failures, failures

    def test_unexpected_hits_are_subterms(self):
        dico = fixture_dictionary()
        for c in FIXTURE_CONCEPTS:
            for syn in c["synonyms"]:
                if syn.startswith("/"):
                    continue
                qwords = set(T.normalize_words(syn, True, False, True))
                for h in search(syn, dico, "best-match"):
                    if h["cui"] == c["cui"]:
                        continue
                    for mt in h["matched_terms"]:
                        mwords = set(T.normalize_words(mt, True, False, True))
                        assert mwords <= qwords, (c["cui"], syn, h["cui"], mt)


# ------------------------------------------------------- Spark build parity

class TestSparkBuildParity:
    @pytest.fixture(scope="class")
    def tables(self, spark):
        return build_terminology(spark, FIXTURE_CONCEPTS, compact=True)

    def test_tables_match_python_build(self, spark, tables):
        py = build_dictionary(FIXTURE_CONCEPTS, isa_edges=FIXTURE_ISA_EDGES)
        sp = dictionary_from_tables(tables, isa_edges=FIXTURE_ISA_EDGES)
        assert sp.term_map == py.term_map
        assert sp.word_map == py.word_map
        assert sp.word_stats == py.word_stats
        assert sp.word_is_term == py.word_is_term
        assert sp.regex_map == py.regex_map
        assert sp.blacklist == py.blacklist
        assert set(sp.concepts) == set(py.concepts)
        assert sp.roots == py.roots

    def test_search_identical_through_spark_built_dictionary(self, spark, tables):
        sp = dictionary_from_tables(tables, isa_edges=FIXTURE_ISA_EDGES)
        py = fixture_dictionary()
        for q in ("deep margin biopsy", "malignant melanoma of the skin",
                  "patient has DCIS and skin rash", "red swift dog"):
            assert search(q, sp, "best-match") == search(q, py, "best-match")

    def test_compaction_files_each_term_once_under_rarest_word(self, spark, tables):
        compact = {r.word: list(r.terms)
                   for r in tables["word_index_compact"].collect()}
        py = build_dictionary(FIXTURE_CONCEPTS)
        seen = {}
        for word, terms in compact.items():
            for t in terms:
                assert t not in seen, f"{t} filed twice ({seen.get(t)}, {word})"
                seen[t] = word
        # every multi-char-word term is filed exactly once
        expected = {t for t in py.term_map
                    if any(len(w) > 1 for w in t.split(" "))}
        assert set(seen) == expected
        # spot-check rarest-word choice
        for term, word in seen.items():
            counts = {w: py.word_stats.get(w, 2**31 - 1)
                      for w in term.split(" ") if len(w) > 1}
            assert counts[word] == min(counts.values())


# ------------------------------------------------------------ TermFilter H1

class TestTermFilter:
    @pytest.mark.parametrize("term", [
        "ADHESIVE @@ BANDAGE", "EC 2.7.1.112", "Leukemia NOS",
        "Unclassified sequences", "Other malignant neoplasm",
        "Structure of kidney", "Left kidney",
        "Head and Neck Squamous Cell Carcinoma of the skin region",
    ])
    def test_suppressed(self, term):
        assert TF.filter_term(term) == []

    def test_syntactic_inversion(self):
        assert TF.filter_term("Failure, Renal") == ["Renal Failure"]

    def test_possessive_strip(self):
        assert TF.filter_term("Alzheimer's disease") == ["Alzheimer disease"]

    def test_short_long_form(self):
        out = TF.filter_term("Selective Serotonin Reuptake Inhibitors (SSRIs)")
        assert "SSRIs" in out or "SSRI" in [o.rstrip("s") for o in out]
        assert any("Reuptake" in o for o in out)

    def test_angular_brackets(self):
        assert TF.filter_term("Chondria <beetle>") == ["Chondria"]

    def test_semtype_parenthetical(self):
        assert TF.filter_term("Surgical intervention (finding)") == \
            ["Surgical intervention"]

    def test_passthrough(self):
        assert TF.filter_term("Malignant melanoma") == ["Malignant melanoma"]

    def test_filter_terms_dedupes_in_order(self):
        out = TF.filter_terms(["Melanoma", "Failure, Renal", "Renal Failure"])
        assert out == ["Melanoma", "Renal Failure"]


class TestExtractAcronym:
    def test_paren_form(self):
        a = TF.extract_acronym("World Health Organization (WHO)")
        assert a is not None
        assert a.short_form == "WHO"
        assert a.long_form == "World Health Organization "

    def test_dash_form(self):
        a = TF.extract_acronym("MM - Malignant melanoma")
        assert a is not None and a.short_form == "MM"
        assert a.long_form.startswith("Malignant melanoma")

    def test_rejects_single_letter_and_digits(self):
        assert TF.extract_acronym("Vitamin (A)") is None
        assert TF.extract_acronym("Trisomy (21)") is None

    def test_rejects_misaligned(self):
        assert TF.extract_acronym("Completely unrelated phrase (XYZ)") is None


# -------------------------------------------------------- preferred name H6

class TestPreferredName:
    def test_pn_beats_pt_beats_first(self, spark):
        concepts = [
            dict(cui="C1", name="orig", synonyms=[],
                 terms=[("syn a", "SY"), ("pt name", "PT"), ("pn name", "PN")]),
            dict(cui="C2", name="orig", synonyms=[],
                 terms=[("syn a", "SY"), ("pt name", "PT")]),
            dict(cui="C3", name="orig", synonyms=[], terms=[("syn a", "SY")]),
            dict(cui="C4", name="orig", synonyms=[], terms=[]),
        ]
        out = {r.cui: r.name
               for r in select_preferred_names(concepts_df(spark, concepts)).collect()}
        assert out == {"C1": "pn name", "C2": "pt name",
                       "C3": "syn a", "C4": "orig"}


# ------------------------------------------------------------------ loaders

OBO_FIXTURE = """\
format-version: 1.2
default-namespace: test_ontology

[Term]
id: TO:0000001
name: melanoma
namespace: neoplasm
def: "A malignant tumor of melanocytes." [PMID:1]
synonym: "malignant melanoma" EXACT []
synonym: "naevocarcinoma" NARROW []

[Term]
id: TO:0000002
name: skin melanoma
is_a: TO:0000001 ! melanoma
alt_id: TO:9999999

[Term]
id: TO:0000003
name: obsolete thing
is_obsolete: true

[Term]
id: TO:0000004
name: nevus
synonym: "mole" BROAD []
"""

TAB_FIXTURE = """\
# comment line
Disease|C0012634
\tNeoplasm|tumor|C0027651|T191
\t\tMelanoma|malignant melanoma|C0025202
\tInfection|C0009450
Finding|C0243095
"""


class TestLoaders:
    def test_obo(self):
        concepts, edges = load_obo(OBO_FIXTURE.splitlines())
        by_id = {c["cui"]: c for c in concepts}
        assert set(by_id) == {"TO:0000001", "TO:0000002", "TO:0000004"}
        m = by_id["TO:0000001"]
        assert m["name"] == "melanoma"
        assert "malignant melanoma" in m["synonyms"]
        assert m["definitions"] == ["A malignant tumor of melanocytes."]
        assert ("malignant melanoma", "EXACT") in m["terms"]
        assert edges == [("TO:0000002", "TO:0000001")]
        assert by_id["TO:0000002"]["codes"] == {"TO:9999999": "TO:9999999"}

    def test_obo_roundtrip_through_matcher(self):
        concepts, edges = load_obo(OBO_FIXTURE.splitlines())
        dico = build_dictionary(concepts, isa_edges=edges)
        hits = search("patient with malignant melanoma", dico, "best-match")
        assert "TO:0000001" in {h["cui"] for h in hits}

    def test_tab_text(self):
        concepts, edges = load_tab_text(TAB_FIXTURE.splitlines())
        by_cui = {c["cui"]: c for c in concepts}
        assert by_cui["C0027651"]["name"] == "Neoplasm"
        assert "tumor" in by_cui["C0027651"]["synonyms"]
        assert by_cui["C0027651"]["sem_types"] == ["T191"]
        assert ("C0027651", "C0012634") in edges
        assert ("C0025202", "C0027651") in edges
        assert ("C0009450", "C0012634") in edges
        assert not any(p == "C0025202" for _, p in edges
                       if _ == "C0009450")  # sibling, not child

    def test_rrf(self, spark, tmp_path):
        (tmp_path / "MRCONSO.RRF").write_text(
            "C0025202|ENG|P|L1|PF|S1|Y|A1||||NCI|PT|M1|Melanoma|0|N||\n"
            "C0025202|ENG|S|L2|PF|S2|N|A2||||NCI|SY|M1|Malignant melanoma|0|N||\n"
            "C0025202|SPA|S|L3|PF|S3|N|A3||||MSHSPA|SY|M1|Melanoma maligno|0|N||\n"
            "C0006826|ENG|P|L4|PF|S4|Y|A4||||NCI|PT|C1|Cancer|0|N||\n"
            "C0000001|ENG|S|L5|PF|S5|N|A5||||NCI|SY|X1|Suppressed thing|0|O||\n")
        (tmp_path / "MRSTY.RRF").write_text(
            "C0025202|T191|x|Neoplastic Process|AT1||\n"
            "C0006826|T191|x|Neoplastic Process|AT2||\n")
        (tmp_path / "MRDEF.RRF").write_text(
            "C0025202|A1|AT3||NCI|A malignant skin tumor.|N||\n")
        (tmp_path / "MRHIER.RRF").write_text(
            "C0025202|A1|1|A4|NCI||A4|||\n")

        out = load_rrf(spark, str(tmp_path))
        rows = {r.cui: r for r in out["concepts"].collect()}
        assert set(rows) == {"C0025202", "C0006826"}  # SPA + suppressed gone
        mel = rows["C0025202"]
        assert mel.name == "Melanoma"
        assert set(mel.synonyms) == {"Melanoma", "Malignant melanoma"}
        assert mel.sem_types == ["Neoplastic Process"]
        assert mel.definitions == ["A malignant skin tumor."]
        edges = {(r.child_cui, r.parent_cui) for r in out["isa_edges"].collect()}
        assert edges == {("C0025202", "C0006826")}
        roots = {r.cui for r in out["roots"].collect()}
        assert roots == {"C0006826"}

    def test_rrf_double_quotes_pass_through(self, spark, tmp_path):
        # RRF has no quoting: a STR holding double quotes must survive
        # verbatim (ADVICE r1: default CSV quote char corrupted such rows)
        (tmp_path / "MRCONSO.RRF").write_text(
            'C0000010|ENG|P|L1|PF|S1|Y|A1||||NCI|PT|M1|"quoted" name|0|N||\n'
            'C0000010|ENG|S|L2|PF|S2|N|A2||||NCI|SY|M1|syn "x, y" part|0|N||\n')
        (tmp_path / "MRSTY.RRF").write_text("")
        (tmp_path / "MRDEF.RRF").write_text("")
        (tmp_path / "MRHIER.RRF").write_text("")
        out = load_rrf(spark, str(tmp_path))
        row = out["concepts"].collect()[0]
        assert row.name == '"quoted" name'
        assert 'syn "x, y" part' in row.synonyms

    def test_rrf_preferred_name_sui_tiebreak(self, spark, tmp_path):
        # equal pref_rank atoms: ascending SUI must decide, deterministically
        (tmp_path / "MRCONSO.RRF").write_text(
            "C0000020|ENG|S|L1|PF|S0000009|N|A1||||NCI|SY|M1|Zeta name|0|N||\n"
            "C0000020|ENG|S|L2|PF|S0000002|N|A2||||NCI|SY|M1|Alpha name|0|N||\n"
            "C0000020|ENG|S|L3|PF|S0000005|N|A3||||NCI|SY|M1|Mid name|0|N||\n")
        (tmp_path / "MRSTY.RRF").write_text("")
        (tmp_path / "MRDEF.RRF").write_text("")
        (tmp_path / "MRHIER.RRF").write_text("")
        out = load_rrf(spark, str(tmp_path))
        assert out["concepts"].collect()[0].name == "Alpha name"

    def test_rrf_feeds_spark_build(self, spark, tmp_path):
        (tmp_path / "MRCONSO.RRF").write_text(
            "C0025202|ENG|P|L1|PF|S1|Y|A1||||NCI|PT|M1|Melanoma|0|N||\n"
            "C0025202|ENG|S|L2|PF|S2|N|A2||||NCI|SY|M1|Malignant melanoma|0|N||\n")
        (tmp_path / "MRSTY.RRF").write_text("C0025202|T191|x|Neoplastic Process|AT1||\n")
        (tmp_path / "MRDEF.RRF").write_text("")
        (tmp_path / "MRHIER.RRF").write_text("")
        out = load_rrf(spark, str(tmp_path))
        cdf = rrf_concepts_with_index(out["concepts"])
        tables = build_tables(cdf)
        dico = dictionary_from_tables(tables)
        hits = search("history of malignant melanoma", dico, "best-match")
        assert {h["cui"] for h in hits} == {"C0025202"}


class TestBlacklistAndCompactionAtScale:
    def test_blacklist_kicks_in_over_cutoff(self, spark):
        # 300 concepts sharing the word 'shared' -> termCount 300 > 100;
        # vocabulary large enough that top 0.002 fraction >= 1 word
        concepts = [dict(cui=f"C{i:05d}", name=f"shared unique{i:05d}",
                         synonyms=[], sem_types=[], sources=["T"])
                    for i in range(600)]
        py = build_dictionary(concepts)
        assert "share" in py.blacklist  # stemmed
        tables = build_terminology(spark, concepts)
        sp = dictionary_from_tables(tables)
        assert sp.blacklist == py.blacklist
        # pruned entry keeps only all-hot-word terms (none here)
        assert sp.blacklist["share"] == ()

    def test_compact_index_still_matches(self, spark):
        concepts = FIXTURE_CONCEPTS
        tables = build_terminology(spark, concepts, compact=True)
        dico = dictionary_from_tables(tables)
        # swap WT table for the compacted one; compacted search disables
        # used-word skips (NobleCoderTerminology.java:1338-1343)
        dico.word_map = {r.word: tuple(r.terms)
                        for r in tables["word_index_compact"].collect()}
        from nobletools_spark.config import for_search_method
        cfg = for_search_method("best-match", compacted=True)
        hits = search("deep margin", dico, base=cfg)
        assert "C1durm01" in {h["cui"] for h in hits}


OWL_FIXTURE = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#">
 <owl:Class rdf:about="http://x.org/onto#Disease">
  <rdfs:label>Disease</rdfs:label>
 </owl:Class>
 <owl:Class rdf:about="http://x.org/onto#Melanoma">
  <rdfs:label>Melanoma</rdfs:label>
  <oboInOwl:hasExactSynonym>malignant melanoma</oboInOwl:hasExactSynonym>
  <rdfs:subClassOf rdf:resource="http://x.org/onto#Disease"/>
 </owl:Class>
 <owl:Class rdf:about="http://x.org/onto#Anon">
  <rdfs:subClassOf rdf:resource="http://elsewhere.org/External"/>
 </owl:Class>
</rdf:RDF>"""


class TestOwlAndCorpusLoaders:
    def test_owl_loader(self):
        from nobletools_spark.terminology.loaders import load_owl
        concepts, edges = load_owl(OWL_FIXTURE)
        by = {c["cui"]: c for c in concepts}
        assert by["Melanoma"]["synonyms"] == ["Melanoma", "malignant melanoma"]
        assert ("Melanoma", "Disease") in edges
        # external (unloaded) superclass edges are dropped
        assert not any(p == "External" for _, p in edges)

    def test_owl_roundtrip_through_matcher(self):
        from nobletools_spark.terminology.loaders import load_owl
        concepts, edges = load_owl(OWL_FIXTURE)
        dico = build_dictionary(concepts, isa_edges=edges)
        hits = search("possible malignant melanoma", dico, "best-match")
        assert "Melanoma" in {h["cui"] for h in hits}

    def test_text_corpus_reader(self, spark, tmp_path):
        from nobletools_spark.terminology.loaders import read_text_corpus
        (tmp_path / "a.txt").write_text("Melanoma was excised.")
        (tmp_path / "b.txt").write_text("No rash.")
        docs = read_text_corpus(spark, str(tmp_path))
        rows = {r.doc_id: r.spans for r in docs.collect()}
        assert set(rows) == {"a.txt", "b.txt"}
        assert rows["a.txt"][0].kind == "text"
        assert rows["a.txt"][0].text == "Melanoma was excised."
        assert rows["a.txt"][0].offset == 0


class TestProtectedPeriodTerms:
    def test_spark_build_indexes_getwords_words(self, spark):
        # 'grade a.0 lesion' normalizes with a protected period; the WT
        # table must key on getWords output (a / 0 split), matching the
        # driver-side build and the matcher probe
        concepts = [dict(cui="CX", name="grade a.0 lesion",
                         synonyms=["grade a.0 lesion"], sources=["T"])]
        py = build_dictionary(concepts)
        sp = dictionary_from_tables(build_tables(concepts_df(spark, concepts)))
        assert sp.word_map == py.word_map
        assert sp.word_stats == py.word_stats
        assert sp.term_map == py.term_map


class TestRrfExport:
    """The write half of A2 (ConceptExporter.exportRRF:241-380): a
    terminology exports to MRCONSO/MRSTY/MRDEF/MRSAB + CUI2CODE and
    round-trips through load_rrf with no lexical/semantic loss."""

    @pytest.fixture(scope="class")
    def round_trip(self, spark, tmp_path_factory):
        from nobletools_spark.terminology.loaders import load_rrf
        from nobletools_spark.terminology.rrf_export import export_rrf
        dico = fixture_dictionary()
        rows = [(c.cui, c.name, list(c.synonyms), list(c.sem_types),
                 list(c.sources), [list(t) for t in c.terms],
                 list(c.definitions), [list(x) for x in c.codes])
                for c in dico.concepts.values()]
        concepts = spark.createDataFrame(
            rows, "cui string, name string, synonyms array<string>, "
                  "sem_types array<string>, sources array<string>, "
                  "terms array<struct<text:string,form:string>>, "
                  "definitions array<string>, "
                  "codes array<struct<source:string,code:string>>")
        out = str(tmp_path_factory.mktemp("rrf"))
        tables = export_rrf(concepts, out)
        back = load_rrf(spark, out)
        c2c = {line.value.split("=")[0]: line.value.split("=", 1)[1]
               for line in spark.read.text(f"{out}/CUI2CODE").collect()}
        return dico, tables, back, c2c, out

    def test_mrconso_shape(self, spark, round_trip):
        _, tables, _, _, out = round_trip
        # 18 pipe-delimited fields + trailing pipe, raw (no quoting)
        line = spark.read.text(f"{out}/MRCONSO.RRF").first().value
        assert line.endswith("|") and line.count("|") == 18

    def test_every_concept_round_trips(self, round_trip):
        dico, _, back, c2c, _ = round_trip
        got = {r.cui: r for r in back["concepts"].collect()}
        assert len(got) == len(dico.concepts)
        for new_cui, code in c2c.items():
            orig = dico.concepts[code]
            g = got[new_cui]
            # no lexical loss: synonyms out = synonyms + name + term texts
            want = set(orig.synonyms) | {orig.name} | \
                {t for t, _ in orig.terms}
            assert set(g.synonyms) == want, code
            assert sorted(g.sem_types or []) == sorted(orig.sem_types)
            assert sorted(g.definitions or []) == \
                sorted(orig.definitions), code

    def test_umls_shaped_cuis_pass_through(self, round_trip):
        _, _, _, c2c, _ = round_trip
        for new_cui, code in c2c.items():
            import re
            if re.fullmatch(r"[A-Z]\d{7}", code):
                assert new_cui == code          # getCUI:408-410
            else:
                assert re.fullmatch(r"C\d{7}", new_cui)

    def test_lui_shared_by_normalized_variants(self, spark, round_trip):
        """Equal normalized strings share one LUI (getLUI:393-400)."""
        _, tables, _, _, _ = round_trip
        from nobletools_spark.text.tools import normalize
        rows = tables["MRCONSO"].select("LUI", "STR").collect()
        by_norm: dict[str, set] = {}
        for r in rows:
            by_norm.setdefault(normalize(r.STR), set()).add(r.LUI)
        assert all(len(v) == 1 for v in by_norm.values())

    def test_matcher_equivalence_after_round_trip(self, spark, round_trip):
        """The re-loaded terminology codes text identically (modulo the
        CUI remap) — the actual user contract of an export."""
        from nobletools_spark.matcher.core import search
        dico, _, back, c2c, _ = round_trip
        concepts2 = [r.asDict(recursive=True)
                     for r in back["concepts"].collect()]
        for c in concepts2:
            c["terms"] = [(t["text"], t["form"]) for t in c["terms"]]
            c["codes"] = {}
        d2 = build_dictionary(concepts2)
        for q in ("malignant melanoma", "deep margin biopsy",
                  "no evidence of dcis"):
            a = {c2c.get(h["cui"], h["cui"]) for h in
                 search(q, d2, "best-match")}
            b = {h["cui"] for h in search(q, dico, "best-match")}
            assert a == b, q

    def test_orf_flavor_shapes(self, spark, round_trip, tmp_path):
        """exportORF:68-238 — MRCON 8 fields, MRSO 7, same atoms and ids
        as the RRF flavor, PT/NP TTY degradation."""
        from nobletools_spark.terminology.rrf_export import export_orf
        dico, tables, _, _, _ = round_trip
        rows = [(c.cui, c.name, list(c.synonyms), list(c.sem_types),
                 list(c.sources), [list(t) for t in c.terms],
                 list(c.definitions), [list(x) for x in c.codes])
                for c in dico.concepts.values()]
        concepts = spark.createDataFrame(
            rows, "cui string, name string, synonyms array<string>, "
                  "sem_types array<string>, sources array<string>, "
                  "terms array<struct<text:string,form:string>>, "
                  "definitions array<string>, "
                  "codes array<struct<source:string,code:string>>")
        out = str(tmp_path / "orf")
        orf = export_orf(concepts, out)
        con_line = spark.read.text(f"{out}/MRCON").first().value
        so_line = spark.read.text(f"{out}/MRSO").first().value
        assert con_line.count("|") == 8 and con_line.endswith("|")
        assert so_line.count("|") == 7 and so_line.endswith("|")
        # identical atom count and identical (CUI, LUI, SUI) triples as
        # the RRF flavor — one id assignment, two serializations
        rrf_keys = {(r.CUI, r.LUI, r.SUI)
                    for r in tables["MRCONSO"].collect()}
        orf_keys = {(r.CUI, r.LUI, r.SUI) for r in orf["MRCON"].collect()}
        assert rrf_keys == orf_keys
        assert {r.TTY for r in orf["MRSO"].collect()} <= {"PT", "NP"}


# ---------------------------------------------------- UDF lifecycle -------

class TestUdfLifecycle:
    """pandas UDFs are built per call, never at module level: a module-level
    UDF needs a session at import and keeps the first SparkContext's
    accumulator. Both checks run in a fresh interpreter (no session)."""

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run(self, code: str):
        env = dict(os.environ, PYTHONPATH=self.REPO)
        return subprocess.run([sys.executable, "-c", code], cwd=self.REPO,
                              env=env, capture_output=True, text=True,
                              timeout=600)

    def test_import_needs_no_session(self):
        r = self.run("import nobletools_spark.terminology.rrf_export\n"
                     "import nobletools_spark.terminology.build")
        assert r.returncode == 0, r.stderr[-2000:]

    def test_build_after_session_restart(self):
        r = self.run(
            "from pyspark.sql import SparkSession\n"
            "from nobletools_spark.terminology.build import "
            "build_terminology\n"
            "from nobletools_spark.terminology.fixture import "
            "FIXTURE_CONCEPTS\n"
            "for _ in range(2):\n"
            "    spark = (SparkSession.builder.master('local[1]')\n"
            "             .config('spark.ui.enabled', 'false')\n"
            "             .config('spark.sql.shuffle.partitions', '1')\n"
            "             .getOrCreate())\n"
            "    t = build_terminology(spark, FIXTURE_CONCEPTS, compact=True)\n"
            "    assert t['word_index'].count() > 0\n"
            "    spark.stop()\n")
        assert r.returncode == 0, r.stderr[-2000:]
        assert "Failed to update accumulator" not in r.stderr

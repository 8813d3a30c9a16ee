"""Property-based tests (hypothesis) over the pure-Python core: the
round-trip self-retrieval invariant on random terminologies, normalization
stability, span validity — plus randomized union-find oracles for the
connected-components engine, on both its driver and distributed branches
(parametrized seeds, driver-side oracle)."""

import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from nobletools_spark.config import SearchConfig, for_search_method
from nobletools_spark.matcher.core import process_sentence, search
from nobletools_spark.terminology.storage import build_dictionary
from nobletools_spark.text import tools as T

# word pool: plausible lowercase words, no stop words, length >= 2
_POOL = ["melanoma", "carcinoma", "lesion", "nodule", "margin", "tissue",
         "gland", "tumor", "cyst", "polyp", "ulcer", "fibroma", "nevus",
         "derm", "basal", "cell", "ductal", "lobular", "invasive", "benign"]

words_st = st.sampled_from(_POOL)
term_st = st.lists(words_st, min_size=1, max_size=4, unique=True).map(" ".join)


@st.composite
def terminology_st(draw):
    """Random concept sets. Word-PERMUTED synonyms across concepts are
    excluded: the reference keeps unsorted term keys but dedupes matches
    by reconstructed surface term (process:2465-2478), so 'melanoma
    carcinoma' vs 'carcinoma melanoma' on two CUIs genuinely loses one —
    a reference-parity behavior, not a bug to find here."""
    n = draw(st.integers(min_value=1, max_value=8))
    out = []
    seen_word_sets: set[frozenset] = set()
    for i in range(n):
        syns = []
        for s in draw(st.lists(term_st, min_size=1, max_size=3, unique=True)):
            ws = frozenset(s.split())
            if ws in seen_word_sets:
                continue
            seen_word_sets.add(ws)
            syns.append(s)
        if not syns:
            continue
        out.append(dict(cui=f"P{i:04d}", name=syns[0], synonyms=syns,
                        sem_types=["T"], sources=["S"]))
    if not out:
        out = [dict(cui="P0000", name="melanoma", synonyms=["melanoma"],
                    sem_types=["T"], sources=["S"])]
    return out


class TestRoundTripProperty:
    @settings(max_examples=40, deadline=None)
    @given(concepts=terminology_st())
    def test_every_synonym_self_retrieves(self, concepts):
        dico = build_dictionary(concepts)
        cfg = SearchConfig()
        for c in concepts:
            for syn in c["synonyms"]:
                if syn.count(" ") > cfg.max_words_in_term:
                    continue
                hits = search(syn, dico, "best-match")
                assert c["cui"] in {h["cui"] for h in hits}, (c, syn, hits)

    @settings(max_examples=30, deadline=None)
    @given(concepts=terminology_st(),
           filler=st.lists(st.sampled_from(["the", "was", "noted", "and"]),
                           max_size=3))
    def test_synonym_found_inside_sentence(self, concepts, filler):
        # a synonym embedded in filler prose must still match in all-match
        # mode (no greedy used-word skips, no subsumption drops)
        dico = build_dictionary(concepts)
        cfg = for_search_method("all-match")
        c = concepts[0]
        syn = c["synonyms"][0]
        text = " ".join(filler[:2] + [syn] + filler[2:])
        mentions = process_sentence(text, dico, cfg)
        assert c["cui"] in {m.cui for m in mentions}


class TestNormalizationProperties:
    printable = st.text(alphabet=string.ascii_letters + string.digits +
                        " .,;:-()'/", max_size=60)

    @settings(max_examples=100, deadline=None)
    @given(text=printable)
    def test_normalize_output_shape(self, text):
        # NB: normalize is NOT idempotent by design (the reference never
        # re-normalizes; stemming may yield a stop word, e.g. 'aed'->'a').
        # The invariants the system relies on: trimmed output, and the
        # joined string reflects normalize_words modulo dedupe.
        out = T.normalize(text, True, False, True, unique_words=True,
                          sort_words=False)
        assert out == out.strip()
        words = T.normalize_words(text, True, False, True)
        assert out == " ".join(dict.fromkeys(words)).strip()

    @settings(max_examples=100, deadline=None)
    @given(text=printable)
    def test_build_word_split_matches_get_words(self, text):
        # the Spark build must index terms under the SAME words the
        # matcher probes — i.e. getWords, not split(' '): protected
        # periods ('a.0') differ between the two (regression: property
        # testing found build_tables using F.split)
        from nobletools_spark.terminology.storage import build_dictionary
        norm = T.normalize(text, True, False, True, unique_words=True,
                           sort_words=False)
        if norm and not norm.startswith("/"):
            d = build_dictionary([dict(cui="C1", name=text or "x",
                                       synonyms=[text] if text else [])])
            for term in d.term_map:
                for w in T.get_words(term):
                    assert term in d.word_map.get(w, ()), (term, w)

    @settings(max_examples=100, deadline=None)
    @given(text=printable)
    def test_get_words_substrings(self, text):
        # NB: the period-split path may emit a leading empty token ('.A' ->
        # ['', 'A']) — Java String.split keeps leading empties and the
        # reference adds them verbatim (TextTools.java:376-378)
        for w in T.get_words(text):
            assert w in text  # every emitted word occurs in the source


class TestSpanProperty:
    sentence = st.lists(
        st.sampled_from(_POOL + ["the", "No", "with", "2.5", "mm"]),
        min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=60, deadline=None)
    @given(text=sentence)
    def test_annotations_index_into_text(self, text):
        from nobletools_spark.terminology.fixture import fixture_dictionary
        cfg = for_search_method("best-match")
        for m in process_sentence(text, fixture_dictionary(), cfg):
            for word, off in m.annotations:
                assert text[off:off + len(word)] == word


class TestConnectedComponentsOracle:
    def _union_find(self, edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical = min of component
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        out = {}
        for members in comp.values():
            m = min(members)
            for n in members:
                out[n] = m
        return out

    def test_random_graphs_match_union_find(self, spark):
        from nobletools_spark.textdata.dedup import candidate_components
        for seed in (1, 7, 23):
            rng = random.Random(seed)
            nodes = [f"n{i:03d}" for i in range(40)]
            edges = [(rng.choice(nodes), rng.choice(nodes))
                     for _ in range(35)]
            edges = [(a, b) for a, b in edges if a != b]
            expected = self._union_find(edges, {x for e in edges for x in e})
            df = spark.createDataFrame(edges, "a string, b string")
            # default threshold: driver union-find; 0: distributed
            # min-label propagation
            for threshold in (1_000_000, 0):
                got = {r.doc_id: r.comp for r in candidate_components(
                    df, driver_threshold=threshold).collect()}
                assert got == expected, f"seed {seed}, threshold {threshold}"

"""The IndexFinder-style greedy concept matcher, behavior-matched to the
reference engine's ``NobleCoderTerminology.process(Sentence)``.

Semantics pinned against the reference (pwhalen2/nobletools) at:
- process loop              NobleCoderTerminology.java:2360-2518
- getBestTerms              :1578-1658 (candidate filter, subsumption select)
- checkContiguity           NobleCoderUtils.java:379-400
- checkWordOrder            NobleCoderUtils.java:427-442
- getUsedWords              NobleCoderUtils.java:452-480
- getOriginalTerm           NobleCoderUtils.java:795-819
- getAnnotations            NobleCoderUtils.java:492-507
- searchRegExp              NobleCoderTerminology.java:1503-1567
- scoreConcept              NobleCoderTerminology.java:2537-2664
- getBestCandidates         NobleCoderTerminology.java:1456-1482
- isAcronym                 NobleCoderTerminology.java:1428-1434
- Mention.getMentions       coder/model/Mention.java:207-270

This module is pure Python over the broadcast ``Dictionary`` — it executes
inside Arrow-batched pandas UDFs (one call per sentence, sentences
partitioned across executors), never as a per-row Spark Python UDF. Every
sentence is independent, which is exactly what makes the reference's
single-threaded loop embarrassingly parallel on Spark.
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass, field
from functools import lru_cache

from ..config import SearchConfig, for_search_method
from ..terminology.storage import ConceptMeta, Dictionary
from ..text import tools as T


@lru_cache(maxsize=1 << 17)
def _norm_word(word: str, stem: bool, digits: bool, stop: bool) -> tuple[str, ...]:
    """Per-word normalization memo — words follow a Zipf distribution, so
    the cache hit rate dominates; profiled at ~40% of matcher time before.
    Pure function of its arguments; per-executor-process cache."""
    return tuple(T.normalize_words(word, stem, digits, stop))


@lru_cache(maxsize=1 << 17)
def _term_words(term: str) -> tuple[str, ...]:
    """Tokenized candidate-term memo (terms recur across sentences)."""
    return tuple(T.get_words(term))


@dataclass
class MentionOut:
    """One detected mention (flattened for columnar output)."""

    cui: str
    concept_name: str
    matched_term: str          # surface form (original casing / order)
    normalized_term: str       # dictionary key that matched ('' for regex)
    score: float
    annotations: list[tuple[str, int]]  # (word, sentence-relative offset)
    sem_types: tuple[str, ...] = ()
    sources: tuple[str, ...] = ()

    @property
    def start(self) -> int:
        return min(a[1] for a in self.annotations) if self.annotations else -1

    @property
    def end(self) -> int:
        return max(a[1] + len(a[0]) for a in self.annotations) if self.annotations else -1


@dataclass
class _NormalizedWords:
    """NobleCoderUtils.getNormalizedWordMap:528-542."""

    norm_map: dict[str, str] = field(default_factory=dict)  # normalized -> first original
    norm_list: list[str] = field(default_factory=list)
    original: list[str] = field(default_factory=list)


def get_normalized_word_map(text: str, cfg: SearchConfig) -> _NormalizedWords:
    c = _NormalizedWords()
    c.original = T.get_words(text)
    for w in c.original:
        ws = _norm_word(w, cfg.stem_words, cfg.strip_digits,
                        cfg.strip_stop_words)
        if ws and ws[0] not in c.norm_map:
            c.norm_map[ws[0]] = w
        c.norm_list.extend(ws)
    return c


def _ordered_search_words(words: list[str], dico: Dictionary,
                          cfg: SearchConfig) -> list[str]:
    """Rarest-first greedy order (process:2379-2396). Words with stats sort
    by (termCount, word) and dedupe; words without stats follow in first-seen
    order (they carry no posting lists, so duplicates are harmless)."""
    if not cfg.ignore_used_words:
        return list(dict.fromkeys(words))
    stats = dico.word_stats
    present: dict[str, int] = {}
    missing: list[str] = []
    for w in words:
        n = stats.get(w)
        if n is None:
            missing.append(w)
        elif w not in present:
            present[w] = n
    ordered = sorted(present, key=lambda w: (present[w], w))
    ordered.extend(dict.fromkeys(missing))
    return ordered


def check_contiguity(words: list[str], twords: list[str], max_word_gap: int) -> bool:
    """NobleCoderUtils.checkContiguity:379-400."""
    tset = set(twords)
    nwords = len(words)
    span = (max_word_gap + 1) * (len(twords) - 1) + 1
    for i, w in enumerate(words):
        if w in tset:
            n = min(i + span, nwords)
            if tset.issubset(words[i:n]):
                return True
    return False


def check_word_order(words: list[str], twords: list[str]) -> bool:
    """NobleCoderUtils.checkWordOrder:427-442 — monotone first-occurrence
    positions, searching each term word from the previous match index."""
    last_i = 0
    for tw in twords:
        try:
            i = words.index(tw, last_i)
        except ValueError:
            i = -1
        if i < last_i:
            return False
        last_i = i
    return True


def get_best_terms(words: list[str], swords: set[str], used: set[str],
                   word: str, dico: Dictionary, cfg: SearchConfig) -> list[str]:
    """Candidate-term filter + subsumption select (getBestTerms:1578-1658)."""
    terms = dico.get_terms_for_word(word)
    if not terms or not words:
        return []
    best: list[str] = []
    best_count = 0
    for term in terms:
        all_match = True
        hits = 0
        twords = _term_words(term)
        for tw in twords:
            if tw not in swords:
                all_match = False
                if not cfg.partial_mode:
                    break
            else:
                if not cfg.overlap_mode and tw in used:
                    all_match = False
                    hits -= 1
                    if not cfg.partial_mode:
                        break
                hits += 1
        if cfg.partial_mode and not all_match and hits > 0:
            all_match = (hits / len(twords)) >= cfg.partial_match_threshold
        if all_match and cfg.contiguous_mode and len(twords) > 1:
            all_match = check_contiguity(words, twords, cfg.max_word_gap)
        if all_match and cfg.ordered_mode and len(twords) > 1:
            all_match = check_word_order(words, twords)
        if all_match:
            if cfg.subsumption_mode:
                if len(twords) > best_count:
                    best = [term]
                    best_count = len(twords)
                elif len(twords) == best_count:
                    best.append(term)
            else:
                best.append(term)
    return best


def get_used_words(words: list[str], term: str, cfg: SearchConfig) -> list[str]:
    """NobleCoderUtils.getUsedWords:452-480."""
    if not cfg.ignore_used_words and cfg.overlap_mode:
        return []
    term_words = _term_words(term)
    if cfg.overlap_mode:
        return list(term_words)
    used: list[str] = []
    remaining = list(term_words)
    span = False
    for w in words:
        if w in remaining:
            used.append(w)
            remaining.remove(w)
            span = True
        if not remaining:
            break
        if span:
            used.append(w)
    return used


def get_original_term(text: str, term: str, norm_map: dict[str, str]) -> str:
    """NobleCoderUtils.getOriginalTerm:795-819 — order the term's normalized
    words by first surface position (comparing with last char chopped for
    words longer than 3 chars), then map back to original forms."""
    txt = text.lower()

    def pos_key(w: str) -> tuple[int, str]:
        probe = w[:-1] if len(w) > 3 else w
        return (txt.find(probe), probe)

    # TreeSet semantics: words whose comparator keys collide are deduped,
    # first inserted wins (insertion order = term word order).
    by_key: dict[tuple[int, str], str] = {}
    for w in dict.fromkeys(term.split(" ")):
        by_key.setdefault(pos_key(w), w)
    words = [by_key[k] for k in sorted(by_key)]
    return " ".join(norm_map.get(w, w) for w in words).strip()


def get_annotations(matched_term: str, search_string: str,
                    index: SentenceIndex) -> list[tuple[str, int]]:
    """NobleCoderUtils.getAnnotations:492-507 — word-level spans; offsets are
    found with indexOf(word, running_n) over the raw sentence. ``index``
    (a SentenceIndex over the sentence's original words) replaces the
    per-concept scan of every sentence word with a lookup of the matched
    words' occurrence positions — same emission order (sentence order,
    every occurrence) and the same running-offset find() anchor."""
    matched_words = set(_term_words(matched_term))
    cand: list[int] = []
    for w in matched_words:
        lst = index.pos.get(w)
        if lst:
            cand.extend(lst)
    cand.sort()
    return [(index.words[j],
             search_string.find(index.words[j], index.offs[j]))
            for j in cand]


class SentenceIndex:
    """Per-sentence word index shared across every concept's
    split_mentions call: the get_words token list, each word's positions,
    and the running char offset the reference accumulates word by word
    (Mention.getMentions' `offs += len(w) + 1`). Built once per sentence
    instead of rescanning the word list per concept."""
    __slots__ = ("words", "pos", "offs")

    def __init__(self, words: list[str]):
        self.words = words
        self.pos: dict[str, list[int]] = {}
        self.offs: list[int] = []
        n = 0
        for j, w in enumerate(words):
            self.pos.setdefault(w, []).append(j)
            self.offs.append(n)
            n += len(w) + 1


def split_mentions(concept_matched_term: str, search_string: str,
                   annotations: list[tuple[str, int]],
                   max_word_gap: int, index: SentenceIndex | None
                   ) -> list[list[tuple[str, int]]]:
    """Mention.getMentions:207-270 — split one concept's word annotations
    into one mention per contiguous word window; fall back to a single
    mention holding everything. The reference's scan is `for each word
    position i with words[i] in term: if term-words ⊆ words[i:i+span]`;
    here the candidate i's come straight from the index's position lists
    and the window test is a bisect per term word — identical truth value
    (t ∈ words[i:n] iff some position of t lies in [i, n)) without
    touching the non-term words at all. ``index`` (over
    ``get_words(search_string)``) is read only when the annotations do
    not already hold one word per term word."""
    twords = _term_words(concept_matched_term)
    if len(annotations) == len(twords):
        return [annotations]

    words = index.words
    span = (max_word_gap + 1) * (len(twords) - 1) + 1
    plists = []
    for t in set(twords):
        lst = index.pos.get(t)
        if lst is None:
            # a term word absent from the sentence word list: the subset
            # test fails at every position -> reference falls back to one
            # mention holding all annotations
            return [annotations]
        plists.append(lst)
    groups: list[list[tuple[str, int]]] = []
    nwords = len(words)
    cand = sorted(set().union(*plists)) if len(plists) > 1 else plists[0]
    for i in cand:
        n = min(i + span, nwords)
        ok = True
        for lst in plists:
            k = bisect_left(lst, i)
            if k >= len(lst) or lst[k] >= n:
                ok = False
                break
        if ok:
            offs = index.offs[i]
            st = search_string.find(words[i], offs)
            last = words[n - 1]
            en = search_string.find(last, offs) + len(last)
            alist = [a for a in annotations
                     if st <= a[1] and a[1] + len(a[0]) <= en]
            if alist:
                groups.append(alist)
    if not groups:
        groups = [annotations]
    return groups


def is_acronym_concept(c: ConceptMeta, matched_term: str) -> bool:
    """NobleCoderTerminology.isAcronym:1428-1434."""
    mt = matched_term.lower()
    for text, form in c.terms:
        if (form == "ACR" or form.endswith("AB")) and text.lower() == mt:
            return True
    return False


def score_concept(c: ConceptMeta, normalized_term: str, original_term: str,
                  search_string: str, result_terms: list[str],
                  cfg: SearchConfig) -> float:
    """scoreConcept:2537-2664."""
    if not cfg.score_concepts:
        return 0.0
    single_word = " " not in original_term
    exact = case = stemmed = False
    synonym_term: str | None = None
    weight = 1.0

    if not single_word:
        wt = set(normalized_term.split(" "))
        for t in result_terms:
            if t != normalized_term and wt.issuperset(t.split(" ")):
                weight += 5.0
    else:
        for s in c.single_word_synonyms_desc():
            if s == original_term:
                case = exact = stemmed = True
                synonym_term = s
                break
        if synonym_term is None:
            ot_low = original_term.lower()
            for s in c.single_word_synonyms_desc():
                if s.lower() == ot_low:
                    exact = stemmed = True
                    synonym_term = s
                    break
        if synonym_term is None:
            nt_low = normalized_term.lower()
            for s in c.single_word_synonyms_desc():
                if nt_low == T.stem(s).lower():
                    stemmed = True
                    synonym_term = s
                    break

    # acronym-mismatch penalty (:2623-2629)
    if single_word and not case and (
        (synonym_term is None or T.is_likely_abbreviation(synonym_term))
        ^ T.is_likely_abbreviation(original_term)
    ):
        st = T.StringStats(search_string)
        if not (st.upper > st.lower and st.whitespace > 0 and st.length > 5):
            weight -= 10.0

    # stemmed-only match of a non-plural word (:2633-2635)
    if single_word and not exact and stemmed and not T.is_plural(original_term):
        weight -= 10.0

    weight += 0.05 * min(10, len(c.sources))

    if c.name.lower() == original_term.lower():
        weight += 2.0

    if cfg.filter_sources:
        for s in c.sources:
            try:
                n = cfg.filter_sources.index(s)
            except ValueError:
                continue
            if n > 0:
                weight += 1.0 / n
    if cfg.filter_semantic_types:
        for s in c.sem_types:
            try:
                n = cfg.filter_semantic_types.index(s)
            except ValueError:
                continue
            if n > 0:
                weight += 2.0 / n
    return weight


def is_filtered_out(c: ConceptMeta, cfg: SearchConfig) -> bool:
    """isFilteredOut:1668-1744 — concept must share at least one source /
    semantic type with the configured filter sets (when set)."""
    if cfg.filter_sources:
        if c.sources and not set(c.sources) & set(cfg.filter_sources):
            return True
    if cfg.filter_semantic_types:
        if c.sem_types and not set(c.sem_types) & set(cfg.filter_semantic_types):
            return True
    return False


def search_regexp(text: str, dico: Dictionary) -> list[tuple[str, str, int]]:
    """searchRegExp:1503-1567 -> list of (cui, matched_text, offset); wider
    overlapping matches win, identical texts co-exist."""
    result: list[tuple[str, str, int]] = []
    for pattern, cuis in dico.compiled_regexes():
        for m in pattern.finditer(text):
            txt = m.group(1)
            if not txt:
                continue
            for cui in cuis:
                st, en = m.start(1), m.start(1) + len(txt)
                to_add = True
                kept = []
                for b in result:
                    bst, ben = b[2], b[2] + len(b[1])
                    if txt == b[1]:
                        kept.append(b)
                        continue
                    if st <= bst and ben <= en:
                        continue  # previous is inside new -> drop previous
                    if bst <= st and en <= ben:
                        to_add = False
                    kept.append(b)
                result = kept
                if to_add:
                    result.append((cui, txt, st))
    return result


def process_sentence(text: str, dico: Dictionary,
                     cfg: SearchConfig | None = None) -> list[MentionOut]:
    """Full per-sentence pipeline of process(Sentence):2360-2518."""
    cfg = cfg or for_search_method(None)
    nwc = get_normalized_word_map(text, cfg)
    words = nwc.norm_list
    result: list[MentionOut] = []

    # regex concepts first (process:2399-2405)
    for cui, txt, off in search_regexp(text, dico):
        meta = dico.concepts.get(cui)
        if meta is None or is_filtered_out(meta, cfg):
            continue
        result.append(MentionOut(
            cui=cui, concept_name=meta.name, matched_term=txt,
            normalized_term="", score=1.0, annotations=[(txt, off)],
            sem_types=meta.sem_types, sources=meta.sources))

    swords_ordered = _ordered_search_words(words, dico, cfg)
    hash_words = set(words)
    used: set[str] = set()
    result_terms: dict[str, None] = {}  # insertion-ordered set

    for word in swords_ordered:
        if cfg.ignore_small_words and len(word) <= 1:
            continue
        if cfg.ignore_common_words and T.is_common_word(word):
            continue
        if cfg.ignore_used_words and word in used:
            continue
        for term in get_best_terms(words, hash_words, used, word, dico, cfg):
            result_terms.setdefault(term, None)
            if cfg.ignore_used_words:
                used.update(get_used_words(words, term, cfg))

    terms = list(result_terms)

    # subsumed-term removal (process:2446-2460)
    if cfg.subsumption_mode:
        to_rem = set()
        for a in terms:
            aa = set(a.split(" "))
            for b in terms:
                if len(a) > len(b):
                    bb = b.split(" ")
                    if len(aa) > len(bb) and aa.issuperset(bb):
                        to_rem.add(b)
        terms = [t for t in terms if t not in to_rem]

    seen_original: set[str] = set()
    sent_index: SentenceIndex | None = None   # over get_words(text)
    orig_index: SentenceIndex | None = None   # over nwc.original
    for term in terms:
        cuis = dico.term_map.get(term)
        if not cuis:
            continue
        oterm = get_original_term(text, term, nwc.norm_map)
        if oterm in seen_original:
            continue
        seen_original.add(oterm)

        candidates: list[tuple[ConceptMeta, float]] = []
        for cui in cuis:
            meta = dico.concepts.get(cui) or ConceptMeta(cui=cui, name=term)
            if cfg.ignore_acronyms and is_acronym_concept(meta, oterm):
                continue
            score = score_concept(meta, term, oterm, text, terms, cfg)
            candidates.append((meta, score))

        candidates = _best_candidates(candidates, cfg)
        for meta, score in candidates:
            if is_filtered_out(meta, cfg):
                continue
            if orig_index is None:
                orig_index = SentenceIndex(nwc.original)
            annotations = get_annotations(oterm, text, orig_index)
            if not annotations:
                continue
            if sent_index is None and len(annotations) != len(_term_words(oterm)):
                sent_index = SentenceIndex(T.get_words(text))
            for group in split_mentions(oterm, text, annotations,
                                        cfg.max_word_gap, sent_index):
                result.append(MentionOut(
                    cui=meta.cui, concept_name=meta.name, matched_term=oterm,
                    normalized_term=term, score=score, annotations=group,
                    sem_types=meta.sem_types, sources=meta.sources))
    return result


def _best_candidates(cands: list[tuple[ConceptMeta, float]],
                     cfg: SearchConfig) -> list[tuple[ConceptMeta, float]]:
    """getBestCandidates:1456-1482 (threshold 0)."""
    if not cands or not cfg.score_concepts:
        return cands
    if cfg.select_best_candidate:
        best = max(cands, key=lambda x: x[1])
        return [best] if best[1] >= 0.0 else []
    return [c for c in cands if c[1] >= 0.0]


def search(text: str, dico: Dictionary, method: str | None = None,
           base: SearchConfig | None = None) -> list[dict]:
    """Terminology.search(text) (:1290-1292, :1382-1419): run the sentence
    pipeline, merge mentions per concept, order by score desc then CUI asc."""
    cfg = for_search_method(method, base)
    mentions = process_sentence(text, dico, cfg)
    by_cui: dict[str, dict] = {}
    for m in mentions:
        e = by_cui.get(m.cui)
        if e is None:
            by_cui[m.cui] = {
                "cui": m.cui, "name": m.concept_name, "score": m.score,
                "matched_terms": [m.matched_term],
                "annotations": list(m.annotations),
            }
        else:
            e["score"] = max(e["score"], m.score)
            if m.matched_term not in e["matched_terms"]:
                e["matched_terms"].append(m.matched_term)
            e["annotations"].extend(m.annotations)
    return sorted(by_cui.values(), key=lambda e: (-e["score"], e["cui"]))

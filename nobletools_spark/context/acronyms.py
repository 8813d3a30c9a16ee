"""Document-level acronym detection and propagation (F1/F2).

Behavior-matched to ``tools/AcronymDetector.java``:
- expanded-form detection: ``Long Form (ACR)`` regex + the reverse
  letter-alignment walk (:91-161, shared with termfilter.extract_acronym)
- when the expanded form was matched as a single concept: attach the
  acronym as an extra annotation, record acronym -> CUI in document state,
  and REMOVE conflicting mentions matched over the acronym text (:171-215)
- in later sentences, standalone occurrences of a recorded acronym re-tag
  to the recorded CUI, removing conflicting mentions (:216-249)
- state cleared per document (NobleCoder.process:273)

The state is document-scoped, so each pass that runs it sees a document's
sentences in order in one Python stream: ``annotate_document`` (fed per
document row by ``document_mentions``, or per doc_id run of sorted
sentence rows by ``annotate_documents``) and ``document_concepts`` per
document row. Documents parallelize freely.
"""

from __future__ import annotations

import re

from ..matcher.core import MentionOut
from ..terminology.storage import Dictionary
from ..terminology.termfilter import _aligned_expanded_form
from ..text import tools as T

_PAREN_FORM = re.compile(r"(([A-Z]?[a-z-0-9]+ )+)\(([A-Z-0-9]+s?)\)")


def _expanded_words(expanded: str) -> list[str]:
    return [w for w in re.split(r"[^A-Za-z]+", expanded.strip())
            if w and not T.is_stop_word(w)]


def _mention_covers(m: MentionOut, words: list[str]) -> bool:
    """AcronymDetector.matches:69-81 — annotation texts contain all words."""
    ann = {a[0] for a in m.annotations}
    return bool(words) and all(w in ann for w in words)


class AcronymState:
    """Per-document acronym -> CUI map; create one per doc_id."""

    def __init__(self, dico: Dictionary):
        self.dico = dico
        self.acronyms: dict[str, str] = {}

    def process(self, text: str, mentions: list[MentionOut]
                ) -> list[MentionOut]:
        """Process one sentence IN DOCUMENT ORDER; returns the adjusted
        mention list (input list not mutated)."""
        out = list(mentions)
        m = _PAREN_FORM.search(T.strip_diacritics(text))
        if m:
            expanded = _aligned_expanded_form(m.group(1), m.group(3))
            acronym = m.group(3)
            if expanded is not None and len(acronym) > 1 \
                    and not acronym.isdigit():
                exp = None
                acr_hits = []
                ewords = _expanded_words(expanded)
                for mn in out:
                    if _mention_covers(mn, ewords):
                        exp = mn
                    elif _mention_covers(mn, [acronym]):
                        acr_hits.append(mn)
                if exp is not None:
                    exp.annotations = list(exp.annotations) + \
                        [(acronym, m.start(3))]
                    self.acronyms[acronym] = exp.cui
                    out = [x for x in out
                           if not (x in acr_hits and x.cui != exp.cui)]
            return out

        # no definition in this sentence: re-tag known acronyms (:216-249)
        for acronym, code in self.acronyms.items():
            for hit in re.finditer(r"\b%s\b" % re.escape(acronym), text):
                add_code: str | None = code
                kept = []
                for c in out:
                    if c.matched_term == acronym:
                        if c.cui != code:
                            continue  # conflicting mention: remove
                        add_code = None  # already tagged correctly
                    kept.append(c)
                out = kept
                if add_code is not None:
                    meta = self.dico.concepts.get(add_code)
                    out.append(MentionOut(
                        cui=add_code,
                        concept_name=meta.name if meta else acronym,
                        matched_term=acronym, normalized_term="",
                        score=1.0,
                        annotations=[(acronym, hit.start())],
                        sem_types=meta.sem_types if meta else (),
                        sources=meta.sources if meta else ()))
        return out

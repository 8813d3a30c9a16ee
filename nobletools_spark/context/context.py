"""ConText: modifier matching + modifier->target assignment (F3/F4).

Behavior-matched to ``tools/ConText.java``:
- the modifier terminology is run through the SAME matcher as concepts,
  with its own strict config (:186-205, :354 — see lexicon.context_config)
- relevant modifiers = Modifier-typed mentions not cancelled by an
  intersecting Pseudo mention of a linked pseudo group (:637-699)
- scope = word window (per-concept ``windowSize`` prop, inherited, default
  8; char-scan over spaces :554-601) truncated by terminator mentions
  (action=terminate whose parent is in the modifier group's
  ``hasTermination`` set, :608-627)
- action from ``hasActionEn``: forward/backward/bidirectional; absent ->
  both (:456-470)
- target selection predicates (:489-508); linguistic modifiers apply to all
  non-modifier targets (:519-530)
- defaults per type filled in first (:376-380; values from type concepts'
  ``hasDefaultValue``, :300-311)
- conflict resolution per Mention.addModifier (Mention.java:412-466):
  non-default beats default, containing-longer span beats contained,
  otherwise nearest to the target wins (ties keep the incumbent)

Pure Python over broadcast dictionaries; executed per document by
``pipeline.stages.annotate_document``, inside one ``mapInPandas`` over
documents or over doc_id-sorted sentence rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..config import SearchConfig
from ..matcher.core import MentionOut, process_sentence
from ..terminology.storage import ConceptMeta, Dictionary
from .lexicon import (ACTION_BACKWARD, ACTION_BIDIRECTIONAL,
                      ACTION_FORWARD, ACTION_TERMINATE, DEFAULT_WINDOW_SIZE,
                      MODIFIER_TYPES, STRUCTURAL_TYPES, context_config)


@dataclass
class ModifierOut:
    """One assigned modifier value (type -> value with provenance span)."""

    type: str
    value: str
    start: int = -1   # span of the modifier mention; -1 for defaults
    end: int = -1
    is_default: bool = False


class ConTextEngine:
    def __init__(self, dico: Dictionary, cfg: SearchConfig | None = None):
        self.dico = dico
        self.cfg = cfg or context_config()
        self.defaults = self._default_values()

    # -- concept metadata helpers (walk parents like the reference) --------

    def _default_values(self) -> dict[str, str]:
        out: dict[str, str] = {}
        for t in MODIFIER_TYPES:
            c = self.dico.concepts.get(t)
            if c is not None:
                v = c.get_prop("hasDefaultValue")
                if v:
                    out[t] = v
        return out

    def _concept(self, cui: str) -> ConceptMeta | None:
        return self.dico.concepts.get(cui)

    def _actions(self, cui: str) -> list[str]:
        c = self._concept(cui)
        if c is None:
            return []
        a = c.get_prop("hasActionEn")
        if a:
            return [a]
        return [p for parent in self.dico.parents_of(cui)
                for p in self._actions(parent)]

    def _window_size(self, cui: str) -> int:
        c = self._concept(cui)
        if c is not None:
            v = c.get_prop("windowSize")
            if v:
                return int(v)
        for parent in self.dico.parents_of(cui):
            return self._window_size(parent)
        return DEFAULT_WINDOW_SIZE

    def _group_link(self, cui: str, prop: str) -> set[str]:
        """Codes linked via hasTermination/hasPseudo on the PARENTS of the
        modifier concept (ConText.java:776-800)."""
        out: set[str] = set()
        for parent in self.dico.parents_of(cui):
            c = self._concept(parent)
            if c is not None:
                v = c.get_prop(prop)
                if v:
                    out.update(x.strip() for x in v.split(",") if x.strip())
        return out

    def _is_type(self, cui: str, sem_type: str) -> bool:
        c = self._concept(cui)
        return c is not None and sem_type in c.sem_types

    def modifier_types(self, cui: str) -> list[str]:
        """getModifierTypes:734-745 — semantic types that aren't structural."""
        c = self._concept(cui)
        if c is None:
            return []
        return [t for t in c.sem_types if t not in STRUCTURAL_TYPES]

    def modifier_values(self, m: MentionOut) -> list[ModifierOut]:
        """getModifiers:420-431 + getModifierValue:754-766."""
        c = self._concept(m.cui)
        out = []
        for t in self.modifier_types(m.cui):
            if c is not None and self._is_type(m.cui, "Quantity"):
                val = m.matched_term
            else:
                val = (c.get_prop(t) if c else None) or m.matched_term
            out.append(ModifierOut(type=t, value=val, start=m.start,
                                   end=m.end,
                                   is_default=(val == self.defaults.get(t))))
        return out

    # -- window / terminator geometry --------------------------------------

    @staticmethod
    def _window_index_after(text: str, from_pos: int, window: int) -> int:
        """getWordWindowIndex forward scan (:554-575): walk space positions
        from the modifier end, counting gaps > 1 char apart."""
        offs = len(text)
        i, j, k = from_pos, 0, from_pos
        while 0 <= i < len(text):
            if i > k + 1:
                j += 1
            if j >= window:
                return i
            k = i
            i = text.find(" ", i + 1)
        return offs

    @staticmethod
    def _window_index_before(text: str, from_pos: int, window: int) -> int:
        i, j, k = from_pos, 0, from_pos
        while i >= 0:
            if i < k - 1:
                j += 1
            if j >= window:
                return i
            k = i
            i = text.rfind(" ", 0, i) if i > 0 else -1
        return 0

    def _terminators(self, modifier: MentionOut,
                     all_mentions: list[MentionOut]) -> list[MentionOut]:
        term_groups = self._group_link(modifier.cui, "hasTermination")
        out = []
        for m in all_mentions:
            if ACTION_TERMINATE in self._actions(m.cui):
                if any(p in term_groups for p in self.dico.parents_of(m.cui)):
                    out.append(m)
        return out

    def _is_pseudo_cancelled(self, m: MentionOut,
                             pseudos: list[MentionOut]) -> bool:
        """isPseudo:672-699 — modifier intersecting a pseudo mention whose
        parent group is linked from the modifier's group via hasPseudo."""
        if not pseudos:
            return False
        groups = self._group_link(m.cui, "hasPseudo")
        if not groups:
            return False
        for p in pseudos:
            if m.start < p.end and p.start < m.end:  # intersects
                if any(pp in groups for pp in self.dico.parents_of(p.cui)):
                    return True
        return False

    # -- main assignment ----------------------------------------------------

    def relevant_modifiers(self, mods: list[MentionOut]) -> list[MentionOut]:
        pseudos = [m for m in mods if self._is_type(m.cui, "Pseudo")]
        return [m for m in mods
                if self._is_type(m.cui, "Modifier")
                and not self._is_pseudo_cancelled(m, pseudos)]

    def target_indexes(self, modifier: MentionOut, text: str,
                       targets: list[MentionOut],
                       terminators: list[MentionOut]) -> list[int]:
        """getTargetMentions:456-508 on sentence-relative offsets."""
        acts = self._actions(modifier.cui)
        forward = ACTION_FORWARD in acts or ACTION_BIDIRECTIONAL in acts
        backward = ACTION_BACKWARD in acts or ACTION_BIDIRECTIONAL in acts
        if not forward and not backward:
            forward = backward = True

        window = self._window_size(modifier.cui)
        start = self._window_index_before(text, modifier.start, window)
        end = self._window_index_after(text, modifier.end, window)

        for t in terminators:
            if forward and modifier.end <= t.start and t.start < end:
                end = t.start
            if backward and t.end <= modifier.start and t.start > start:
                start = t.start

        out = []
        for i, target in enumerate(targets):
            if (target.start, target.end, target.cui) == \
               (modifier.start, modifier.end, modifier.cui):
                continue
            add = False
            if forward and (modifier.start <= target.start
                            or modifier.end < target.end) \
                    and target.start <= end:
                add = True
            if backward and modifier.start >= target.start \
                    and start <= target.start:
                add = True
            if add:
                out.append(i)
        return out

    def has_section_action(self, cui: str) -> bool:
        """hasSectionAction / hasParagraphAction on the concept or its
        group parents — the inherited check used for the doc-level scope
        pass (NobleMentions.getGlobalModifiers collects all modifier
        mentions; the scope property may live on the group)."""
        c = self._concept(cui)
        if c is not None and (c.get_prop("hasSectionAction")
                              or c.get_prop("hasParagraphAction")):
            return True
        return any(self.has_section_action(p)
                   for p in self.dico.parents_of(cui))

    def global_action(self, cui: str) -> tuple[str, str] | None:
        """-> (scope, action) where scope is 'paragraph' | 'section' —
        paragraph wins when both are present, exactly the precedence in
        ConText.getMatchingModifiers:869-876; the property VALUE is the
        scoping action (forward/backward/bidirectional). Walks group
        parents for inheritance."""
        c = self._concept(cui)
        if c is not None:
            v = c.get_prop("hasParagraphAction")
            if v:
                return ("paragraph", v)
            v = c.get_prop("hasSectionAction")
            if v:
                return ("section", v)
        for p in self.dico.parents_of(cui):
            got = self.global_action(p)
            if got:
                return got
        return None

    def direct_global(self, cui: str) -> bool:
        """ConText.getGlobalModifierMentions:405-414 — DIRECT concept
        properties only (no parent walk): these modifier mentions are
        appended to the sentence output so the doc-level pass can scope
        them beyond sentence boundaries."""
        c = self._concept(cui)
        return c is not None and bool(c.get_prop("hasParagraphAction")
                                      or c.get_prop("hasSectionAction"))

    def section_modifiers(self, text: str) -> list[ModifierOut]:
        """Modifier values from ``text`` whose concepts carry a section
        action — they scope to every mention in the enclosing section
        (NobleMentions.getGlobalModifiers + getMatchingModifiers)."""
        mods = process_sentence(text, self.dico, self.cfg)
        out: list[ModifierOut] = []
        for m in self.relevant_modifiers(mods):
            if self.has_section_action(m.cui):
                out.extend(self.modifier_values(m))
        return out

    def process(self, text: str, targets: list[MentionOut]
                ) -> list[dict[str, list[ModifierOut]]]:
        """Run the modifier matcher over ``text`` and assign modifiers to
        each target mention. Returns one {type: [ModifierOut]} per target
        (same order)."""
        return self.process_with_globals(text, targets)[0]

    def process_with_globals(self, text: str, targets: list[MentionOut]
                             ) -> tuple[list[dict[str, list[ModifierOut]]],
                                        list[MentionOut]]:
        """Like ``process`` but also returns the relevant modifier
        MENTIONS carrying a direct paragraph/section action — the ones
        ConText.process:394 appends to the sentence output so the
        document-level pass can scope them beyond the sentence."""
        mods = process_sentence(text, self.dico, self.cfg)
        relevant = self.relevant_modifiers(mods)

        # defaults first (ConText.process:376-380)
        assigned: list[dict[str, list[ModifierOut]]] = []
        for _ in targets:
            slot: dict[str, list[ModifierOut]] = {}
            for t, v in self.defaults.items():
                slot[t] = [ModifierOut(type=t, value=v, is_default=True)]
            assigned.append(slot)

        for m in relevant:
            terminators = self._terminators(m, mods)
            for i in self.target_indexes(m, text, targets, terminators):
                for mod in self.modifier_values(m):
                    _add_modifier(assigned[i], mod, targets[i])
        globals_ = [m for m in relevant if self.direct_global(m.cui)]
        return assigned, globals_


def _add_modifier(slot: dict[str, list[ModifierOut]], m: ModifierOut,
                  target: MentionOut) -> None:
    """Mention.addModifier:412-466 conflict resolution."""
    lst = slot.get(m.type)
    if lst is None:
        slot[m.type] = [m]
        return
    keep: list[ModifierOut] = []
    for old in lst:
        if old.is_default and not m.is_default:
            continue  # drop default in favor of real modifier
        if old.start < 0 and m.start >= 0:
            continue  # old has no mention, new does
        if m.start >= 0 and old.start >= 0:
            n_len, o_len = m.end - m.start, old.end - old.start
            if m.start <= old.start and old.end <= m.end and n_len > o_len:
                continue  # new contains old and is larger
            if old.start <= m.start and m.end <= old.end and o_len > n_len:
                return    # old contains new and is larger: keep old
            if (m.start, m.end, m.value) == (old.start, old.end, old.value):
                return    # identical
            d_new = _distance(target, m)
            d_old = _distance(target, old)
            if d_new < d_old:
                continue  # new is nearer: drop old
            return        # old is nearer (or tie): keep old
        keep.append(old)
    keep.append(m)
    slot[m.type] = keep


def _distance(target: MentionOut, m: ModifierOut) -> int:
    """Text.getOffsetDistance — gap between spans (0 if overlapping)."""
    if m.end <= target.start:
        return target.start - m.end
    if target.end <= m.start:
        return m.start - target.end
    return 0

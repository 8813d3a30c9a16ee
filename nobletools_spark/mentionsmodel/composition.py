"""I-group: anchors -> annotation variables -> instances/triples.

Behavior-matched (simplified, OWL reasoner replaced by a declarative
schema) to the reference's NobleMentions composition:
- anchor selection: mentions whose concept subclasses an Anchor class
  (DomainOntology.getAnchors:616-637, isAnchor:677-679) — here: the
  variable's anchor CUIs + their NARROWER descendants via the
  terminology's isa closure
- annotation variables per anchor (getAnnotationVariables:1263-1290,
  anchor class ``isAnchorOf`` restrictions) — here: VariableDef rows
- satisfaction: every required modifier slot filled with an allowed value
  AND every declared relation slot linked (AnnotationVariable.isSatisfied;
  OWL equivalence restrictions). Relation slots cannot be filled in the
  first pass, so relation-bearing variables start as failed — exactly the
  reference flow, where they fail isSatisfied() and enter failedVariables
- most-specific-wins on identical spans (NobleMentions.process:178-195 —
  subclass replaces superclass)
- failed-for-missing-relation retry: a failed variable with defining
  relations re-satisfies when good variables of ALL its relation-target
  types exist in the document and all its non-relation required slots
  hold — the reference re-runs isSatisfied() after addModifierInstance
  (NobleMentions.process:218-228), so an impossible modifier slot is NOT
  forgiven by a present relation target. Promotion runs to a fixpoint so
  chains (A needs B, B needs C) resolve independent of row order
- linked relations are materialized: each satisfied relation slot lands
  in the instance's modifier map as slot -> target instance_id, emitting
  (instance, relation, target_instance) triples like the OWL export
- output = instances + (subj, pred, obj) triples, the reference's OWL
  instance export (B3) as rows

Execution: pure DataFrame ops — broadcast the (small) schema/anchor maps,
one window for most-specific, one self-join per relation slot. The only
shuffles key on doc_id/span.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..terminology.storage import Dictionary


@dataclass(frozen=True)
class VariableDef:
    name: str
    anchor_cuis: tuple[str, ...]          # anchors = these CUIs + descendants
    # modifier type -> allowed values (empty tuple = any value accepted)
    required: tuple[tuple[str, tuple[str, ...]], ...] = ()
    specific_of: str | None = None        # parent variable (subclass-wins)
    # relation slot -> target variable name (doc-scoped link)
    relations: tuple[tuple[str, str], ...] = ()
    # I2 compound anchor: ALL component CUIs (or descendants) must
    # co-occur in one sentence (DomainOntology.getCompoundAnchors:708-790);
    # when set, anchor_cuis is ignored and the instance spans the
    # components' envelope
    components: tuple[str, ...] = ()
    # general form (OWL-derived, DomainOntology.getCompoundAnchorMap:
    # 853-867): one entry per hasCompoundArgumentN restriction SLOT,
    # each a tuple of alternative component roots (union fillers); a
    # slot is filled by a mention of any alternative (or descendant).
    # ``components`` is the degenerate one-root-per-slot shorthand and
    # is ignored when this is set.
    component_slots: tuple[tuple[str, ...], ...] = ()


@dataclass
class DomainSchema:
    variables: list[VariableDef] = field(default_factory=list)

    @staticmethod
    def _closure(roots, dico: Dictionary) -> set[str]:
        children: dict[str, list[str]] = {}
        for c, p in dico.isa_edges:
            children.setdefault(p, []).append(c)
        seen: set[str] = set()
        stack = list(roots)
        while stack:
            cui = stack.pop()
            if cui in seen:
                continue
            seen.add(cui)
            stack.extend(children.get(cui, ()))
        return seen

    def anchor_map(self, dico: Dictionary) -> dict[str, list[str]]:
        """cui -> [variable names] including NARROWER descendants."""
        out: dict[str, list[str]] = {}
        for v in self.variables:
            if v.components or v.component_slots:
                continue  # compound anchors handled separately
            for cui in self._closure(v.anchor_cuis, dico):
                out.setdefault(cui, []).append(v.name)
        return out

    def component_map(self, dico: Dictionary) -> list[tuple[str, str, str, int]]:
        """(cui, var_name, slot_key, n_slots) rows for the
        compound-anchor join: a mention of ``cui`` can fill slot
        ``slot_key`` of ``var_name``; the compound fires when all
        ``n_slots`` distinct slots are filled in one sentence. Slots
        come from ``component_slots`` (each a union of alternative
        roots, expanded through the isa closure) or the one-root
        ``components`` shorthand; the slot key embeds the root list so
        two slots with identical alternatives still count once each —
        matching the reference's per-restriction argument check
        (DomainOntology.getCompoundAnchors:748-764)."""
        rows = []
        for v in self.variables:
            slots = (v.component_slots
                     or tuple((root,) for root in v.components))
            if not slots:
                continue
            for i, alternatives in enumerate(slots):
                key = f"{i}:{'|'.join(alternatives)}"
                for cui in self._closure(alternatives, dico):
                    rows.append((cui, v.name, key, len(slots)))
        return rows

    def by_name(self) -> dict[str, VariableDef]:
        return {v.name: v for v in self.variables}


def _shadow_cond(n, parent_of: dict[str, str]):
    """True when array element ``n`` is a child variable present on this
    span whose declared parent is the current row's var_name."""
    c = F.lit(False)
    for child, parent in parent_of.items():
        c = c | ((n == F.lit(child)) & (F.col("var_name") == F.lit(parent)))
    return c


def compose(annotated: DataFrame, schema: DomainSchema,
            dico: Dictionary) -> dict[str, DataFrame]:
    """annotated mentions (with ``modifiers`` map) -> instances + triples."""
    spark = annotated.sparkSession
    amap = schema.anchor_map(dico)
    defs = schema.by_name()

    # anchors ⨝ variable defs: broadcast map cui -> var names
    amap_items = [(cui, names) for cui, names in amap.items()]
    amap_df = spark.createDataFrame(
        amap_items, "cui string, var_names array<string>")
    cand = (annotated.join(F.broadcast(amap_df), "cui")
            .select("doc_id", "sent_id", "cui", "start", "end", "modifiers",
                    F.explode("var_names").alias("var_name")))

    # satisfaction via a broadcast schema probe (per-row map lookup —
    # JVM-side when slots are literal; required tuples are tiny)
    sat_exprs = []
    for name, v in defs.items():
        cond = F.lit(True)
        for mtype, allowed in v.required:
            val = F.element_at("modifiers", mtype)
            c = val.isNotNull()
            if allowed:
                c = c & val.isin(*allowed)
            cond = cond & c
        sat_exprs.append((name, cond))
    sat = F.lit(False)
    for name, cond in sat_exprs:
        sat = F.when(F.col("var_name") == name, cond).otherwise(sat)
    cand = cand.withColumn("_sat_nonrel", sat)

    # relation slots are part of satisfaction (isSatisfied covers them):
    # a relation-bearing variable is only good once every relation-target
    # type has a good variable in the same doc AND its non-relation slots
    # hold (NobleMentions.process:218-228 re-runs isSatisfied after
    # addModifierInstance). Fixpoint promotion handles chains.
    rel_rows = []
    for name, v in defs.items():
        for slot, target in v.relations:
            rel_rows.append((name, slot, target))
    rel_df = None
    if rel_rows:
        rel_df = spark.createDataFrame(
            rel_rows, "var_name string, rel_slot string, rel_target string")
        rel_need = {name: len({s for s, _ in v.relations})
                    for name, v in defs.items() if v.relations}
        need_df = spark.createDataFrame(
            list(rel_need.items()), "var_name string, _need int")
        is_rel_var = F.col("var_name").isin(list(rel_need))
        good = cand.where(F.col("_sat_nonrel") & ~is_rel_var) \
                   .drop("_sat_nonrel")
        pending = cand.where(F.col("_sat_nonrel") & is_rel_var) \
                      .drop("_sat_nonrel")
        key = ["doc_id", "sent_id", "cui", "start", "end", "var_name"]
        for _ in range(len(rel_need)):
            good_types = (good.select("doc_id",
                                      F.col("var_name").alias("rel_target"))
                          .distinct())
            hits = (pending.select(*key).distinct()
                    .join(F.broadcast(rel_df), "var_name")
                    .join(good_types, ["doc_id", "rel_target"], "left_semi")
                    .groupBy(*key)
                    .agg(F.countDistinct("rel_slot").alias("_ns")))
            promote = (hits.join(F.broadcast(need_df), "var_name")
                       .where(F.col("_ns") == F.col("_need")).select(*key))
            if promote.isEmpty():
                break
            good = good.unionByName(
                pending.join(promote, key, "left_semi"))
            pending = pending.join(promote, key, "left_anti")
        failed = (cand.where(~F.col("_sat_nonrel")).drop("_sat_nonrel")
                  .unionByName(pending))
    else:
        good = cand.where("_sat_nonrel").drop("_sat_nonrel")
        failed = cand.where("NOT _sat_nonrel").drop("_sat_nonrel")

    # most-specific-wins on identical (doc, span): child replaces parent
    parent_of = {v.name: v.specific_of for v in schema.variables
                 if v.specific_of}
    if parent_of:
        pmap = spark.createDataFrame(
            list(parent_of.items()), "var_name string, parent string")
        w = Window.partitionBy("doc_id", "start", "end")
        names_here = F.collect_set("var_name").over(w)
        good = (good
                .join(F.broadcast(pmap), "var_name", "left")
                .withColumn("_names", names_here)
                # drop a row if some OTHER variable on this span declares
                # this row's name as its parent
                .withColumn("_shadowed", F.exists(
                    "_names", lambda n: _shadow_cond(n, parent_of)))
                .where(~F.col("_shadowed"))
                .drop("_names", "_shadowed", "parent"))

    instance_id = F.concat_ws(
        "#", F.col("doc_id"), F.col("var_name"),
        F.col("start").cast("string"), F.col("end").cast("string"))
    # deterministic per-span pick: when two anchor CUIs share one span
    # (co-synonymous concepts), the smallest CUI wins — dropDuplicates
    # would keep a partition-order-dependent row instead
    w_inst = Window.partitionBy("instance_id").orderBy("cui")
    instances = (good.select(
        instance_id.alias("instance_id"), "doc_id", "var_name", "cui",
        "start", "end", "modifiers")
        .withColumn("_rn", F.row_number().over(w_inst))
        .where(F.col("_rn") == 1).drop("_rn"))

    # materialize satisfied relation links: slot -> target instance_id
    # (deterministically the min instance id of the target type in the
    # doc), merged into the modifier map so the triple explode below
    # emits (instance, relation, target_instance) rows
    if rel_df is not None:
        targets = (instances
                   .groupBy("doc_id", F.col("var_name").alias("rel_target"))
                   .agg(F.min("instance_id").alias("_tgt")))
        rel_mods = (instances.select("instance_id", "doc_id", "var_name")
                    .join(F.broadcast(rel_df), "var_name")
                    .join(targets, ["doc_id", "rel_target"])
                    .groupBy("instance_id", "rel_slot")
                    .agg(F.min("_tgt").alias("_tgt"))
                    .groupBy("instance_id")
                    .agg(F.map_from_entries(
                        F.collect_list(F.struct("rel_slot", "_tgt")))
                        .alias("_rel_mods")))
        instances = (instances.join(rel_mods, "instance_id", "left")
                     .withColumn(
                         "modifiers",
                         F.when(F.col("_rel_mods").isNotNull(),
                                F.map_concat("modifiers", "_rel_mods"))
                         .otherwise(F.col("modifiers")))
                     .drop("_rel_mods"))

    # I2 compound anchors: all components present in one sentence -> one
    # compound instance spanning their envelope
    comp_rows = schema.component_map(dico)
    if comp_rows:
        comp_df = spark.createDataFrame(
            comp_rows,
            "cui string, var_name string, component string, n_comp int")
        @F.pandas_udf("boolean")
        def _has_distinct_assignment(edges: pd.Series) -> pd.Series:
            """Exact satisfiability: does a system of distinct
            representatives exist — one DISTINCT mention class per slot
            (augmenting-path bipartite matching over slot->cui edges)?
            The count prefilter below admits rare Hall violations with
            >=3 overlapping union slots (e.g. slots {x},{x},{y,z} with
            mentions {x,y,z}); the reference's instance evaluation
            (getCompoundAnchors:755-770: one arg class per numbered
            hasCompoundArgumentN property, then
            getEquivalentRestrictions().evaluate) rejects those. Runs
            only on groups that already pass the counts — a bounded,
            Arrow-batched residue, not a per-mention UDF."""
            def ok(es) -> bool:
                slots: dict[str, set[str]] = {}
                for e in es:
                    slots.setdefault(e["slot"], set()).add(e["cui"])
                match: dict[str, str] = {}

                def aug(s: str, seen: set[str]) -> bool:
                    for c in sorted(slots[s]):
                        if c in seen:
                            continue
                        seen.add(c)
                        if c not in match or aug(match[c], seen):
                            match[c] = s
                            return True
                    return False

                return all(aug(s, set()) for s in sorted(slots))
            return pd.Series([ok(e) for e in edges])

        def _match_compounds(mentions: DataFrame) -> DataFrame:
            return (mentions
                    .join(F.broadcast(comp_df), "cui")
                    .groupBy("doc_id", "sent_id", "var_name", "n_comp")
                    .agg(F.countDistinct("component").alias("_found"),
                         F.countDistinct("cui").alias("_n_cuis"),
                         F.collect_set(F.struct(
                             F.col("component").alias("slot"),
                             F.col("cui").alias("cui"))).alias("_edges"),
                         F.min("start").alias("start"),
                         F.max("end").alias("end"))
                    # every slot filled AND at least n_comp distinct
                    # mention classes (getCompoundAnchors:748-752
                    # possibleArgs.size() >= compoundRestrictions.length)
                    # — cheap JVM prefilter; the exact per-slot distinct
                    # assignment is verified on the survivors
                    .where((F.col("_found") == F.col("n_comp"))
                           & (F.col("_n_cuis") >= F.col("n_comp")))
                    .where(_has_distinct_assignment("_edges"))
                    .drop("_edges", "_found", "_n_cuis"))

        proj = annotated.select("doc_id", "sent_id", "cui", "start", "end")
        matched = _match_compounds(proj)

        # Compound-of-compound fixpoint (the reference's do/while at
        # getCompoundAnchors:729-790: a found compound enters mentionMap
        # and can fill another compound's argument slot). Only iterate
        # when some compound class actually appears among another's slot
        # roots' closures — static schema knowledge, so the common case
        # pays nothing. Each round feeds found compounds back as
        # sentence-scoped pseudo-mentions; rounds are bounded by the
        # compound-class count (each round must find a NEW class).
        comp_names = {v.name for v in schema.variables
                      if v.components or v.component_slots}
        slot_cuis = {cui for cui, _, _, _ in comp_rows}
        if comp_names & slot_cuis:
            matched = matched.localCheckpoint(eager=True)
            # the fixpoint only grows (feeding matches back can never
            # unmatch one), so convergence is "count stopped changing" —
            # carried in a driver variable so each retry round costs ONE
            # job, not two
            prev_n = matched.count()
            for _ in range(len(comp_names) - 1):
                pseudo = matched.select(
                    "doc_id", "sent_id", F.col("var_name").alias("cui"),
                    "start", "end")
                matched = _match_compounds(proj.unionByName(pseudo)) \
                    .localCheckpoint(eager=True)
                n = matched.count()
                if n == prev_n:
                    break
                prev_n = n

        comp_inst = matched.select(
            F.concat_ws("#", "doc_id", "var_name",
                        F.col("start").cast("string"),
                        F.col("end").cast("string")).alias("instance_id"),
            "doc_id", "var_name", F.col("var_name").alias("cui"),
            "start", "end",
            F.create_map().cast("map<string,string>").alias("modifiers"),
        ).dropDuplicates(["instance_id"])
        instances = instances.unionByName(comp_inst)

    # triples: doc hasVariable inst; inst hasAnchor CUI; inst <type> value
    t_doc = instances.select(
        F.col("doc_id").alias("subj"), F.lit("hasVariable").alias("pred"),
        F.col("instance_id").alias("obj"), "doc_id")
    t_anchor = instances.select(
        F.col("instance_id").alias("subj"), F.lit("hasAnchor").alias("pred"),
        F.col("cui").alias("obj"), "doc_id")
    t_mods = (instances
              .select("instance_id", "doc_id",
                      F.explode("modifiers").alias("pred", "obj"))
              .select(F.col("instance_id").alias("subj"), "pred", "obj",
                      "doc_id"))
    triples = t_doc.unionByName(t_anchor).unionByName(t_mods).distinct()
    return {"instances": instances, "triples": triples, "failed": failed}

"""B-group sinks: mention RESULTS.tsv export and triple table writes.

B1 format per the reference (``util/CSVExporter.export(Document)``,
CSVExporter.java:124-143): one row per mention —
``doc <TAB> mention text <TAB> code <TAB> concept name <TAB> semantic
types (comma-joined) <TAB> "text/offset, text/offset" annotations
[<TAB> modifier values...]``.

All column shaping is JVM-side; the write is a plain distributed
``df.write.csv`` (one shard per partition — at scale this IS the export,
no driver funnel)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RESULT_COLUMNS = ["doc", "matched_text", "code", "concept_name",
                  "semantic_types", "annotations"]


def mentions_to_results(mentions: DataFrame,
                        include_modifiers: bool = True) -> DataFrame:
    """Shape the mentions frame into the RESULTS.tsv column layout."""
    ann = F.concat_ws(
        ", ", F.transform(
            "annotations",
            lambda a: F.concat_ws("/", a["text"], a["offset"].cast("string"))))
    out = mentions.select(
        F.col("doc_id").alias("doc"),
        F.col("matched_term").alias("matched_text"),
        F.col("cui").alias("code"),
        "concept_name",
        F.concat_ws(", ", "sem_types").alias("semantic_types"),
        ann.alias("annotations"),
        *(["modifiers"] if include_modifiers
          and "modifiers" in mentions.columns else []))
    if include_modifiers and "modifiers" in mentions.columns:
        out = out.withColumn(
            "modifier_values",
            F.concat_ws("\t", F.map_values(F.col("modifiers")))).drop("modifiers")
    return out


def write_results_tsv(mentions: DataFrame, path: str,
                      single_file: bool = False) -> None:
    """Write RESULTS.tsv (sharded; ``single_file`` coalesces for
    test-scale golden comparison only — never at corpus scale)."""
    out = mentions_to_results(mentions)
    if single_file:
        out = out.coalesce(1)
    (out.write.mode("overwrite")
     .option("sep", "\t").option("header", "true").csv(path))


def write_triples(triples: DataFrame, path: str,
                  partition_by_pred: bool = True) -> None:
    """B3: the triple table sink — parquet partitioned by predicate so
    isa-only and mention-only readers prune at the directory level."""
    w = triples.write.mode("overwrite")
    if partition_by_pred:
        w = w.partitionBy("pred")
    w.parquet(path)


def triples_to_ntriples(triples: DataFrame,
                        base_iri: str = "urn:nobletools:",
                        ) -> DataFrame:
    """RDF N-Triples lines from the (subj, pred, obj) table — the
    interchange flavor of the triple export (every RDF store ingests
    N-Triples). Subjects/objects become IRIs under ``base_iri``; the
    characters N-Triples forbids inside an IRI (space, angle brackets,
    quotes, braces, pipe, backslash, caret, backtick) are percent-encoded
    — '%' itself FIRST, so the encoding is injective (without it, ids
    'a b' and 'a%20b' would collide). Non-ASCII passes through unescaped:
    RDF 1.1 N-Triples is UTF-8 and IRIs carry such characters directly.
    Pure column expressions; write with ``.write.text`` sharded."""
    def iri(col):
        enc = col.cast("string")
        for ch, pct in (("%", "%25"),        # must be first: escape char
                        (" ", "%20"), ("<", "%3C"), (">", "%3E"),
                        ('"', "%22"), ("{", "%7B"), ("}", "%7D"),
                        ("|", "%7C"), ("\\", "%5C"), ("^", "%5E"),
                        ("`", "%60")):
            enc = F.replace(enc, F.lit(ch), F.lit(pct))
        return F.concat(F.lit("<" + base_iri), enc, F.lit(">"))
    line = F.concat_ws(" ", iri(F.col("subj")), iri(F.col("pred")),
                       iri(F.col("obj")), F.lit("."))
    return triples.select(line.alias("value"))


def write_ntriples(triples: DataFrame, path: str,
                   base_iri: str = "urn:nobletools:",
                   single_file: bool = False) -> None:
    """B3 interchange sink: the triple table as sharded ``.nt`` text."""
    out = triples_to_ntriples(triples, base_iri)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)


def eval_report_html(report: DataFrame, title: str = "Analysis") -> str:
    """B5 HTML flavor: the confusion-matrix table rendered exactly like
    the reference's ``analysis.html`` (``Analysis.getResultTableAsHTML:
    226-235`` + ``ConfusionMatrix.getHeaderAsHTML:117-120`` — column
    order Label/TP/TP'/FP/FN/TN/Precision/Recall/Accuracy/F1-Score,
    bolded TOTAL row). The per-concept table is vocabulary-bounded, so
    the collect here mirrors the reference's in-memory confusion map,
    not a data-scale operation. Our span-level report carries no
    per-concept TP'/TN; those render 0 like the reference does for
    absent counts."""
    from xml.sax.saxutils import escape as _esc
    rows = report.orderBy("cui").collect()
    tp = sum(r["tp"] for r in rows)
    fp = sum(r["fp"] for r in rows)
    fn = sum(r["fn"] for r in rows)

    def metrics(tp_, fp_, fn_):
        p = tp_ / (tp_ + fp_) if tp_ + fp_ else 0.0
        r_ = tp_ / (tp_ + fn_) if tp_ + fn_ else 0.0
        f1 = 2 * p * r_ / (p + r_) if p + r_ else 0.0
        acc = tp_ / (tp_ + fp_ + fn_) if tp_ + fp_ + fn_ else 0.0
        return p, r_, f1, acc

    def tr(label, tp_, fp_, fn_, bold=False):
        p, r_, f1, acc = metrics(tp_, fp_, fn_)
        lab = f"<b>{_esc(label)}</b>" if bold else _esc(label)
        cells = [lab, str(tp_), "0", str(fp_), str(fn_), "0",
                 f"{p:.3f}", f"{r_:.3f}", f"{acc:.3f}", f"{f1:.3f}"]
        return "<tr>" + "".join(f"<td>{c}</td>" for c in cells) + "</tr>"

    parts = [
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">",
        f"<title>{_esc(title)}</title></head>",
        "<body bgcolor=\"#EEEEFF\"><center>",
        f"<h3>{_esc(title)}</h3>",
        "<table border=1 cellspacing=0 cellpadding=0>",
        "<tr><th>Label</th><th>TP</th><th>TP'</th><th>FP</th><th>FN</th>"
        "<th>TN</th><th>Precision</th><th>Recall</th><th>Accuracy</th>"
        "<th>F1-Score</th></tr>",
    ]
    parts += [tr(r["cui"], r["tp"], r["fp"], r["fn"]) for r in rows]
    parts.append(tr("TOTAL", tp, fp, fn, bold=True))
    parts += ["</table>", "</center></body></html>"]
    return "\n".join(parts)


def write_eval_report_html(report: DataFrame, path: str,
                           title: str = "Analysis") -> None:
    """Write ``analysis.html`` (the reference's file name,
    ``AnnotationEvaluation.ANALYSIS_HTML``) under ``path``."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "analysis.html"), "w") as f:
        f.write(eval_report_html(report, title))


# ------------------------------------------------------- B2: HTML export ---

_HTML_HEAD = """<!DOCTYPE html><html><head><meta charset="utf-8">
<title>{title}</title><style>
body {{ font-family: sans-serif; margin: 1em; }}
.report {{ white-space: pre-wrap; border: 1px solid #eef; padding: 10px;
          max-height: 800px; overflow: auto; float: left; width: 55%; }}
.concepts {{ float: right; width: 40%; max-height: 800px; overflow: auto; }}
.m {{ background: #cfe8ff; border-bottom: 1px solid #68a; cursor: help; }}
.m.neg {{ background: #ffd6d6; }}
.footer {{ clear: both; padding-top: 1em; color: #666; }}
table {{ border-collapse: collapse; font-size: 90%; }}
td, th {{ border: 1px solid #ccd; padding: 2px 6px; }}
</style></head><body><h3>{title}</h3>
"""


def _escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def document_html(text: str, mentions: list[dict],
                  title: str = "") -> str:
    """One coded report page (HTMLExporter.export(Document):703-800
    analog): the document text with mention spans wrapped in highlight
    tags (tooltip = CUI + concept name + modifiers), next to a concept
    table, plus the found-items footer. Negated mentions render in the
    negative style, mirroring the reference's polarity styling."""
    spans = sorted(
        ({"start": int(m["start"]), "end": int(m["end"]),
          "cui": m["cui"], "name": m.get("concept_name", ""),
          "mods": m.get("modifiers") or {}}
         for m in mentions if int(m.get("start", -1)) >= 0),
        key=lambda s: (s["start"], -s["end"]))
    out, offs = [], 0
    for s in spans:
        if s["start"] < offs:
            continue  # overlapping span already rendered
        out.append(_escape(text[offs:s["start"]]))
        tip = _escape(f"{s['cui']}: {s['name']}" + "".join(
            f" | {k}={v}" for k, v in sorted(s["mods"].items())))
        neg = " neg" if s["mods"].get("Polarity") == "Negative_Polarity" \
            else ""
        out.append(f'<span class="m{neg}" title="{tip}">'
                   f"{_escape(text[s['start']:s['end']])}</span>")
        offs = s["end"]
    out.append(_escape(text[offs:]))
    rows = "".join(
        f"<tr><td>{_escape(s['cui'])}</td><td>{_escape(s['name'])}</td>"
        f"<td>{_escape(text[s['start']:s['end']])}</td></tr>"
        for s in spans)
    return (_HTML_HEAD.format(title=_escape(title))
            + f'<div class="report">{"".join(out)}</div>'
            + '<div class="concepts"><table><tr><th>code</th><th>concept'
              '</th><th>text</th></tr>' + rows + "</table></div>"
            + f'<div class="footer">found items: <b>{len(spans)}</b></div>'
            + "</body></html>\n")


def documents_html(documents: DataFrame, mentions: DataFrame) -> DataFrame:
    """-> (doc_id, html): distributed page generation — mentions grouped
    to their document (one shuffle on doc_id), page built in an
    Arrow-batched pandas pass. The write is a partitioned text sink; at
    scale this IS the export, no driver funnel."""
    import pandas as pd

    text_expr = F.expr(
        "concat_ws('', transform(filter(spans, s -> s.kind = 'text'),"
        " s -> s.text))")
    docs = documents.select("doc_id", text_expr.alias("_text"))
    men = mentions.groupBy("doc_id").agg(
        F.collect_list(F.struct(
            "cui", "concept_name", "start", "end",
            *(["modifiers"] if "modifiers" in mentions.columns else []))
        ).alias("_mentions"))
    joined = docs.join(men, "doc_id", "left")

    def gen(batches):
        for pdf in batches:
            htmls = []
            for doc_id, text, ms in zip(pdf["doc_id"], pdf["_text"],
                                        pdf["_mentions"]):
                mlist = []
                if ms is not None:
                    for m in ms:
                        d = m if isinstance(m, dict) else m.asDict()
                        mlist.append(d)
                htmls.append(document_html(text or "", mlist,
                                           title=str(doc_id)))
            if len(pdf):
                yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                    "html": htmls})

    return joined.mapInPandas(gen, schema="doc_id string, html string")


def write_html_reports(documents: DataFrame, mentions: DataFrame,
                       path: str) -> None:
    """B2 sink: one HTML page per document under ``path`` (file name =
    doc_id, written from the executors), plus an index listing — the
    reference's reports/ + index layout (HTMLExporter:32,703). The index
    is SHARDED: each partition writes its own index part from the
    executor, and the root index.html links the parts — no doc_id list
    ever travels to the driver, so the sink scales with the corpus (the
    root is bounded by partition count, not document count)."""
    import os

    pages = documents_html(documents, mentions)
    os.makedirs(os.path.join(path, "reports"), exist_ok=True)
    parts_dir = os.path.join(path, "index_parts")
    os.makedirs(parts_dir, exist_ok=True)

    def write_part(rows):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        ids = []
        for r in rows:
            with open(os.path.join(path, "reports", f"{r.doc_id}.html"),
                      "w") as f:
                f.write(r.html)
            ids.append(str(r.doc_id))
        if ids:
            links = "".join(
                f'<a href="../reports/{i}.html" target="frame">{i}</a>'
                "<br>\n" for i in sorted(ids))
            with open(os.path.join(parts_dir,
                                   f"part-{pid:05d}.html"), "w") as f:
                f.write(_HTML_HEAD.format(title=f"Reports part {pid}")
                        + links + "</body></html>\n")

    pages.foreachPartition(write_part)
    # root index: one link per PART file (directory listing, bounded by
    # the partition count) — nothing per-document on the driver
    part_files = sorted(p for p in os.listdir(parts_dir)
                        if p.endswith(".html"))
    links = "".join(
        f'<a href="index_parts/{p}" target="frame">{p[:-5]}</a><br>\n'
        for p in part_files)
    with open(os.path.join(path, "index.html"), "w") as f:
        f.write(_HTML_HEAD.format(title="Coded reports") + links
                + "</body></html>\n")


def composition_results(instances: DataFrame, failed: DataFrame,
                        mentions: DataFrame | None = None) -> DataFrame:
    """The Composition TSV flavor (CSVExporter.export(Composition):151-181
    + write:164-180): one LONG-FORMAT row per annotation-variable
    property — accepted variables first, then rejected, numbered per
    document — with columns (doc, type, n, variable, prop, value,
    annotations). Every variable emits its ``hasAnchor`` row (value =
    the anchor CUI) plus one row per filled modifier slot, exactly the
    reference's per-property expansion. Pass the pipeline's ``mentions``
    frame to resolve each anchor's "text/offset" annotation string
    (CSVExporter.getAnnotations:188-199); without it the column is
    empty, never wrong.

    Distributed shape: one explode over the (small) modifier maps, an
    optional broadcast-ish join back to mentions on (doc, cui, span),
    and one per-doc window for the reference's sequential numbering."""
    from pyspark.sql.window import Window

    def rows(df: DataFrame, typ: str) -> DataFrame:
        anchor = df.select(
            "doc_id", F.lit(typ).alias("type"), "var_name",
            F.lit("hasAnchor").alias("prop"), F.col("cui").alias("value"),
            "cui", "start", "end")
        mods = (df.select("doc_id", F.lit(typ).alias("type"), "var_name",
                          F.explode("modifiers").alias("prop", "value"),
                          "cui", "start", "end"))
        return anchor.unionByName(mods)

    acc = rows(instances, "Accepted")
    rej = rows(failed.select("doc_id", "var_name", "cui", "start", "end",
                             "modifiers"), "Rejected")
    out = acc.unionByName(rej)
    if mentions is not None:
        ann = mentions.select(
            "doc_id", "cui", "start", "end",
            F.concat_ws("/", F.col("matched_term"),
                        F.col("start").cast("string")).alias("annotations"))
        out = out.join(ann, ["doc_id", "cui", "start", "end"], "left")
    else:
        out = out.withColumn("annotations", F.lit(""))
    # the reference numbers variables sequentially per document,
    # accepted block first (export(Composition):153-159); rows of one
    # variable share its n
    w_var = Window.partitionBy("doc_id").orderBy(
        F.col("type"),          # "Accepted" < "Rejected"
        "start", "end", "var_name")
    n = F.dense_rank().over(w_var)
    return (out.select(
        F.col("doc_id").alias("doc"), "type", n.alias("n"),
        F.col("var_name").alias("variable"), "prop", "value",
        F.coalesce("annotations", F.lit("")).alias("annotations"))
        .orderBy("doc", "n", "prop"))

"""B1 RESULTS.tsv export + B3 triple sink tests."""

import os

from pyspark.sql import functions as F

from nobletools_spark.pipeline.documents import generate_documents
from nobletools_spark.pipeline.export import (mentions_to_results,
                                              write_results_tsv,
                                              write_triples)
from nobletools_spark.pipeline.stages import run_pipeline
from nobletools_spark.terminology.fixture import fixture_dictionary

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_results_tsv_roundtrip(spark, tmp_path):
    docs = generate_documents(spark, 10, seed=21, partitions=2)
    out = run_pipeline(spark, docs, fixture_dictionary(), "best-match")
    res = mentions_to_results(out["mentions"])
    assert res.columns == ["doc", "matched_text", "code", "concept_name",
                           "semantic_types", "annotations"]
    rows = res.collect()
    assert rows
    for r in rows[:10]:
        # "text/offset, text/offset" annotation format
        for part in r.annotations.split(", "):
            txt, off = part.rsplit("/", 1)
            assert txt and int(off) >= 0

    path = str(tmp_path / "results")
    write_results_tsv(out["mentions"], path, single_file=True)
    back = (spark.read.option("sep", "\t").option("header", "true").csv(path))
    assert back.count() == res.count()
    assert set(back.columns) == set(res.columns)


def test_triple_sink_partitioned_by_pred(spark, tmp_path):
    docs = generate_documents(spark, 10, seed=22, partitions=2)
    out = run_pipeline(spark, docs, fixture_dictionary(), "best-match")
    path = str(tmp_path / "triples")
    write_triples(out["triples"], path)
    back = spark.read.parquet(path)
    assert back.count() == out["triples"].count()
    # predicate partition pruning: reading one pred touches one directory
    isa = back.where(F.col("pred") == "isa")
    assert "PartitionFilters" in isa._jdf.queryExecution().executedPlan().toString() \
        or isa.count() > 0


def test_pyfiles_zip_importable(tmp_path):
    """spark-submit --py-files artifact: the zip must be importable on its
    own (executors add it to sys.path)."""
    import subprocess
    import sys
    out = str(tmp_path / "nobletools_spark.zip")
    r = subprocess.run([sys.executable, "scripts/package_pyfiles.py", out],
                       capture_output=True, text=True, cwd=REPO)
    assert r.returncode == 0, r.stderr
    probe = (
        "import sys; sys.path.insert(0, %r); "
        "from nobletools_spark.matcher.core import process_sentence; "
        "from nobletools_spark.terminology.fixture import fixture_dictionary; "
        "from nobletools_spark.config import for_search_method; "
        "ms = process_sentence('malignant melanoma', fixture_dictionary(), "
        "for_search_method('best-match')); "
        "assert any(m.cui == 'C0025202' for m in ms), ms; print('ok')"
        % out)
    r2 = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                        text=True, cwd=str(tmp_path))  # NOT the repo dir
    assert r2.returncode == 0, r2.stderr
    assert r2.stdout.strip() == "ok"


def test_shipped_zip_has_current_sources(tmp_path, monkeypatch):
    """The entry's self-applied --py-files zip: a zip another process left
    in the temp dir (planted under the per-PID name it once reused, as a
    process with a recycled PID would find it) is never shipped; the
    shipped zip holds exactly the package sources as they are now."""
    import importlib.util
    import tempfile
    import types
    import zipfile
    spec = importlib.util.spec_from_file_location(
        "spark_entry_ship", os.path.join(REPO, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"nobletools_spark_pyfiles_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("nobletools_spark/__init__.py", "STALE = True\n")
    shipped = []
    sc = types.SimpleNamespace(addPyFile=shipped.append)
    entry._ship_package(types.SimpleNamespace(sparkContext=sc))

    assert len(shipped) == 1
    want = {}
    for dirpath, _, files in os.walk(os.path.join(REPO, "nobletools_spark")):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                with open(full, "rb") as fh:
                    want[os.path.relpath(full, REPO)] = fh.read()
    with zipfile.ZipFile(shipped[0]) as zf:
        assert {n: zf.read(n) for n in zf.namelist()} == want


def test_html_export_pages_and_index(spark, tmp_path):
    """B2: per-document annotated HTML + index (HTMLExporter analog)."""
    from nobletools_spark.context.lexicon import modifier_dictionary
    from nobletools_spark.pipeline.export import (document_html,
                                                  write_html_reports)

    docs = generate_documents(spark, 6, seed=33, partitions=2)
    out = run_pipeline(spark, docs, fixture_dictionary(), "best-match",
                       context_dico=modifier_dictionary())
    path = str(tmp_path / "html")
    write_html_reports(out["documents"], out["mentions"], path)

    assert os.path.exists(os.path.join(path, "index.html"))
    pages = os.listdir(os.path.join(path, "reports"))
    assert len(pages) == 6
    sample = open(os.path.join(path, "reports", sorted(pages)[0])).read()
    assert '<span class="m' in sample          # highlighted mentions
    assert "found items: <b>" in sample        # footer counter
    # sharded index: executor-written part files carry the per-doc
    # links; the root only links parts (nothing per-doc on the driver)
    parts = sorted(os.listdir(os.path.join(path, "index_parts")))
    assert parts and all(p.startswith("part-") for p in parts)
    part_html = "".join(
        open(os.path.join(path, "index_parts", p)).read() for p in parts)
    assert part_html.count("../reports/") == 6
    index = open(os.path.join(path, "index.html")).read()
    assert index.count("index_parts/") == len(parts)
    assert "reports/" not in index.replace("index_parts/", "")

    # unit: span highlighting escapes HTML and marks negated mentions
    html = document_html(
        "no <evidence> of melanoma here",
        [{"cui": "C1", "concept_name": "Melanoma", "start": 17, "end": 25,
          "modifiers": {"Polarity": "Negative_Polarity"}}], title="t")
    assert "&lt;evidence&gt;" in html
    assert 'class="m neg"' in html and ">melanoma</span>" in html


def test_composition_results_long_format(spark):
    """CSVExporter.export(Composition):151-181 shape: accepted block
    first, per-property long-format rows, hasAnchor row per variable,
    per-doc sequential numbering, mention-resolved annotations."""
    from nobletools_spark.config import for_search_method
    from nobletools_spark.context.lexicon import modifier_dictionary
    from nobletools_spark.mentionsmodel.composition import (DomainSchema,
                                                            VariableDef,
                                                            compose)
    from nobletools_spark.pipeline.documents import DOCUMENTS_SCHEMA
    from nobletools_spark.pipeline.export import composition_results
    from nobletools_spark.pipeline.stages import (annotate_documents,
                                                  detect_mentions,
                                                  split_sentences)

    schema = DomainSchema(variables=[
        VariableDef(name="Finding", anchor_cuis=("C0012634",),
                    required=(("Polarity", ()),)),
        VariableDef(name="ImpossibleFinding", anchor_cuis=("C0012634",),
                    required=(("Polarity", ("NO_SUCH_VALUE",)),)),
    ])
    docs = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "No evidence of melanoma.",
                  "media_ref": "", "offset": 0}])],
        schema=DOCUMENTS_SCHEMA)
    dico = fixture_dictionary()
    sents = split_sentences(docs)
    ann = annotate_documents(
        sents, spark.sparkContext.broadcast(dico),
        spark.sparkContext.broadcast(modifier_dictionary()),
        for_search_method("best-match"))
    out = compose(ann, schema, dico)
    mentions = detect_mentions(
        sents, spark.sparkContext.broadcast(dico))
    rows = composition_results(out["instances"], out["failed"],
                               mentions).collect()
    accepted = [r for r in rows if r.type == "Accepted"]
    rejected = [r for r in rows if r.type == "Rejected"]
    # the satisfied Finding emits hasAnchor + its modifier rows; the
    # impossible one lands in the rejected block
    assert {r.variable for r in accepted} == {"Finding"}
    assert {r.variable for r in rejected} == {"ImpossibleFinding"}
    anchor = [r for r in accepted if r.prop == "hasAnchor"]
    assert len(anchor) == 1 and anchor[0].value == "C0025202"
    assert any(r.prop == "Polarity" and r.value == "Negative_Polarity"
               for r in accepted)
    # accepted numbering precedes rejected within the doc
    assert max(r.n for r in accepted) < min(r.n for r in rejected)
    # annotations resolve through the mentions frame as text/offset
    assert anchor[0].annotations.startswith("melanoma/")


def test_ntriples_export_shape_and_escaping(spark, tmp_path):
    """N-Triples lines: IRI-wrapped terms, terminating dot, reserved and
    space characters percent-encoded, round-trippable by a naive parser."""
    from nobletools_spark.pipeline.export import (triples_to_ntriples,
                                                  write_ntriples)
    t = spark.createDataFrame(
        [("doc 1", "mentions_concept", "C0001"),
         ("C0001", "isa", 'C<weird>"id"')],
        "subj string, pred string, obj string")
    lines = sorted(r.value for r in triples_to_ntriples(t).collect())
    assert lines[0] == ("<urn:nobletools:C0001> <urn:nobletools:isa> "
                        "<urn:nobletools:C%3Cweird%3E%22id%22> .")
    assert lines[1] == ("<urn:nobletools:doc%201> "
                        "<urn:nobletools:mentions_concept> "
                        "<urn:nobletools:C0001> .")
    out = str(tmp_path / "nt")
    write_ntriples(t, out, single_file=True)
    got = sorted(r.value for r in spark.read.text(out).collect())
    assert got == lines
    for ln in got:  # every line parses as exactly 3 IRIs + dot
        parts = ln.split(" ")
        assert len(parts) == 4 and parts[3] == "."
        assert all(p.startswith("<") and p.endswith(">") for p in parts[:3])


def test_ntriples_encoding_is_injective(spark):
    """'%' escapes first, so pre-encoded-looking ids never collide with
    ids containing the raw character ('a b' vs 'a%20b'), and non-ASCII
    passes through (RDF 1.1 N-Triples is UTF-8)."""
    from nobletools_spark.pipeline.export import triples_to_ntriples
    t = spark.createDataFrame(
        [("a b", "p", "o"), ("a%20b", "p", "o"), ("mélanoma", "p", "o")],
        "subj string, pred string, obj string")
    subs = {r.value.split(" ")[0] for r in triples_to_ntriples(t).collect()}
    assert subs == {"<urn:nobletools:a%20b>", "<urn:nobletools:a%2520b>",
                    "<urn:nobletools:mélanoma>"}


def test_ntriples_from_pipeline(spark):
    from nobletools_spark.pipeline.export import triples_to_ntriples
    docs = generate_documents(spark, 6, seed=2, partitions=2)
    out = run_pipeline(spark, docs, fixture_dictionary(), "best-match")
    n_lines = triples_to_ntriples(out["triples"]).count()
    assert n_lines == out["triples"].count() > 0

#!/usr/bin/env python3
"""Cluster entry point for the KG-construction pipeline.

Run on a cluster exactly as the north rule states::

    python scripts/package_pyfiles.py nobletools_spark.zip
    spark-submit --py-files nobletools_spark.zip \
        --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
        scripts/submit_pipeline.py \
        --input  s3://bucket/documents/              \
        --checkpoint-root /mnt/shared/ckpt/run1      \
        --catalog lake                               \
        --method best-match --salt-buckets 8 --canonicalize

On an object store the triple table MUST land through an Iceberg catalog
(``--catalog``, as above): Iceberg's commit protocol is designed for
stores without atomic rename. ``--table-root`` selects the parquet
SnapshotTable fallback instead, whose commit is a local ``os.replace``
pointer swap — it therefore accepts only LOCAL filesystem paths and
fails fast on ``s3://``-style URIs (the data files would land in the
store while the commit metadata landed on the driver's disk: neither
durable nor visible to any other reader). ``--checkpoint-root`` follows
the same rule for the same reason (stage manifests, and the parquet
footers the lineage is read from): give it a path that the driver and
every executor mount at the same place.

The script only uses SparkSession.getOrCreate() plus the library surface,
so it is agnostic to master/deploy-mode; locally it runs the same way
with ``spark-submit --master 'local[8]' ...``. Input is either the
north-rule interleaved table (doc_id, spans[]) or a flat (doc_id, text)
table, which is adapted via interleave_flat_documents. Resume is free:
re-submitting with the same checkpoint root skips completed stages and
re-commits the triple table at most once (fingerprinted snapshot).

Emits ONE JSON line on stdout with per-stage rows/resume flags and the
committed snapshot id, for the submitting orchestrator to parse.
"""

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="corpus path: interleaved documents or flat "
                         "(doc_id, text)")
    ap.add_argument("--format", choices=("parquet", "jsonl"),
                    default="parquet")
    ap.add_argument("--quarantine", default=None,
                    help="with --format jsonl: where to write malformed "
                         "lines (default: skip writing, count only)")
    ap.add_argument("--checkpoint-root", required=True)
    ap.add_argument("--table-root", default=None,
                    help="snapshot-committed triple table location "
                         "(omit to keep triples only in the checkpoint)")
    ap.add_argument("--catalog", default=None,
                    help="Iceberg catalog name if configured on the session")
    ap.add_argument("--method", default="best-match")
    ap.add_argument("--salt-buckets", type=int, default=0)
    ap.add_argument("--canonicalize", action="store_true")
    ap.add_argument("--context", action="store_true",
                    help="run the ConText modifier stage")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from nobletools_spark.pipeline.checkpoint import run_checkpointed_pipeline
    from nobletools_spark.pipeline.documents import interleave_flat_documents
    from nobletools_spark.pipeline.tables import catalog_configured
    from nobletools_spark.terminology.dataeng import dataeng_dictionary

    spark = SparkSession.builder.getOrCreate()
    n_quarantined = None
    if args.format == "jsonl":
        from nobletools_spark.pipeline.jsonl import read_documents_jsonl
        docs, quarantine = read_documents_jsonl(spark, args.input)
        if args.quarantine:
            quarantine.write.mode("overwrite").json(args.quarantine)
        n_quarantined = quarantine.count()
    else:
        docs = spark.read.parquet(args.input)
    if "spans" not in docs.columns:
        docs = interleave_flat_documents(docs)

    context_dico = None
    if args.context:
        from nobletools_spark.context.lexicon import modifier_dictionary
        context_dico = modifier_dictionary()

    results = run_checkpointed_pipeline(
        spark, docs, dataeng_dictionary(), args.checkpoint_root,
        args.method, context_dico=context_dico,
        salt_buckets=args.salt_buckets, canonicalize=args.canonicalize,
        table_root=args.table_root, catalog=args.catalog)

    snapshot_id = None
    if args.table_root and not (
            args.catalog and catalog_configured(spark, args.catalog)):
        # fallback path only: with a catalog the commit went through
        # Iceberg, which assigns its own snapshot ids
        from nobletools_spark.pipeline.tables import SnapshotTable
        snapshot_id = SnapshotTable(
            spark, args.table_root).current_snapshot_id()

    status = {
        "stages": {name: {"rows": r.rows, "resumed": r.resumed,
                          "skew": r.skew()}
                   for name, r in results.items()},
        "snapshot_id": snapshot_id,
    }
    if n_quarantined is not None:
        status["quarantined"] = n_quarantined
    print(json.dumps(status))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.J) — streaming here maps
document micro-batches onto the SAME stage functions via ``foreachBatch``:
sentences are independent and document state (the acronym pass) is
confined to one document inside one micro-batch, so no custom streaming
state is needed. Event analytics use native watermark +
tumbling/sliding windows.

Scale posture: a streaming KG build at 10^12-doc scale is this exact
topology — file/Kafka source partitions -> the batch stages per
micro-batch -> idempotent sink writes keyed by (doc_id, cui, start) so
replays upsert instead of duplicating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import for_search_method
from ..pipeline.documents import DOCUMENTS_SCHEMA
from ..pipeline.stages import document_mentions


def read_document_stream(spark: SparkSession, path: str,
                         max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of interleaved documents (one parquet per
    micro-batch bundle). ``maxFilesPerTrigger`` bounds batch size."""
    return (spark.readStream
            .schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(path))


def mention_stream_writer(docs_stream: DataFrame, dico_bc, sink_fn,
                          context_bc=None, method: str | None = None,
                          checkpoint_dir: str | None = None):
    """documents stream -> mentions per micro-batch via foreachBatch.

    ``sink_fn(batch_df, batch_id)`` receives the batch pipeline's
    ``document_mentions`` (annotated rows with a modifier terminology) —
    idempotency is the sink's contract (micro-batch replays carry the same
    batch_id). Returns the unstarted DataStreamWriter.
    """
    cfg = for_search_method(method)

    def run_batch(batch_df: DataFrame, batch_id: int):
        sink_fn(document_mentions(batch_df, dico_bc, context_bc, cfg),
                batch_id)

    writer = docs_stream.writeStream.foreachBatch(run_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def triple_stream_writer(docs_stream: DataFrame, dico_bc, dico,
                         table_root: str, context_bc=None,
                         method: str | None = None,
                         checkpoint_dir: str | None = None):
    """documents stream -> triples appended to a snapshot-committed graph
    table with EXACTLY-ONCE visibility per micro-batch.

    Each batch runs the batch pipeline's ``concept_stage``, materializes
    its mention triples (``include_isa=False`` — the static CUI->isa->CUI
    edges are committed once up front under the ``isa-base``
    fingerprint, not re-appended per batch), and lands through
    ``SnapshotTable.append_once`` keyed on (query identity, batch_id) —
    the (queryId, batchId) key of the Iceberg/SS exactly-once pattern. A
    foreachBatch replay after a crash re-runs the compute but finds its
    fingerprint already committed and no-ops, so downstream readers never
    see a doubled batch — honored by the parquet fallback too.

    The query identity matters: batch ids alone RESTART AT 0 for a new
    checkpoint location and collide across two queries appending to the
    same table root, so a bare ``batch-{id}`` key silently DROPS the
    second stream's early batches (data loss, not duplication). Identity
    = hash of the checkpoint location (stable across restarts of the
    same query, distinct per query), or a fresh random key when no
    checkpoint is used (an uncheckpointed stream replays nothing, so the
    key only needs to be unique per run).
    """
    import hashlib
    import uuid

    from ..pipeline.stages import (concept_stage, isa_triples,
                                   materialize_triples)
    from ..pipeline.tables import SnapshotTable

    cfg = for_search_method(method)
    spark = docs_stream.sparkSession
    if dico.isa_edges:
        SnapshotTable(spark, table_root).append_once(
            isa_triples(spark, dico), "isa-base")
    query_key = (hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
                 if checkpoint_dir else uuid.uuid4().hex[:12])

    def run_batch(batch_df: DataFrame, batch_id: int):
        triples = materialize_triples(
            concept_stage(batch_df, dico_bc, context_bc, cfg),
            batch_df.sparkSession, dico, include_isa=False)
        SnapshotTable(batch_df.sparkSession, table_root).append_once(
            triples, f"{query_key}-batch-{batch_id}")

    writer = docs_stream.writeStream.foreachBatch(run_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def windowed_event_counts(events: DataFrame,
                          window: str = "1 minute",
                          slide: str | None = None,
                          watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling (or sliding) window aggregation over the
    events stream: late rows beyond the watermark are dropped, state is
    bounded. Works identically on a batch DataFrame (no watermark)."""
    is_stream = events.isStreaming
    if is_stream:
        # watermarks require TIMESTAMP (not TIMESTAMP_NTZ)
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        events = events.withWatermark("ts", watermark)
    win = (F.window("ts", window, slide) if slide
           else F.window("ts", window))
    return (events.groupBy(win.alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n", "total_value"))


def sessionized_user_activity(events: DataFrame,
                              gap: str = "5 minutes",
                              watermark: str = "10 minutes") -> DataFrame:
    """Session windows per user (gap-based), watermarked on the stream."""
    is_stream = events.isStreaming
    if is_stream:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        events = events.withWatermark("ts", watermark)
    return (events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "user_id", "n_events", "total_value"))


def running_user_totals(events: DataFrame,
                        timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful operator: per-user cumulative (n_events, total)
    maintained across micro-batches with ``applyInPandasWithState`` — the
    escape hatch for stateful logic watermark windows can't express
    (here: unbounded running totals surviving the stream's lifetime).
    State per key is two numbers, so the state store stays O(#users)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total": [round(total, 2)]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def deduplicated_document_stream(docs: DataFrame,
                                 ts_col: str | None = None,
                                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup for a training-data ingest: the content
    digest is computed map-side over the concatenated text spans (the
    same 32-byte key the batch ``dedup_exact_documents`` shuffles), and
    ``dropDuplicates`` keys on it. With an event-time column the dedup
    state is BOUNDED via ``dropDuplicatesWithinWatermark`` — duplicates
    arriving later than the watermark may be re-admitted, the standard
    streaming-dedup tradeoff; without one the state grows with the number
    of distinct documents (document the retention expectations before
    running unbounded at 10^12-doc scale). Works on batch frames too."""
    text = F.expr("concat_ws('', transform(filter(spans,"
                  " s -> s.kind = 'text'), s -> s.text))")
    out = docs.withColumn("_digest", F.md5(text.cast("binary")))
    if docs.isStreaming and ts_col is not None:
        out = (out.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
               .withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(["_digest"]))
    else:
        out = out.dropDuplicates(["_digest"])
    return out.drop("_digest")


def correlated_event_pairs(events: DataFrame,
                           max_lag: str = "2 minutes",
                           watermark: str = "5 minutes") -> DataFrame:
    """Stream-stream interval join: error events joined to the same
    user's preceding purchase-class events within ``max_lag``. Watermarks
    on BOTH sides bound the join state. Works on batch frames too (the
    interval predicate is the same)."""
    base = events.select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                         "event_type", "value")
    a = base.where(F.col("event_type") == "error") \
            .withColumnRenamed("ts", "err_ts") \
            .withColumnRenamed("value", "err_value").drop("event_type")
    b = base.where(F.col("event_type") != "error") \
            .select(F.col("user_id").alias("b_user"),
                    F.col("ts").alias("prior_ts"),
                    F.col("event_type").alias("prior_type"))
    if events.isStreaming:
        a = a.withWatermark("err_ts", watermark)
        b = b.withWatermark("prior_ts", watermark)
    cond = ((a.user_id == b.b_user)
            & (b.prior_ts <= a.err_ts)
            & (b.prior_ts >= a.err_ts - F.expr(f"INTERVAL {max_lag}")))
    return (a.join(b, cond)
            .select("user_id", "err_ts", "err_value", "prior_ts",
                    "prior_type"))


def incremental_dedup_stream(docs_stream: DataFrame, state_dir: str,
                             sink_fn, text_col: str = "text",
                             threshold: float = 0.8,
                             checkpoint_dir: str | None = None):
    """Streaming near-dup detection against an ACCUMULATING corpus: each
    micro-batch of (doc_id, text) rows probes the persisted band-key
    state (textdata.dedup.band_keys parquet, appended batch over batch),
    emits every verified near-dup pair touching the batch via
    ``sink_fn(pairs_df, batch_id)``, then appends its own keys + texts to
    the state. This is the streaming form of the daily-crawl-delta dedup:
    per batch, the corpus side contributes only an equi-join against its
    key table plus a candidate-only text lookup — never a corpus rescan.

    Replay semantics: the pair sink must be idempotent on batch_id (the
    foreachBatch contract); a replayed state append leaves duplicate key
    AND text rows, both absorbed downstream (candidates are distinct'd,
    the text lookup dedupes per doc_id) — pairs are unaffected.
    State grows with the corpus — 3 longs/doc/band plus the text store —
    the honest cost of exact-threshold dedup against all history (the
    watermarked ``deduplicated_document_stream`` is the bounded-state
    alternative for exact dups only)."""
    from pyspark.errors import AnalysisException

    from ..textdata.dedup import (cache_scope, minhash_band_keys,
                                  minhash_dup_pairs,
                                  minhash_incremental_pairs_from_state)

    keys_path = state_dir.rstrip("/") + "/band_keys"
    texts_path = state_dir.rstrip("/") + "/texts"

    def _read_state(spark, path):
        """None when the state table does not exist yet. Probed through
        the Spark reader (not os.path) so remote filesystems —
        hdfs://, s3a:// — work: the state lives wherever the cluster's
        default FS puts it, which a driver-local isdir can't see.
        ONLY path-not-found maps to None: a transient read failure
        (FS hiccup, permissions, corrupt footer) must abort the batch —
        swallowing it would silently dedup the batch against itself
        only, and the miss would be permanent once its keys append."""
        try:
            return spark.read.parquet(path)
        except AnalysisException as e:
            cond = (e.getCondition() if hasattr(e, "getCondition")
                    else getattr(e, "getErrorClass", lambda: None)())
            if cond and "PATH_NOT_FOUND" in cond:
                return None
            raise

    def run_batch(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        batch = batch_df.select("doc_id", text_col)
        corpus_keys = _read_state(spark, keys_path)
        # cache_scope: this runs once per micro-batch forever — the
        # pipeline's internal candidate caches must be released on exit
        # or executor storage accumulates one dead cache per batch
        with cache_scope():
            if corpus_keys is not None:
                pairs = minhash_incremental_pairs_from_state(
                    corpus_keys, spark.read.parquet(texts_path), batch,
                    text_col, threshold)
            else:
                pairs = minhash_dup_pairs(batch, text_col, threshold)
            sink_fn(pairs, batch_id)
        # State appends are two non-atomic writes; order them so a crash
        # in between leaves the BENIGN partial state. Texts first: a
        # text row without band keys just means the doc isn't probe-able
        # yet (and a checkpointed replay re-appends both — duplicates are
        # absorbed downstream). The reverse order is the dangerous one:
        # keys without text make the doc a candidate whose verify join
        # (inner on the text lookup) silently drops every pair.
        batch.write.mode("append").parquet(texts_path)
        new_keys = minhash_band_keys(batch, text_col)
        new_keys.write.mode("append").parquet(keys_path)

    writer = docs_stream.writeStream.foreachBatch(run_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    else:
        import warnings
        warnings.warn(
            "incremental_dedup_stream without checkpoint_dir: a batch that "
            "crashes mid-state-append is never replayed, so its documents "
            "stay invisible to future probes. Pass checkpoint_dir in any "
            "non-test deployment.", stacklevel=2)
    return writer

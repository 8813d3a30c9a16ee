"""Structured Streaming tests: document micro-batches through the match
stages (foreachBatch), watermarked tumbling windows, session windows.
Uses file sources with availableNow + memory-collected sinks."""

import pytest
from pyspark.sql import functions as F

from nobletools_spark.pipeline.documents import generate_documents
from nobletools_spark.pipeline.stages import (annotate_documents,
                                              detect_mentions,
                                              split_sentences)
from nobletools_spark.streaming.pipeline import (mention_stream_writer,
                                                 read_document_stream,
                                                 sessionized_user_activity,
                                                 windowed_event_counts)
from nobletools_spark.terminology.fixture import fixture_dictionary

SF = "/root/testdata/sf0.001"


class TestDocumentStream:
    @pytest.mark.parametrize("context", [False, True],
                             ids=["none", "modifier"])
    def test_stream_matches_batch(self, spark, tmp_path, context):
        from nobletools_spark.context.lexicon import modifier_dictionary
        docs = generate_documents(spark, 24, seed=13, partitions=4)
        src = str(tmp_path / "src")
        docs.write.mode("overwrite").parquet(src)

        sc = spark.sparkContext
        dico_bc = sc.broadcast(fixture_dictionary())
        ctx_bc = sc.broadcast(modifier_dictionary()) if context else None
        collected = []

        def key(r):
            return (r.doc_id, r.sent_id, r.cui, r.start, r.end,
                    str(sorted(r.asDict().get("modifiers", {}).items())))

        def sink(batch_df, batch_id):
            collected.append({key(r) for r in batch_df.collect()})

        stream = read_document_stream(spark, src, max_files_per_trigger=2)
        q = (mention_stream_writer(stream, dico_bc, sink, context_bc=ctx_bc,
                                   checkpoint_dir=str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

        sents = split_sentences(spark.read.parquet(src))
        batch = (annotate_documents(sents, dico_bc, ctx_bc) if context
                 else detect_mentions(sents, dico_bc))
        expected = {key(r) for r in batch.collect()}
        got = set().union(*collected) if collected else set()
        assert got == expected
        assert len(collected) >= 2  # really micro-batched

    def test_stream_checkpoint_no_reprocess(self, spark, tmp_path):
        docs = generate_documents(spark, 8, seed=14, partitions=2)
        src = str(tmp_path / "src")
        docs.write.mode("overwrite").parquet(src)
        dico_bc = spark.sparkContext.broadcast(fixture_dictionary())
        seen_batches = []

        def sink(batch_df, batch_id):
            seen_batches.append(batch_df.count())

        ckpt = str(tmp_path / "ckpt")
        for _ in range(2):  # second run resumes from the checkpoint
            q = (mention_stream_writer(
                    read_document_stream(spark, src), dico_bc, sink,
                    checkpoint_dir=ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
        total_first = sum(seen_batches)
        assert total_first > 0
        # the second run found no new files: batch counts don't grow
        batch = detect_mentions(
            split_sentences(spark.read.parquet(src)), dico_bc).count()
        assert total_first == batch


class TestEventWindows:
    def test_windowed_counts_stream_equals_batch(self, spark, tmp_path):
        events = spark.read.parquet(f"{SF}/events.parquet")
        batch_out = windowed_event_counts(events).collect()
        assert batch_out
        key = lambda r: (r.window_start, r.event_type)
        batch_map = {key(r): (r.n, r.total_value) for r in batch_out}

        src = str(tmp_path / "ev")
        events.write.mode("overwrite").parquet(src)
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = windowed_event_counts(stream)
        q = (out.writeStream.format("memory").queryName("wincounts")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("select * from wincounts").collect()
        got_map = {key(r): (r.n, r.total_value) for r in got}
        # append mode emits only watermark-closed windows; all emitted
        # windows must agree exactly with the batch computation
        assert got_map
        for k, v in got_map.items():
            assert batch_map[k] == v

    def test_session_windows_batch(self, spark):
        events = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 00:02:00", 2.0),
             (1, "2024-01-01 00:30:00", 3.0), (2, "2024-01-01 00:00:00", 4.0)],
            "user_id long, ts_s string, value double"
        ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
        out = sessionized_user_activity(events).collect()
        u1 = sorted([r for r in out if r.user_id == 1],
                    key=lambda r: r.session_start)
        assert len(u1) == 2            # 0:00-0:02 and 0:30 sessions split
        assert u1[0].n_events == 2 and u1[1].n_events == 1
        assert len([r for r in out if r.user_id == 2]) == 1


class TestStatefulOperator:
    def test_running_totals_accumulate_across_batches(self, spark, tmp_path):
        from nobletools_spark.streaming.pipeline import running_user_totals
        events = (spark.read.parquet(f"{SF}/events.parquet")
                  .select("user_id", "ts", "value"))
        # split into two file batches so state must carry over
        src = str(tmp_path / "ev")
        half = events.count() // 2
        events.limit(half).write.mode("overwrite").parquet(src + "/b1")
        events.subtract(events.limit(half)).write.mode("overwrite") \
            .parquet(src + "/b2")

        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(src + "/*"))
        out = running_user_totals(stream)
        q = (out.writeStream.format("memory").queryName("runtotals")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

        # last update per user must equal the batch ground truth
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window
        got = spark.sql("select * from runtotals")
        last = {}
        for r in got.collect():
            last[r.user_id] = (r.n_events, r.total)  # later rows overwrite
        truth = {r.user_id: (r.n, round(r.total, 2)) for r in
                 events.groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("value").alias("total")).collect()}
        for u, (n, t) in truth.items():
            assert last[u][0] == n
            assert abs(last[u][1] - t) < 0.05


class TestStreamStreamJoin:
    def test_interval_join_stream_equals_batch(self, spark, tmp_path):
        from nobletools_spark.streaming.pipeline import correlated_event_pairs
        events = spark.read.parquet(f"{SF}/events.parquet").limit(2000)
        batch = {tuple(r) for r in correlated_event_pairs(events).collect()}
        assert batch

        src = str(tmp_path / "ev")
        events.write.mode("overwrite").parquet(src)
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = correlated_event_pairs(stream)
        q = (out.writeStream.format("memory").queryName("sspairs")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.sql("select * from sspairs").collect()}
        # append emits watermark-closed results; everything emitted must be
        # a correct pair, and most of the batch result should surface
        assert got <= batch
        assert len(got) >= len(batch) * 0.5


class TestStreamingDedup:
    def test_stream_dedup_matches_batch(self, spark, tmp_path):
        from nobletools_spark.streaming.pipeline import (
            deduplicated_document_stream, read_document_stream)
        base = generate_documents(spark, 12, seed=17, partitions=2)
        # plant exact duplicates under fresh doc_ids
        dup = base.limit(4).withColumn(
            "doc_id", F.concat(F.lit("copy-"), F.col("doc_id")))
        docs = base.unionByName(dup)
        src = str(tmp_path / "dsrc")
        docs.write.mode("overwrite").parquet(src)

        # batch semantics: one survivor per distinct content
        batch_out = deduplicated_document_stream(spark.read.parquet(src))
        assert batch_out.count() == 12

        stream = read_document_stream(spark, src, max_files_per_trigger=1)
        out = deduplicated_document_stream(stream)
        q = (out.writeStream.format("memory").queryName("dedupdocs")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "dckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM dedupdocs")
        # streaming dedup state spans micro-batches: same 12 survivors
        assert got.count() == 12
        text = F.expr("concat_ws('', transform(filter(spans,"
                      " s -> s.kind = 'text'), s -> s.text))")
        assert got.select(F.md5(text.cast("binary"))).distinct().count() == 12


class TestIncrementalDedupStream:
    def test_union_of_batches_matches_full_corpus(self, spark, tmp_path):
        from nobletools_spark.streaming.pipeline import (
            incremental_dedup_stream)
        from nobletools_spark.textdata.dedup import minhash_dup_pairs

        docs = (spark.read.parquet(f"{SF}/documents.parquet")
                .select("doc_id", "text"))
        b1 = docs.where(F.col("doc_id") % 2 == 0)
        b2 = docs.where(F.col("doc_id") % 2 == 1)
        src = str(tmp_path / "isrc")
        # one file per micro-batch (maxFilesPerTrigger=1)
        b1.coalesce(1).write.mode("overwrite").parquet(src + "/f1")
        b2.coalesce(1).write.mode("append").parquet(src + "/f1")

        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(src + "/f1"))
        per_batch: dict[int, set] = {}

        def sink(pairs_df, batch_id):
            per_batch[batch_id] = {(r.a, r.b) for r in pairs_df.collect()}

        q = incremental_dedup_stream(
            stream, str(tmp_path / "istate"), sink,
            checkpoint_dir=str(tmp_path / "ickpt"))
        sq = q.trigger(availableNow=True).start()
        sq.awaitTermination(180)

        assert len(per_batch) >= 2          # really ran incrementally
        got = set().union(*per_batch.values())
        want = {(r.a, r.b) for r in
                minhash_dup_pairs(docs, threshold=0.8).collect()}
        assert got == want and len(want) > 0
        # cross-batch pairs exist and are emitted by the LATER batch
        later = set().union(*(v for k, v in per_batch.items() if k > 0))
        cross = {p for p in want if (p[0] % 2) != (p[1] % 2)}
        if cross:
            assert cross <= later
        # state accumulated both batches
        n_state = spark.read.parquet(
            str(tmp_path / "istate" / "texts")).count()
        assert n_state == docs.count()


class TestIncrementalDedupRestart:
    def test_restart_from_checkpoint_processes_only_new_files(
            self, spark, tmp_path):
        # north-rule resumability on the streaming surface: a stopped
        # query restarted with the same checkpoint must not reprocess
        # (or re-append state for) batches it already committed
        from nobletools_spark.streaming.pipeline import (
            incremental_dedup_stream)
        docs = (spark.read.parquet(f"{SF}/documents.parquet")
                .select("doc_id", "text"))
        b1 = docs.where(F.col("doc_id") < 100)
        b2 = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
        src = str(tmp_path / "rsrc")
        b1.coalesce(1).write.mode("overwrite").parquet(src)

        seen: list[int] = []

        def sink(pairs_df, batch_id):
            pairs_df.count()
            seen.append(batch_id)

        def start():
            stream = (spark.readStream.schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", "1").parquet(src))
            q = incremental_dedup_stream(
                stream, str(tmp_path / "rstate"), sink,
                checkpoint_dir=str(tmp_path / "rckpt"))
            sq = q.trigger(availableNow=True).start()
            sq.awaitTermination(180)

        start()                      # run 1: processes b1
        n_after_1 = len(seen)
        assert n_after_1 >= 1
        state_1 = spark.read.parquet(
            str(tmp_path / "rstate" / "texts")).count()
        assert state_1 == b1.count()

        b2.coalesce(1).write.mode("append").parquet(src)
        start()                      # run 2: must process ONLY b2
        assert len(seen) == n_after_1 + 1
        state_2 = spark.read.parquet(
            str(tmp_path / "rstate" / "texts")).count()
        # b1 was NOT re-appended on restart
        assert state_2 == b1.count() + b2.count()


class TestStreamingScrub:
    def test_pii_scrub_stream_equals_batch(self, spark, tmp_path):
        """pii_scrub is a stateless narrow map, so it runs UNCHANGED as a
        streaming transformation — same plan, watermark-free."""
        from nobletools_spark.textdata.analysis import pii_scrub
        rows = [(i, f"doc {i} mail a{i}@x.example.com ip 10.0.0.{i % 256}")
                for i in range(20)]
        src = str(tmp_path / "piisrc")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .repartition(4).write.mode("overwrite").parquet(src)

        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 2).parquet(src))
        q = (pii_scrub(stream).writeStream.format("memory")
             .queryName("scrubbed").trigger(availableNow=True).start())
        q.awaitTermination(120)

        got = {r.doc_id: r for r in
               spark.sql("select * from scrubbed").collect()}
        want = {r.doc_id: r for r in
                pii_scrub(spark.read.parquet(src)).collect()}
        assert set(got) == set(want) and len(got) == 20
        for k in got:
            assert got[k].clean == want[k].clean
            assert (got[k].n_email, got[k].n_ip) == (1, 1)


class TestTripleStreamSink:
    def test_stream_equals_batch_and_replay_is_noop(self, spark, tmp_path):
        """Streaming triples through the snapshot-committed sink equals the
        batch pipeline's triples, and a foreachBatch replay (same batch_id)
        commits nothing new."""
        from nobletools_spark.pipeline.stages import materialize_triples
        from nobletools_spark.pipeline.tables import SnapshotTable
        from nobletools_spark.streaming.pipeline import (
            read_document_stream, triple_stream_writer)

        docs = generate_documents(spark, 16, seed=3, partitions=4)
        src = str(tmp_path / "src")
        docs.write.mode("overwrite").parquet(src)

        dico = fixture_dictionary()
        dico_bc = spark.sparkContext.broadcast(dico)
        loc = str(tmp_path / "triples")
        stream = read_document_stream(spark, src, max_files_per_trigger=2)
        q = (triple_stream_writer(stream, dico_bc, dico, loc,
                                  checkpoint_dir=str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

        table = SnapshotTable(spark, loc)
        got = {tuple(r) for r in
               table.read().select("subj", "pred", "obj").collect()}
        batch = materialize_triples(
            detect_mentions(split_sentences(spark.read.parquet(src)),
                            dico_bc), spark, dico)
        want = {tuple(r) for r in
                batch.select("subj", "pred", "obj").collect()}
        assert got == want and got
        n_snaps = len(table.snapshots())
        assert n_snaps >= 3  # isa-base + >=2 micro-batches

        # replay batch 0 by hand: same (query, batch) fingerprint -> no
        # new snapshot (the key the writer derives from its checkpoint)
        import hashlib
        qk = hashlib.md5(str(tmp_path / "ckpt").encode()).hexdigest()[:12]
        mentions = detect_mentions(
            split_sentences(spark.read.parquet(src)), dico_bc)
        replay = materialize_triples(mentions, spark, dico,
                                     include_isa=False)
        table.append_once(replay, f"{qk}-batch-0")
        assert len(table.snapshots()) == n_snaps
        assert {tuple(r) for r in
                table.read().select("subj", "pred", "obj").collect()} == want

    def test_two_queries_one_table_do_not_collide(self, spark, tmp_path):
        """Batch ids restart at 0 per checkpoint location; a second query
        appending to the same table root must NOT find its batch-0
        fingerprint already taken (that was silent data loss under the
        bare batch-{id} key)."""
        from nobletools_spark.pipeline.stages import materialize_triples
        from nobletools_spark.pipeline.tables import SnapshotTable
        from nobletools_spark.streaming.pipeline import (
            read_document_stream, triple_stream_writer)

        dico = fixture_dictionary()
        dico_bc = spark.sparkContext.broadcast(dico)
        loc = str(tmp_path / "triples")
        srcs = []
        for i, seed in enumerate((5, 6)):
            docs = generate_documents(spark, 4, seed=seed, partitions=1)
            # disjoint doc ids so the two corpora contribute disjoint
            # mention triples
            docs = docs.withColumn(
                "doc_id", F.concat(F.lit(f"q{i}_"), F.col("doc_id")))
            src = str(tmp_path / f"src{i}")
            docs.write.mode("overwrite").parquet(src)
            srcs.append(src)
            q = (triple_stream_writer(
                    read_document_stream(spark, src), dico_bc, dico, loc,
                    checkpoint_dir=str(tmp_path / f"ckpt{i}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        got = {tuple(r) for r in SnapshotTable(spark, loc).read()
               .select("subj", "pred", "obj").collect()}
        both = spark.read.parquet(*srcs)
        want = {tuple(r) for r in materialize_triples(
            detect_mentions(split_sentences(both), dico_bc), spark, dico)
            .select("subj", "pred", "obj").collect()}
        assert got == want

    def test_isa_base_committed_once_across_restarts(self, spark, tmp_path):
        from nobletools_spark.pipeline.tables import SnapshotTable
        from nobletools_spark.streaming.pipeline import (
            read_document_stream, triple_stream_writer)

        docs = generate_documents(spark, 4, seed=4, partitions=1)
        src = str(tmp_path / "src")
        docs.write.mode("overwrite").parquet(src)
        dico = fixture_dictionary()
        dico_bc = spark.sparkContext.broadcast(dico)
        loc = str(tmp_path / "triples")
        for _ in range(2):  # second construction = restart
            q = (triple_stream_writer(
                    read_document_stream(spark, src), dico_bc, dico, loc,
                    checkpoint_dir=str(tmp_path / "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
        snaps = SnapshotTable(spark, loc).snapshots()
        fps = [s["props"]["fingerprint"] for s in snaps]
        assert fps.count("isa-base") == 1
        assert len(fps) == len(set(fps))

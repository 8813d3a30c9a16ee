"""Training-data operator tests: MinHash/LSH + SimHash + exact Jaccard
dedup, embedding near-dup (brute vs LSH), fingerprints, token counts,
multimodal plumbing. DuckDB is used in-test as the oracle for the
SQL-expressible ops."""

import duckdb
import pytest
from pyspark.sql import functions as F

from nobletools_spark.textdata import analysis as A
from nobletools_spark.textdata import dedup as D
from nobletools_spark.textdata import multimodal as M

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def shingled(spark, docs):
    return D.shingle_array(docs).cache()


class TestMinHash:
    def test_shingles_match_python(self, spark):
        df = spark.createDataFrame([(1, "a b c d"), (2, "x y")],
                                   "doc_id long, text string")
        got = {r.doc_id: sorted(r.shingles)
               for r in D.shingle_array(df).collect()}
        assert got == {1: ["a b c", "b c d"], 2: []}

    def test_identical_docs_identical_signatures(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely different text with other words entirely")],
            "doc_id long, text string")
        sig = {r.doc_id: tuple(r.sig) for r in
               D.minhash_signatures(D.shingle_array(df)).collect()}
        assert sig[1] == sig[2] != sig[3]
        assert len(sig[1]) == D.DEFAULT_NUM_HASHES

    def test_signatures_and_band_keys_golden(self, spark):
        # band_keys is the persisted state of incremental and streaming
        # dedup: any change to the signature expression must keep these
        # rows bit-identical. Covers the empty-set sentinel three ways:
        # empty text, a one-token doc (no 3-gram) and a null array.
        import hashlib
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over a lazy cat"),
             (3, ""), (4, "single"),
             (5, "completely different words with nothing shared at all")],
            "doc_id long, text string")
        shingled = D.shingle_array(df).unionByName(spark.createDataFrame(
            [(6, None)], "doc_id long, shingles array<string>"))
        sig = D.minhash_signatures(shingled)
        rows = sorted((r.doc_id, tuple(r.sig)) for r in sig.collect())
        keys = sorted(tuple(r) for r in D.band_keys(sig).collect())
        md5 = lambda x: hashlib.md5(str(x).encode()).hexdigest()[:12]
        assert [len(s) for _, s in rows] == [D.DEFAULT_NUM_HASHES] * 6
        assert md5(rows) == "171f9320310a"
        assert len(keys) == 6 * D.DEFAULT_BANDS
        assert md5(keys) == "5ba931180a0a"

    def test_lsh_finds_planted_dups_and_verify_filters(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        df = spark.createDataFrame(
            [(1, base), (2, base),                       # exact dup
             (3, base + " extra"),                        # near dup
             (4, "unrelated words that share nothing at all here")],
            "doc_id long, text string")
        pairs = {(r.a, r.b): r.jaccard
                 for r in D.minhash_dup_pairs(df, threshold=0.5).collect()}
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
        assert not any(4 in p for p in pairs)

    def test_lsh_recall_vs_exact_on_testdata(self, spark, docs, shingled):
        exact = {(r.a, r.b) for r in
                 D.exact_jaccard_pairs(docs, threshold=0.8).collect()}
        lsh = {(r.a, r.b) for r in
               D.minhash_dup_pairs(docs, threshold=0.8).collect()}
        assert exact, "testdata should contain planted near-dups"
        # LSH+verify returns a subset of the exact pairs by construction;
        # at J>=0.8 with 64 hashes / 16 bands recall is ~1 — pin equality
        assert lsh == exact

    def test_star_candidates_linear_and_same_components(self, spark):
        # one degenerate bucket of n identical docs must emit n-1 star
        # edges (not C(n,2)) yet still group everything into one component
        n = 40
        df = spark.createDataFrame(
            [(i, "same words repeated here for everyone in this bucket")
             for i in range(n)], "doc_id long, text string")
        sig = D.minhash_signatures(D.shingle_array(df))
        star = D.lsh_candidate_pairs(sig)
        # linear in bucket size: n-1 distinct edges, one per member per
        # band (no dedup shuffle — downstream is duplicate-tolerant)
        assert star.distinct().count() == n - 1
        assert star.count() == D.DEFAULT_BANDS * (n - 1)
        comp = D.candidate_components(
            D.lsh_candidate_pairs(sig)).collect()
        assert {r.comp for r in comp} == {0} and len(comp) == n

    def test_oversize_components_surfaced_not_silent(self, spark):
        n = 30
        df = spark.createDataFrame(
            [(i, "identical content for the oversize component check")
             for i in range(n)], "doc_id long, text string")
        comp = D.candidate_components(D.lsh_candidate_pairs(
            D.minhash_signatures(D.shingle_array(df))))
        over = D.oversize_components(comp, max_component=10).collect()
        assert over and over[0].n_docs == n  # visible to the caller
        # and the capped pair emitter excludes exactly that component
        assert D.component_pairs(comp, max_component=10).count() == 0

    def test_dup_groups_match_pairwise_closure(self, spark, docs):
        pairs = D.minhash_dup_pairs(docs, threshold=0.8).collect()
        groups = {r.doc_id: r.group_id
                  for r in D.minhash_dup_groups(docs, threshold=0.8).collect()}
        # every doc in a verified pair appears, labeled by its component min
        import itertools
        adj = {}
        for r in pairs:
            adj.setdefault(r.a, set()).add(r.b)
            adj.setdefault(r.b, set()).add(r.a)
        assert set(groups) == set(adj)
        for node in adj:
            seen, stack = {node}, [node]
            while stack:
                for nb in adj[stack.pop()]:
                    if nb not in seen:
                        seen.add(nb); stack.append(nb)
            assert groups[node] == min(seen)

    def test_exact_jaccard_matches_duckdb(self, spark, docs):
        got = sorted((r.a, r.b, round(r.jaccard, 4))
                     for r in D.exact_jaccard_pairs(docs, threshold=0.8).collect())
        want = sorted(duckdb.sql(f"""
            WITH d AS (SELECT doc_id,
                              string_split_regex(lower(trim(text)), '\\W+') toks
                       FROM '{SF}/documents.parquet'),
            sh AS (SELECT doc_id, unnest(list_transform(
                       range(1, greatest(len(toks)-2,0)+1),
                       i -> concat(toks[i],' ',toks[i+1],' ',toks[i+2]))) s
                   FROM d),
            s2 AS (SELECT DISTINCT doc_id, s FROM sh WHERE s <> ''),
            p AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM s2 a
                  JOIN s2 b ON a.s=b.s AND a.doc_id<b.doc_id GROUP BY 1,2),
            z AS (SELECT doc_id, count(*) n FROM s2 GROUP BY 1)
            SELECT p.a, p.b, round(i*1.0/(za.n+zb.n-i), 4) j
            FROM p JOIN z za ON p.a=za.doc_id JOIN z zb ON p.b=zb.doc_id
            WHERE i*1.0/(za.n+zb.n-i) >= 0.8""").fetchall())
        assert [(a, b, float(j)) for a, b, j in got] == \
            [(a, b, float(j)) for a, b, j in want]


class TestSubstringDedup:
    def test_planted_shared_run_found_with_offsets(self, spark):
        from nobletools_spark.textdata.dedup import substring_dup_spans
        df = spark.createDataFrame([
            (1, "alpha beta gamma delta epsilon zeta unique1 unique2"),
            (2, "prefix alpha beta gamma delta epsilon zeta suffix"),
            (3, "totally different words here nothing shared at all"),
            (4, "short doc"),
        ], "doc_id long, text string")
        got = {(r.doc_id, r.start_tok, r.end_tok, r.span_tokens)
               for r in substring_dup_spans(df).collect()}
        # the shared 6-token run, at each doc's own offset; nothing else
        assert got == {(1, 1, 6, 6), (2, 2, 7, 6)}

    def test_adjacent_runs_merge(self, spark):
        from nobletools_spark.textdata.dedup import substring_dup_spans
        # doc 3 shares [a b c] with doc 1 and [d e f] with doc 2; in doc 3
        # the two duplicated trigrams are adjacent -> ONE merged span
        df = spark.createDataFrame([
            (1, "a b c x1 y1 z1"),
            (2, "x2 y2 z2 d e f"),
            (3, "a b c d e f"),
        ], "doc_id long, text string")
        got = {r.doc_id: (r.start_tok, r.end_tok)
               for r in substring_dup_spans(df).collect()}
        assert got[3] == (1, 6)
        assert got[1] == (1, 3) and got[2] == (4, 6)

    def test_no_cross_doc_dup_no_rows(self, spark):
        from nobletools_spark.textdata.dedup import substring_dup_spans
        df = spark.createDataFrame(
            [(1, "p q r s t"), (2, "u v w x y")], "doc_id long, text string")
        assert substring_dup_spans(df).count() == 0


class TestSimHash:
    def test_identical_zero_hamming(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four"), (2, "one two three four"),
             (3, "five six seven eight")],
            "doc_id long, text string")
        pairs = {(r.a, r.b): r.hamming
                 for r in D.simhash_neardup_pairs(df).collect()}
        assert pairs.get((1, 2)) == 0
        assert (1, 3) not in pairs

    def test_near_text_small_hamming(self, spark, docs):
        pairs = D.simhash_neardup_pairs(docs, max_hamming=6).collect()
        assert pairs  # planted near-dups surface
        assert all(r.hamming <= 6 for r in pairs)


class TestEmbeddingNearDup:
    def test_lsh_subset_of_brute(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        brute = {(r.a, r.b) for r in
                 D.embedding_neardup_pairs(emb, threshold=0.4).collect()}
        lsh = {(r.a, r.b) for r in
               D.embedding_lsh_neardup_pairs(emb, threshold=0.4,
                                             dim=64).collect()}
        assert lsh <= brute
        assert brute  # pairs exist at this threshold

    def test_planted_duplicate_found_by_lsh(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
        dup = emb.withColumn("vec_id", F.col("vec_id") + 100000)
        both = emb.unionByName(dup)
        lsh = {(r.a, r.b): r.cosine for r in
               D.embedding_lsh_neardup_pairs(both, threshold=0.99,
                                             dim=64).collect()}
        assert len(lsh) >= 50  # every vector pairs with its clone
        assert all(c >= 0.99 for c in lsh.values())

    def test_brute_matches_duckdb(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        got = sorted((r.a, r.b, r.cosine) for r in
                     D.embedding_neardup_pairs(emb, threshold=0.4).collect())
        want = sorted(duckdb.sql(f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
                       FROM '{SF}/embeddings.parquet')
            SELECT a.vec_id, b.vec_id,
                   round(list_dot_product(a.v,b.v) /
                         (sqrt(list_dot_product(a.v,a.v)) *
                          sqrt(list_dot_product(b.v,b.v))), 4) c
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v,b.v) /
                  (sqrt(list_dot_product(a.v,a.v)) *
                   sqrt(list_dot_product(b.v,b.v))) >= 0.4""").fetchall())
        assert [(a, b, float(c)) for a, b, c in got] == \
            [(a, b, float(c)) for a, b, c in want]


def _halves(d):
    # the null-id row goes to BOTH sides of the two-input families
    null = F.col("doc_id").isNull()
    return (d.where(null | (F.col("doc_id") <= 2)),
            d.where(null | (F.col("doc_id") > 2)))


BANDED_FAMILIES = {
    "simhash": D.simhash_neardup_pairs,
    "embedding_lsh": lambda d: D.embedding_lsh_neardup_pairs(
        d.select(F.col("doc_id").alias("vec_id"),
                 F.array_repeat(F.lit(1.0), 64).alias("embedding")),
        threshold=0.9, dim=64),
    "incremental": lambda d: D.minhash_incremental_pairs(
        *_halves(d), threshold=0.5),
    "cross_corpus": lambda d: D.cross_corpus_pairs(*_halves(d),
                                                   threshold=0.5),
    "minhash": lambda d: D.minhash_dup_pairs(d, threshold=0.5),
}


@pytest.mark.parametrize("family", sorted(BANDED_FAMILIES))
def test_banded_pairs_distinct_and_never_null(spark, family):
    # identical documents collide in every band, so every pair is found
    # once per band before the dedup; a null id must never pair (a struct
    # id around a null still compares, nulls first)
    text = "the very same words in every document so all bands collide"
    d = spark.createDataFrame([(1, text), (2, text), (3, text),
                               (None, text)], "doc_id long, text string")
    pairs = [(r[0], r[1]) for r in BANDED_FAMILIES[family](d).collect()]
    assert pairs
    assert len(pairs) == len(set(pairs))
    assert not any(None in p for p in pairs)


class TestAnalysis:
    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello, world! It's 2024."), (2, ""), (3, "   ")],
            "doc_id long, text string")
        got = {r.doc_id: (r.ws_tokens, r.bpe_tokens)
               for r in A.token_counts(df).collect()}
        # BPE-ish: Hello , world ! It ' s 2024 . = 9 pieces
        assert got[1] == (4, 9)
        assert got[2] == (0, 0) and got[3] == (0, 0)

    def test_fingerprint_stable_and_distinct(self, spark):
        df = spark.createDataFrame(
            [(1, "a" * 100), (2, "a" * 100), (3, "b" * 100), (4, "short")],
            "doc_id long, text string")
        fp = {r.doc_id: tuple(r.fingerprint)
              for r in A.doc_fingerprints(df).collect()}
        assert fp[1] == fp[2] != fp[3]
        assert fp[4] == ()  # shorter than window k
        groups = A.fingerprint_dup_groups(df).collect()
        assert any(g.doc_ids == "1,2" for g in groups)

    def test_quality_scores_ranges(self, spark, docs):
        q = A.quality_scores(docs).collect()
        assert q
        for r in q:
            for c in ("alpha_ratio", "digit_ratio", "punct_ratio",
                      "stop_ratio"):
                assert 0.0 <= getattr(r, c) <= 1.0


    def test_repetition_stats_hand_case(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a c"),       # 6 toks: top uni a=3, top bi "a b"=2, tri all distinct? a b a / b a b / a b a / b a c -> "a b a" twice
             (2, "x y z"),             # all distinct
             (3, "w w")],              # excluded (< 3 tokens)
            "doc_id long, text string")
        got = {r.doc_id: r for r in A.repetition_stats(df).collect()}
        assert set(got) == {1, 2}
        r1 = got[1]
        assert r1.n_tokens == 6
        assert r1.top_unigram_frac == round(3 / 6, 4)
        assert r1.top_bigram_frac == round(2 / 5, 4)
        assert r1.dup_trigram_frac == round(1 / 4, 4)  # "a b a" twice
        r2 = got[2]
        assert (r2.top_unigram_frac, r2.dup_trigram_frac) == (
            round(1 / 3, 4), 0.0)

    def test_c4_filters_rules(self, spark):
        # 41 words, stop word present, mean len (3+40*5)/41 = 4.95 in band
        long_ok = "the " + " ".join(["words"] * 40)
        df = spark.createDataFrame(
            [(1, long_ok),
             (2, "tiny doc the"),                        # too few words
             (3, " ".join(["words"] * 40))],             # no stop word
            "doc_id long, text string")
        got = {r.doc_id: r for r in A.c4_filters(df).collect()}
        assert got[1].keep and got[1].ok_word_count and got[1].has_stop_word
        assert not got[2].keep and not got[2].ok_word_count
        assert not got[3].keep and not got[3].has_stop_word

    def test_repetition_and_c4_are_narrow(self, spark, docs):
        # pre-training corpus stats must stay pure map stages — any
        # Exchange here becomes a full-corpus shuffle at 100 TB
        for frame in (A.repetition_stats(docs), A.c4_filters(docs)):
            plan = frame.sparkSession._jvm.PythonSQLUtils.explainString(
                frame._jdf.queryExecution(), "formatted")
            assert "Exchange" not in plan


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        from nobletools_spark.pipeline.documents import generate_documents
        docs = generate_documents(spark, 20, seed=9, partitions=2)
        return M.media_table(docs).cache()

    def test_media_table_shape(self, media):
        rows = media.collect()
        assert rows
        for r in rows:
            assert r.kind in ("image", "table")
            assert r.media_ref.startswith("media://")
            assert r.content is not None and len(r.content) > 0

    def test_decode_deterministic_via_real_header_parse(self, media):
        rows1 = M.decode_images(media).collect()
        d1 = {r.media_ref: (r.width, r.height, r.channels) for r in rows1}
        d2 = {r.media_ref: (r.width, r.height, r.channels)
              for r in M.decode_images(media).collect()}
        assert d1 == d2 and d1
        for w, h, c in d1.values():
            assert 64 <= w < 256 and 64 <= h < 256 and c in (1, 3, 4)
        # the synthesized bytes are valid PNGs -> the REAL header decoder
        # (or Pillow, if installed) handles them; never the fake
        assert {r.decoder for r in rows1} <= {"png-header", "pillow"}

    def test_header_decoder_all_formats(self):
        import struct
        # PNG via the synthesizer (round-trips the IHDR fields)
        import hashlib
        ref = "media://x/1"
        d = hashlib.sha256(ref.encode()).digest()
        got = M.header_dims(M.synth_png(ref))
        assert got == (64 + d[0] % 192, 64 + d[1] % 192,
                       {0: 1, 2: 3, 6: 4}[(0, 2, 6)[d[2] % 3]],
                       "png-header")
        # GIF89a logical screen 320x200
        gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
        assert M.header_dims(gif) == (320, 200, 3, "gif-header")
        # BMP, 24bpp, height negative (top-down) -> abs
        bmp = (b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480)
               + b"\x01\x00" + struct.pack("<H", 24) + b"\x00" * 8)
        assert M.header_dims(bmp) == (640, 480, 3, "bmp-header")
        # JPEG: SOI, APP0 segment, SOF0 with h=120 w=80, 3 components
        jpeg = (b"\xff\xd8"
                + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
                + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
                + struct.pack(">HH", 120, 80) + b"\x03")
        assert M.header_dims(jpeg) == (80, 120, 3, "jpeg-header")
        # non-image bytes -> None (falls to the marked fake downstream)
        assert M.header_dims(b"plain text bytes here") is None
        assert M.header_dims(b"") is None

    def test_features_shape(self, media):
        import hashlib
        feats = M.media_features(media).collect()
        assert feats
        for r in feats:
            assert len(r.embedding) == M.FEATURE_DIM
            assert all(-0.5 <= x <= 0.5 for x in r.embedding)
            # stub contract: bytes are sha256(ref) || sha256(ref+':1'),
            # components byte/256 - 0.5 exactly (no float32 error)
            raw = (hashlib.sha256(r.media_ref.encode()).digest()
                   + hashlib.sha256(f"{r.media_ref}:1".encode()).digest())
            want = [b / 256.0 - 0.5 for b in raw[:M.FEATURE_DIM]]
            assert list(r.embedding) == want

    def test_frame_sampling(self, spark):
        media = spark.createDataFrame(
            [("d1", "media://d1/0", "video", None, {"duration_ms": "3500"}),
             ("d2", "media://d2/0", "video", None, {}),
             ("d3", "media://d3/0", "image", None, {})],
            schema=M.MEDIA_SCHEMA)
        frames = M.sample_frames(media, every_ms=1000, max_frames=8).collect()
        by_doc = {}
        for r in frames:
            by_doc.setdefault(r.doc_id, []).append(r.ts_ms)
        assert sorted(by_doc["d1"]) == [0, 1000, 2000, 3000]
        assert "d3" not in by_doc          # images don't produce frames
        assert 1 <= len(by_doc["d2"]) <= 8  # stub duration bounded


class TestIvfAnn:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        # unpersisted on teardown: a cached scan left behind changes the
        # plans of later tests that read the same file
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
        yield emb
        emb.unpersist()

    @pytest.fixture(scope="class")
    def probe(self, emb):
        return [float(x) for x in
                emb.where("vec_id = 0").first()["embedding"]]

    def test_full_probe_equals_brute(self, spark, emb, probe):
        from nobletools_spark.textdata.ann import brute_topk, build_ivf
        idx = build_ivf(emb, n_clusters=8)
        approx = [(r.vec_id, r.cosine) for r in
                  idx.search(probe, k=10, n_probe=8).collect()]
        exact = [(r.vec_id, r.cosine) for r in
                 brute_topk(emb, probe, k=10).collect()]
        assert approx == exact  # probing every cluster = exact search

    def test_partial_probe_recall(self, spark, emb, probe):
        from nobletools_spark.textdata.ann import brute_topk, build_ivf
        idx = build_ivf(emb, n_clusters=8)
        approx = {r.vec_id for r in idx.search(probe, k=10, n_probe=3).collect()}
        exact = {r.vec_id for r in brute_topk(emb, probe, k=10).collect()}
        # 3-of-8 probes must keep decent recall on this data; pin a floor
        assert len(approx & exact) >= 5
        # the probe vector itself always lands in the nearest cluster
        assert 0 in approx

    def test_clustered_data_high_recall(self, spark):
        # the IVF claim at scale is about CLUSTERED embeddings (the
        # testdata vectors are near-random, the regime where any IVF's
        # recall degrades to ~n_probe/n_list by construction): on
        # Gaussian-cluster data a 3-of-16 probe must recover nearly the
        # whole exact top-k
        import numpy as np
        from nobletools_spark.textdata.ann import brute_topk, build_ivf
        rng = np.random.default_rng(7)
        centers = rng.normal(size=(20, 16)) * 5
        rows = []
        for i in range(1000):
            c = i % 20
            rows.append((i, (centers[c]
                             + rng.normal(size=16) * 0.3).tolist()))
        emb = spark.createDataFrame(rows,
                                    "vec_id long, embedding array<double>")
        probe = rows[40][1]  # a member of cluster 0
        idx = build_ivf(emb, n_clusters=16)
        approx = {r.vec_id for r in
                  idx.search(probe, k=10, n_probe=3).collect()}
        exact = {r.vec_id for r in brute_topk(emb, probe, k=10).collect()}
        assert len(approx & exact) >= 9

    def test_deterministic_build(self, spark, emb, probe):
        from nobletools_spark.textdata.ann import build_ivf
        a = build_ivf(emb, n_clusters=8).search(probe, k=5, n_probe=2)
        b = build_ivf(emb, n_clusters=8).search(probe, k=5, n_probe=2)
        assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


class TestPiiScrub:
    def test_counts_and_replacement(self, spark):
        df = spark.createDataFrame(
            [(1, "Mail bob.smith+x@lab.example.org or call 555-867-5309, "
                 "server 192.168.0.1, ssn 123-45-6789."),
             (2, "no pii here"),
             (3, None)],
            "doc_id long, text string")
        rows = {r.doc_id: r for r in
                A.pii_scrub(df.where("text is not null")).collect()}
        r1 = rows[1]
        assert (r1.n_email, r1.n_phone, r1.n_ip, r1.n_ssn) == (1, 1, 1, 1)
        assert "<EMAIL>" in r1.clean and "<PHONE>" in r1.clean
        assert "<IP>" in r1.clean and "<SSN>" in r1.clean
        assert "bob.smith" not in r1.clean and "6789" not in r1.clean
        r2 = rows[2]
        assert (r2.n_email, r2.n_phone, r2.n_ip, r2.n_ssn) == (0, 0, 0, 0)
        assert r2.clean == "no pii here"

    def test_order_ip_before_phone(self, spark):
        # an IP must be consumed by the IP rule, not mangled by PHONE
        df = spark.createDataFrame([(1, "ip 10.20.30.40 end")],
                                   "doc_id long, text string")
        r = A.pii_scrub(df).collect()[0]
        assert r.n_ip == 1 and r.n_phone == 0
        assert "<IP>" in r.clean


class TestNgramOverlap:
    def test_verbatim_leak_detected(self, spark):
        train = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta"),
             (2, "totally unrelated words without any leak here")],
            "doc_id long, text string")
        evalset = spark.createDataFrame(
            [(10, "X alpha beta gamma delta epsilon Y"),
             (11, "nothing shared at all in this sentence")],
            "doc_id long, text string")
        got = {(r.train_id, r.eval_id): r.n_shared
               for r in A.ngram_overlap_pairs(train, evalset, k=5).collect()}
        # train 1 shares exactly one distinct 5-gram with eval 10
        assert got == {(1, 10): 1}

    def test_short_docs_no_grams(self, spark):
        train = spark.createDataFrame([(1, "a b c")],
                                      "doc_id long, text string")
        evalset = spark.createDataFrame([(2, "a b c")],
                                        "doc_id long, text string")
        assert A.ngram_overlap_pairs(train, evalset, k=5).count() == 0


class TestDedupRepresentatives:
    def test_longest_wins_and_singletons_keep(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extended tail"), (3, base),
             (4, "a completely different document about something else")],
            "doc_id long, text string")
        rows = {r.doc_id: r for r in
                D.dedup_representatives(df, threshold=0.5).collect()}
        assert len(rows) == 4                    # every doc gets a verdict
        grp = {rows[i].group_id for i in (1, 2, 3)}
        assert len(grp) == 1                     # one near-dup group
        assert rows[2].keep                      # longest text survives
        assert not rows[1].keep and not rows[3].keep
        assert rows[4].keep and rows[4].group_id == 4

    def test_tie_breaks_to_min_doc_id(self, spark):
        base = "identical duplicated content for the tie break check here"
        df = spark.createDataFrame([(7, base), (3, base)],
                                   "doc_id long, text string")
        rows = {r.doc_id: r for r in
                D.dedup_representatives(df, threshold=0.5).collect()}
        assert rows[3].keep and not rows[7].keep


class TestLineDedup:
    def test_shared_lines_dropped_blanks_kept(self, spark):
        df = spark.createDataFrame(
            [(1, "unique alpha\nSHARED FOOTER\n\nown tail one"),
             (2, "unique beta\nSHARED FOOTER\n\nown tail two"),
             (3, "entirely original\n\nno shared content")],
            "doc_id long, text string")
        rows = {r.doc_id: r for r in A.line_dedup(df).collect()}
        assert rows[1].n_dropped == 1 and rows[2].n_dropped == 1
        assert "SHARED FOOTER" not in rows[1].clean
        # blank line survives (never boilerplate), order preserved
        assert rows[1].clean == "unique alpha\n\nown tail one"
        assert rows[3].n_dropped == 0
        assert rows[3].clean == "entirely original\n\nno shared content"

    def test_whitespace_variants_match(self, spark):
        # the line key trims, so indentation variants still collide
        df = spark.createDataFrame(
            [(1, "  COOKIE BANNER  \nkeep me"),
             (2, "COOKIE BANNER\nother text")],
            "doc_id long, text string")
        rows = {r.doc_id: r for r in A.line_dedup(df).collect()}
        assert rows[1].n_dropped == 1 and rows[2].n_dropped == 1
        assert rows[1].clean == "keep me"


class TestAudioDecode:
    def test_wav_header_real_decode(self, spark):
        refs = [f"audio://{i}.wav" for i in range(8)]
        import hashlib as H
        rows = [(i, r, "audio", bytearray(M.synth_wav(r)))
                for i, r in enumerate(refs)]
        media = spark.createDataFrame(
            rows, "doc_id long, media_ref string, kind string, "
                  "content binary")
        got = {r.media_ref: r for r in M.decode_audio(media).collect()}
        assert len(got) == 8
        for ref in refs:
            d = H.sha256(ref.encode()).digest()
            want_ch = 1 + d[0] % 2
            want_rate = (8000, 16000, 44100)[d[1] % 3]
            n_frames = 100 + d[2]
            r = got[ref]
            assert r.decoder == "wav-header"
            assert r.channels == want_ch and r.sample_rate == want_rate
            assert r.duration_ms == int(
                n_frames * (want_ch * 2) * 1000
                / (want_rate * want_ch * 2))

    def test_aiff_header(self, spark):
        import struct as S
        # hand-built AIFF: 2ch, 22050 Hz (80-bit extended), 441 frames
        rate80 = bytes([0x40, 0x0D, 0xAC, 0x44, 0, 0, 0, 0, 0, 0])
        comm = S.pack(">HI", 2, 441) + S.pack(">H", 16) + rate80
        body = b"AIFFCOMM" + S.pack(">I", len(comm)) + comm
        b = b"FORM" + S.pack(">I", len(body)) + body
        ch, rate, dur, fmt = M.audio_header_meta(b)
        assert (ch, rate, fmt) == (2, 22050, "aiff-header")
        assert dur == int(441 * 1000 / 22050)

    def test_unrecognized_marked_stub(self, spark):
        media = spark.createDataFrame(
            [(1, "x://noise", "audio", bytearray(b"not audio at all"))],
            "doc_id long, media_ref string, kind string, content binary")
        r = M.decode_audio(media).collect()[0]
        assert r.decoder == "stub" and r.sample_rate > 0


class TestVideoMeta:
    def test_mp4_mvhd_real_decode(self, spark):
        import hashlib as H
        refs = [f"video://{i}.mp4" for i in range(6)]
        rows = [(i, r, "video", bytearray(M.synth_mp4(r)))
                for i, r in enumerate(refs)]
        media = spark.createDataFrame(
            rows, "doc_id long, media_ref string, kind string, "
                  "content binary")
        got = {r.media_ref: r for r in M.video_meta(media).collect()}
        for ref in refs:
            d = H.sha256(ref.encode()).digest()
            ts = (600, 1000, 90000)[d[0] % 3]
            want_ms = 1000 + (d[1] << 8 | d[2]) % 30000
            # round-trip through the container's timescale quantization
            want = int((want_ms * ts // 1000) * 1000 / ts)
            r = got[ref]
            assert r.decoder == "mp4-header" and r.duration_ms == want, ref

    def test_mvhd_version1(self):
        import struct as S
        body = (b"\x01\x00\x00\x00" + S.pack(">QQ", 0, 0)
                + S.pack(">IQ", 1000, 12345) + b"\x00" * 80)
        mvhd = S.pack(">I", 8 + len(body)) + b"mvhd" + body
        moov = S.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        b = S.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x02\x00" + moov
        ts, ms, fmt = M.video_header_meta(b)
        assert (ts, ms, fmt) == (1000, 12345, "mp4-header")

    def test_unrecognized_marked_stub(self, spark):
        media = spark.createDataFrame(
            [(1, "x://noise", "video", bytearray(b"AVI nope"))],
            "doc_id long, media_ref string, kind string, content binary")
        r = M.video_meta(media).collect()[0]
        assert r.decoder == "stub" and r.duration_ms >= 1000


class TestSelfLineDedup:
    def test_first_occurrence_survives(self, spark):
        df = spark.createDataFrame(
            [(1, "NAV MENU\nreal content one\nNAV MENU\nreal content two"),
             (2, "all\nunique\nlines")],
            "doc_id long, text string")
        rows = {r.doc_id: r for r in A.self_line_dedup(df).collect()}
        assert rows[1].n_dropped == 1
        assert rows[1].clean == \
            "NAV MENU\nreal content one\nreal content two"
        assert rows[2].n_dropped == 0 and rows[2].clean == \
            "all\nunique\nlines"

    def test_blank_lines_never_dropped(self, spark):
        df = spark.createDataFrame([(1, "a\n\nb\n\nc")],
                                   "doc_id long, text string")
        r = A.self_line_dedup(df).collect()[0]
        assert r.n_dropped == 0 and r.clean == "a\n\nb\n\nc"


class TestCurationPipeline:
    def test_stage_chain_semantics(self, spark):
        """Duplicates collapse to the lowest doc_id, the quality gate and
        datamix keep-rule both apply, and PII is gone from the output."""
        from nobletools_spark.textdata.curation import curate
        good = ("the data pipeline was built to ingest rows and it "
                "delivered stable results when the tables grew large "
                "and the jobs ran well ") * 2
        rows = [
            (1, "en", "crawl", good + "mail me at a@x.example.com"),
            (2, "en", "crawl", good + "mail me at a@x.example.com"),  # dup
            (3, "en", "crawl", "too short"),                  # quality drop
            (4, "zz", "curated", good),                       # rate 1.0
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string")
        out = {r.doc_id: r for r in
               curate(docs, rates={}, default_rate=1.0).collect()}
        assert 2 not in out and 3 not in out        # dup + quality drop
        assert 4 in out and out[4].n_pii == 0
        if 1 in out:                                 # dedup keeps MIN id
            assert out[1].n_pii == 1

    def test_sampling_rates_respected(self, spark):
        from nobletools_spark.textdata.curation import curate
        good = ("the data pipeline was built to ingest rows and it "
                "delivered stable results when the tables grew large ") * 2
        docs = spark.createDataFrame(
            [(i, "en", "crawl", good + f"doc {i}") for i in range(400)],
            "doc_id long, lang string, source string, text string")
        kept = curate(docs, rates={"en": 0.25}).count()
        assert 0.15 < kept / 400 < 0.35   # md5 rule ~ rate
        # rate 0 drops the stratum entirely, deterministically
        assert curate(docs, rates={"en": 0.0}).count() == 0

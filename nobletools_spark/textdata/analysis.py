"""Text-analysis operators: token counting, fingerprinting, quality,
language ID. All JVM-side column expressions (no Python in the hot path);
the queries module exposes the oracle-checked variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens

# BPE-ish pre-tokenization: word pieces OR single non-space punctuation —
# the standard byte-pair-encoding pre-split shape (GPT-2-style), counted
# JVM-side via regexp_extract_all.
BPE_TOKEN_RE = r"\w+|[^\w\s]"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """-> (doc_id, ws_tokens, bpe_tokens, chars): whitespace token count
    plus BPE-style piece count."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    bpe = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0)))
    return df.select(
        "doc_id",
        F.when(F.length(F.trim(text_col)) == 0, 0).otherwise(ws)
        .cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.length(text_col).cast("long").alias("chars"))


def doc_fingerprints(df: DataFrame, text_col: str = "text",
                     k: int = 16, keep: int = 4) -> DataFrame:
    """Winnowing-style document fingerprint: hash every k-char window,
    keep the ``keep`` smallest hashes (a deterministic sketch robust to
    local edits; Schleimer et al., SIGMOD 2003). The window hash is the
    first 15 hex chars of md5 parsed as a (positive) int64 — md5 so the
    DuckDB oracle recomputes identical sketches; still one JVM transform
    over an index sequence, no Python and no explode."""
    n = F.length(text_col) - (k - 1)
    # sequence(1, 0) would DESCEND; emit an empty index list for short docs
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)) \
           .otherwise(F.array().cast("array<int>"))
    hashes = F.transform(
        idx, lambda i: F.conv(
            F.substring(F.md5(F.col(text_col).substr(i, F.lit(k))), 1, 15),
            16, 10).cast("long"))
    return df.select(
        "doc_id", F.slice(F.array_sort(hashes), 1, keep).alias("fingerprint"))


def fingerprint_dup_groups(df: DataFrame, text_col: str = "text",
                           k: int = 16, keep: int = 4) -> DataFrame:
    """Group documents by identical fingerprint sketch — the cheap
    near-dup pre-filter (hash-groupBy on a 32-byte key at any scale)."""
    fp = doc_fingerprints(df, text_col, k, keep)
    return (fp.groupBy(F.concat_ws(",", "fingerprint").alias("fingerprint"))
            .agg(F.concat_ws(",", F.sort_array(F.collect_list("doc_id")))
                 .alias("doc_ids"),
                 F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > 1))


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/alpha/digit/punct/stopword-ratio quality features."""
    ln = F.length(text_col).cast("double")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin("the", "a", "an", "and", "or", "of", "to",
                               "in", "is", "was")))

    def ratio(keep_re):
        return F.round(
            F.length(F.regexp_replace(text_col, keep_re, "")) / ln, 4)

    return (df.where(ln > 0)
            .select("doc_id",
                    ratio("[^a-zA-Z]").alias("alpha_ratio"),
                    ratio("[^0-9]").alias("digit_ratio"),
                    ratio("[^.!?,;:]").alias("punct_ratio"),
                    F.round(stop_hits / F.size(toks), 4).alias("stop_ratio"),
                    F.size(toks).cast("long").alias("n_tokens")))


def _max_multiplicity(arr):
    """Highest multiplicity of any element in ``arr`` as a single JVM
    expression: sort the array, then one aggregate() scan tracking the
    current and best run length. No explode, no shuffle, no Python — a
    pure map-side column, so repetition stats stay narrow at any scale."""
    acc0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(F.array_sort(arr), acc0, step, lambda a: a["best"])


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-inspired repetition features (Rae et al. 2021, appendix A1):
    fraction of tokens claimed by the most frequent unigram/bigram and the
    duplicate-trigram fraction — the standard pre-training signals for
    boilerplate / degenerate repetition. Fractions are over n-gram counts
    (not characters) so the DuckDB oracle can re-derive them exactly.
    Docs with fewer than 3 tokens are excluded (no trigram exists).

    The token and n-gram arrays are MATERIALIZED in projections before
    the scan expressions consume them: higher-order functions run
    interpreted (outside whole-stage codegen), so every column reference
    re-evaluates its child expression tree — with split/gram-building
    inlined into each of the four stats, the same arrays were rebuilt
    ~10x per row (measured 22 s -> 1.8 s at sf0.1 for this change)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select("doc_id", toks.alias("_t")).where(F.size("_t") >= 3)
    n = F.size("_t")

    def grams(width: int):
        return F.transform(
            F.sequence(F.lit(1), n - (width - 1)),
            lambda i: F.concat_ws(" ", *[
                F.element_at("_t", i + j) for j in range(width)]))

    staged = base.select("doc_id", "_t", grams(2).alias("_b"),
                         grams(3).alias("_g"))
    return (staged
            .select("doc_id",
                    F.size("_t").cast("long").alias("n_tokens"),
                    F.round(_max_multiplicity(F.col("_t")) / F.size("_t"), 4)
                    .alias("top_unigram_frac"),
                    F.round(_max_multiplicity(F.col("_b"))
                            / (F.size("_t") - 1), 4)
                    .alias("top_bigram_frac"),
                    F.round((F.size("_g") - F.size(F.array_distinct("_g")))
                            / F.size("_g"), 4)
                    .alias("dup_trigram_frac")))


def c4_filters(df: DataFrame, text_col: str = "text",
               min_words: int = 30, max_words: int = 1000,
               mean_len_lo: float = 4.0, mean_len_hi: float = 5.0) -> DataFrame:
    """C4-inspired document keep/drop decision (Raffel et al. 2020, §2.2),
    adapted to the corpus shape: word-count bounds, a mean-word-length
    band, and stop-word presence (C4's English heuristic). Emits the
    per-rule booleans plus the composite ``keep`` so downstream jobs can
    audit drop reasons; pure column expressions end to end. As in
    ``repetition_stats``, the tokens and each statistic are materialized
    in a projection, or every rule naming one re-evaluates it per row."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    stats = (df.where(F.length(F.trim(F.col(text_col))) > 0)
             .select("doc_id", toks.alias("_t"))
             .select("doc_id", F.size("_t").cast("long").alias("n_words"),
                     F.round(F.aggregate("_t", F.lit(0).cast("long"),
                                         lambda a, x: a + F.length(x))
                             / F.size("_t"), 4).alias("mean_word_len"),
                     F.exists("_t", lambda t: t.isin(
                         "the", "a", "an", "and", "or", "of", "to", "in",
                         "is", "was")).alias("has_stop_word")))
    n, m = F.col("n_words"), F.col("mean_word_len")
    ok_words = (n >= min_words) & (n <= max_words)
    ok_len = (m >= mean_len_lo) & (m <= mean_len_hi)
    return stats.select("doc_id", "n_words", "mean_word_len",
                        ok_words.alias("ok_word_count"),
                        ok_len.alias("ok_mean_len"), "has_stop_word",
                        (ok_words & ok_len & F.col("has_stop_word"))
                        .alias("keep"))


# ------------------------------------------------------------------- PII --
# Regex-based PII scrubbing — the standard pre-training cleanup pass
# (emails/phones/IPs/SSNs -> typed placeholders). Patterns deliberately
# stay in the Java-regex/RE2 COMMON dialect (character classes, bounded
# repetition, \b anchors; no lookaround, no backrefs) so the DuckDB
# oracle applies the literally identical pattern with regexp_replace.
# Pure JVM column expressions: at 100 TB this is a narrow map stage.

PII_PATTERNS = (
    # order matters: earlier rules must not create text later rules match
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("SSN", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("PHONE", r"\+?[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}\b"),
)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """-> (doc_id, n_email, n_ip, n_ssn, n_phone, clean): per-document
    PII match counts and the text with each match replaced by its typed
    placeholder (``<EMAIL>`` etc.), applied in PII_PATTERNS order."""
    counts = []
    clean = F.col(text_col)
    for name, pat in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0)))
            .cast("long").alias(f"n_{name.lower()}"))
        clean = F.regexp_replace(clean, pat, f"<{name}>")
    return df.select("doc_id", *counts, clean.alias("clean"))


# --------------------------------------------- exact n-gram eval overlap --
# GPT-3-appendix-style decontamination evidence: EXACT shared word
# n-grams between a training corpus and an eval corpus (the complement
# of the MinHash path in dedup.cross_corpus_pairs — that finds near-dup
# documents; this finds verbatim leakage of eval n-grams anywhere in a
# training document). Gram keys are md5-prefixed so an external engine
# recomputes them; at 100 TB swap xxhash64, same topology: one shuffle
# on the gram key, eval side tiny -> AQE broadcasts it.

def ngram_overlap_pairs(train: DataFrame, evalset: DataFrame,
                        text_col: str = "text", k: int = 5) -> DataFrame:
    """-> (train_id, eval_id, n_shared): distinct shared k-grams per
    cross-corpus document pair (only pairs with >= 1 shared gram)."""
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(F.col("doc_id").alias(out_id),
                         tokens(F.col(text_col)).alias("_t"))
        n = F.size("_t")
        idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))) \
               .otherwise(F.array().cast("array<int>"))
        g = F.transform(idx, lambda i: F.substring(
            F.md5(F.concat_ws(" ", *[F.element_at("_t", i + j)
                                     for j in range(k)])), 1, 16))
        return (base.select(out_id, F.explode(g).alias("gh"))
                .distinct())
    t = grams(train, "train_id")
    e = grams(evalset, "eval_id")
    return (t.join(e, "gh")
            .groupBy("train_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared")))


# -------------------------------------------------- line-level dedup ----
# CCNet/RefinedWeb-style boilerplate removal: a LINE that appears
# verbatim in more than one document (nav menus, footers, cookie
# banners) is dropped from every document carrying it. The ">=2
# distinct docs" test is a groupBy on the line hash — NOT a window:
# a window over partitionBy(md5(line)) would co-locate every instance
# of a hot line ("Home", cookie-banner text — precisely the lines this
# operator exists to remove) in one task, and AQE cannot split window
# partitions. The groupBy partial-aggregates map-side (the hot key
# arrives at the reducer pre-collapsed to one row per partition), and
# the join back to the lines is a join — the shape AQE's skew handling
# CAN split. Shuffles: line-hash groupBy, dup-hash join, doc_id
# reassembly.

def line_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """-> (doc_id, n_lines, n_dropped, clean): documents with
    cross-document duplicate lines removed. Blank/whitespace lines are
    never treated as boilerplate (every document has them; dropping
    them would destroy structure)."""
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    ).withColumn("lh", F.md5(F.trim(F.col("line"))))
    cross_doc = (lines
                 .where(F.length(F.trim("line")) > 0)
                 .groupBy("lh")
                 .agg(F.min("doc_id").alias("_mn"),
                      F.max("doc_id").alias("_mx"))
                 .where(F.col("_mn") != F.col("_mx"))
                 .select("lh", F.lit(True).alias("_xdoc")))
    marked = (lines.join(cross_doc, "lh", "left")
              .withColumn("is_dup", F.coalesce(F.col("_xdoc"),
                                               F.lit(False))))
    kept = F.filter(F.array_sort(F.collect_list(
        F.struct("pos", "line", "is_dup"))), lambda s: ~s["is_dup"])
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
                 F.array_join(F.transform(kept, lambda s: s["line"]), "\n")
                 .alias("clean")))


def self_line_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """-> (doc_id, n_lines, n_dropped, clean): WITHIN-document repeated
    lines collapsed to their first occurrence — the intra-doc half of
    boilerplate cleanup (``line_dedup`` is the cross-doc half); think a
    nav menu repeated between page sections. Blank lines always survive.
    One doc_id shuffle: the first-occurrence test and the reassembly
    share the same grouping."""
    from pyspark.sql.window import Window
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    w = (Window.partitionBy("doc_id", F.md5(F.trim(F.col("line"))))
         .orderBy("pos"))
    marked = lines.withColumn(
        "is_dup",
        (F.length(F.trim("line")) > 0) & (F.row_number().over(w) > 1))
    kept = F.filter(F.array_sort(F.collect_list(
        F.struct("pos", "line", "is_dup"))), lambda s: ~s["is_dup"])
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
                 F.array_join(F.transform(kept, lambda s: s["line"]), "\n")
                 .alias("clean")))

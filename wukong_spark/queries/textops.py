"""Text-analysis + deduplication operators over `documents`
(SURVEY.md §2.3 — LLM-data-pipeline gap-fill; first-class per BASELINE.json).

All hot-path expressions are JVM built-ins (split/transform/filter/md5/
aggregate) — no Python UDFs — so they stay inside whole-stage codegen and
scale to 100 TB of text by partition parallelism alone.

Cross-engine determinism trick: every hash used here derives from md5(text)
(identical hex in Spark and DuckDB), then folded to a BIGINT via hex→int on
a 15-hex-digit (60-bit, sign-safe) prefix.  That makes even MinHash
signatures exactly reproducible in the SQL oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from wukong_spark.queries import query
from wukong_spark.queries.helpers import local_frame, r4, tbl

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization, identical to the oracle's
    regexp_split_to_array(trim(text), '\\s+')."""
    return F.split(F.trim(col), r"\s+")


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a string, engine-portable.

    Spark: conv(hex-prefix, 16, 10) → decimal string → BIGINT.
    DuckDB: CAST('0x' || prefix AS BIGINT).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: DuckDB SQL fragment mirroring md5_long(expr)
ORACLE_MD5_LONG = "CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Text statistics / quality scoring / language heuristic
# ---------------------------------------------------------------------------

@query(
    "corpus_source_report",
    # the per-source "data card": doc/token/char counts are exact ints,
    # exact-dup docs counted via md5(text) fingerprint multiplicity,
    # shares and means are single divisions of exact ints (round-6/4)
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars,
             md5(text) AS fp,
             CAST(array_length(regexp_split_to_array(trim(text), '\\s+'))
               AS BIGINT) AS n_tok
      FROM documents
    ), fpc AS (
      SELECT fp, COUNT(*) AS cnt FROM d GROUP BY fp
    ), per AS (
      SELECT d.source,
             COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
             COALESCE((SELECT CAST(SUM(CAST(array_length(
                 regexp_split_to_array(trim(text), '\\s+')) AS BIGINT))
               AS BIGINT) FROM documents), 0) AS total_tok
      FROM d JOIN fpc f ON f.fp = d.fp
      GROUP BY d.source
    )
    SELECT source, n_docs, n_dup_docs, n_tokens, n_chars,
           ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
             AS mean_tokens_4,
           ROUND(CAST(n_tokens AS DOUBLE) / CAST(total_tok AS DOUBLE), 6)
             AS token_share_6
    FROM per ORDER BY source
    """,
)
def corpus_source_report(spark: SparkSession, sf_dir: str):
    """PER-SOURCE CORPUS DATA CARD (r14) — the rollup every training-
    corpus release publishes per source/domain: document count,
    exact-duplicate document count (md5 text fingerprint multiplicity —
    the dedup_exact_md5 signal aggregated), token and char volume, mean
    document length, and each source's share of total tokens (the
    mixture weight the sampler consumes — sample_mixture_rebalance's
    input statistic).

    Plan: one map-only fingerprint+tokencount pass, one fp-keyed count
    broadcast back (fingerprint table ≪ corpus after aggregation at the
    gate SF; at 100 TB it hash-joins on fp — fingerprints, never text,
    move), one source-keyed agg, a broadcast scalar total.  No window,
    every exchange keyed."""
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.col("text")).alias("fp"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    fpc = d.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    tot = d.agg(F.sum("n_tok").cast("long").alias("total_tok"))
    per = (
        d.join(fpc, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return per.select(
        "source",
        "n_docs",
        "n_dup_docs",
        "n_tokens",
        "n_chars",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_docs").cast("double"),
            4,
        ).alias("mean_tokens_4"),
        F.round(
            F.col("n_tokens").cast("double")
            / F.col("total_tok").cast("double"),
            6,
        ).alias("token_share_6"),
    ).orderBy("source")


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id, n_chars,
           LENGTH(text) AS char_len,
           CAST(array_length(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
           CAST(array_length(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS INTEGER)
               AS n_unique_tokens,
           ROUND(LENGTH(replace(text, ' ', '')) * 1.0
                 / array_length(regexp_split_to_array(trim(text), '\\s+')), 4) AS avg_token_len
    FROM documents
    """,
    headline=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str):
    """Token counting + type/token stats per document (all codegen)."""
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        "n_chars",
        F.length("text").cast("long").alias("char_len"),
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        r4(
            F.length(F.regexp_replace("text", " ", "")) * F.lit(1.0) / n_tok
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             LENGTH(text) AS char_len
      FROM documents
    )
    SELECT doc_id,
           ROUND(array_length(list_filter(toks,
                 x -> list_contains({STOPWORDS!r}, x))) * 1.0
                 / array_length(toks), 4) AS stopword_ratio,
           ROUND(array_length(list_distinct(toks)) * 1.0 / array_length(toks), 4)
               AS unique_ratio,
           CASE WHEN array_length(toks) BETWEEN 20 AND 1000
                     AND array_length(list_distinct(toks)) * 1.0 / array_length(toks) > 0.2
                THEN 1 ELSE 0 END AS quality_keep
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str):
    """Quality scoring: stopword ratio, lexical diversity, keep-flag.

    The standard pretraining-corpus filter shape (Gopher/C4-style rules),
    expressed as array built-ins so the filter runs JVM-side.
    """
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    sw = F.array([F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    uniq_ratio = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tok
    return d.select(
        "doc_id",
        r4(n_stop * F.lit(1.0) / n_tok).alias("stopword_ratio"),
        r4(uniq_ratio).alias("unique_ratio"),
        F.when(n_tok.between(20, 1000) & (uniq_ratio > 0.2), 1)
        .otherwise(0)
        .cast("int")
        .alias("quality_keep"),
    )


@query(
    "text_lang_heuristic",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN array_length(list_filter(toks,
                     x -> list_contains({STOPWORDS!r}, x))) * 1.0
                     / array_length(toks) >= 0.02
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM t
    """,
)
def text_lang_heuristic(spark: SparkSession, sf_dir: str):
    """Language-ID heuristic: English-stopword density threshold.

    (The synthetic corpus reuses one vocabulary across lang labels, so the
    heuristic's value is the deterministic, engine-portable *computation* —
    a richer n-gram-profile version drops into the same slot.)
    """
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sw = F.array([F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))) * F.lit(1.0) / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.02, "en").otherwise("other").alias("lang_guess"),
    )


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------

@query(
    "dedup_exact_md5",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY fp
    """,
    headline=True,
)
def dedup_exact_md5(spark: SparkSession, sf_dir: str):
    """Exact dedup: md5-fingerprint → group → keep min doc_id.

    Scale: hashing is map-side; the shuffle carries only (fp, doc_id) pairs,
    never the text payload — the 100 TB-safe shape for exact dedup.
    """
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id < 200
    ), shingles AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, array_length(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS sh
        FROM toks
      ) u
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(p.inter * 1.0 / (sa.n + sb.n - p.inter), 4) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str):
    """Near-dup detection: word-3-gram Jaccard ≥ 0.2 on a doc_id slice.

    Shape: explode distinct shingles → self-join on shingle → pair
    intersection counts → Jaccard via |A|+|B|−|A∩B|.  The doc_id<200 slice
    bounds the candidate-pair blowup; the scale path is dedup_minhash_lsh
    (same pipeline, but banded signatures replace raw shingles).
    """
    d = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = tokens(F.col("text"))
    # guard: F.sequence(0, n) with n<0 would generate a DESCENDING sequence
    sh = F.when(F.size(toks) >= 3, F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        )
    )).otherwise(F.array().cast("array<string>"))
    shingles = (
        d.select("doc_id", F.explode(sh).alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter") * F.lit(1.0) / (F.col("sa.n") + F.col("sb.n") - F.col("inter"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", r4(jac).alias("jaccard"))
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents
    ), bits AS (
      SELECT doc_id, b.i AS bit,
             CASE WHEN SUM(CASE WHEN (({ORACLE_MD5_LONG.format(e='tok.x')} >> b.i) & 1) = 1
                               THEN 1 ELSE -1 END) >= 0
                  THEN 1 ELSE 0 END AS bitval
      FROM toks, unnest(t) AS tok(x), (SELECT unnest(range(0, 16)) AS i) b
      GROUP BY doc_id, b.i
    )
    SELECT doc_id,
           CAST(SUM(bitval * (1 << bit)) AS BIGINT) AS simhash16
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str):
    """SimHash document fingerprint (16-bit, engine-portable).

    Per doc: majority vote of each hash bit across distinct tokens →
    16-bit signature.  Near-dups differ in ≤k bits (banded lookup at scale).
    Pure array/bitwise built-ins — no UDF; the only exchange is the
    small-scan split (a no-op on properly partitioned input).
    """
    from wukong_spark.queries.helpers import split_small_scan

    d = split_small_scan(tbl(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.array_distinct(tokens(F.col("text")))
    hashes = F.transform(toks, lambda x: md5_long(x))

    def bitval(i: int) -> Column:
        # majority vote of bit i across token hashes: +1 if set, −1 if not
        votes = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1),
        )
        return F.when(votes >= 0, F.lit(1 << i)).otherwise(F.lit(0))

    sig = bitval(0)
    for i in range(1, 16):
        sig = sig + bitval(i)
    return d.select("doc_id", sig.cast("long").alias("simhash16"))


#: 48-bit md5-prefix hash (keeps (h * mult + off) inside BIGINT range even
#: after the permutation multipliers below — Spark 4 ANSI mode errors on
#: BIGINT overflow, so headroom is load-bearing)
ORACLE_MD5_LONG48 = "CAST(('0x' || substr(md5({e}), 1, 12)) AS BIGINT)"

MINHASH_PRIME = 1000000007  # wrap prime << 2^48 so the map is non-monotonic


def md5_long48(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


@query(
    "dedup_minhash_signature",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents
    )
    SELECT doc_id, h.i AS perm,
           CAST(MIN(({ORACLE_MD5_LONG48.format(e='tok.x')} * (2 * h.i + 1) + h.i * 774001)
               % {MINHASH_PRIME}) AS BIGINT) AS minhash
    FROM toks, unnest(t) AS tok(x), (SELECT unnest(range(0, 8)) AS i) h
    GROUP BY doc_id, h.i
    """,
    headline=True,
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str):
    """MinHash signatures (8 permutations) — the LSH scale path for near-dup.

    h_i(x) = (md5_48(x) * (2i+1) + i*774001) mod 1e9+7.  The modulus is far
    below the 48-bit hash range, so the map wraps ~2^20 times → effectively
    random permutation order (a monotonic map would make every "permutation"
    pick the same min token).  Signature rows (doc, perm, minhash) band into
    LSH buckets; candidate pairs come from bucket joins — never a cross join.
    """
    d = tbl(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens(F.col("text")))

    def perm_min(i: int):
        # NB: the permutation index must be captured by closure, NOT as an
        # extra lambda default arg — F.transform treats a second lambda
        # parameter as the array-index lambda variable.
        return F.array_min(
            F.transform(
                toks,
                lambda x: (md5_long48(x) * (2 * i + 1) + i * 774001) % MINHASH_PRIME,
            )
        )

    # ONE scan computing all 8 permutation minima as plain columns, then
    # stack() melts them to (perm, minhash) rows.  (An 8-branch union scans
    # and tokenizes the corpus 8 times; and the stack arguments must be the
    # cheap column REFS of a prior projection, never the hash expressions
    # themselves — generator-adjacent expressions re-evaluate per output
    # row, see doc_fingerprint_winnow.)
    from wukong_spark.queries.helpers import split_small_scan

    wide = split_small_scan(d.select("doc_id", "text")).select(
        "doc_id",
        *[perm_min(i).cast("long").alias(f"m_{i}") for i in range(8)],
    )
    stack_expr = "stack(8, " + ", ".join(
        f"{i}, m_{i}" for i in range(8)
    ) + ") AS (perm, minhash)"
    return wide.selectExpr("doc_id", stack_expr)


#: banded-LSH layout over the 8-perm signatures: 4 bands × 2 rows
_SIG_SQL = f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents
    ), sig AS (
      SELECT doc_id, h.i AS perm,
             MIN(({ORACLE_MD5_LONG48.format(e='tok.x')} * (2 * h.i + 1) + h.i * 774001)
                 % {MINHASH_PRIME}) AS mh
      FROM toks, unnest(t) AS tok(x), (SELECT unnest(range(0, 8)) AS i) h
      GROUP BY doc_id, h.i
    ), bands AS (
      SELECT doc_id, perm // 2 AS band,
             MIN(CASE WHEN perm % 2 = 0 THEN mh END) AS h0,
             MIN(CASE WHEN perm % 2 = 1 THEN mh END) AS h1
      FROM sig GROUP BY doc_id, band
    )
"""


@query(
    "dedup_minhash_lsh_pairs",
    oracle=_SIG_SQL
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str):
    """MinHash-LSH candidate pairs — the 100 TB near-dup path.

    Signatures band into 4 buckets of 2 rows; only docs colliding on a
    whole band ever meet in the join, so candidate generation is an
    equi-join on (band, h0, h1) — never a pairwise comparison.  Each
    candidate pair still gets verified (by Jaccard on shingles) in a real
    pipeline; here the query returns the candidates with collision counts.
    """
    sig = dedup_minhash_signature(spark, sf_dir)
    bands = (
        sig.groupBy("doc_id", (F.col("perm") / 2).cast("int").alias("band"))
        .agg(
            F.min(F.when(F.col("perm") % 2 == 0, F.col("minhash"))).alias("h0"),
            F.min(F.when(F.col("perm") % 2 == 1, F.col("minhash"))).alias("h1"),
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h0") == F.col("b.h0"))
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


@query(
    "doc_fingerprint_winnow",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), hs AS (
      SELECT doc_id,
             list_transform(
               list_transform(range(1, array_length(t) - 1),
                              i -> array_to_string(t[i:i+2], ' ')),
               s -> {ORACLE_MD5_LONG48.format(e='s')}) AS h
      FROM toks WHERE array_length(t) >= 6
    ), fps AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(h) - 2),
                           i -> list_aggregate(h[i:i+3], 'min'))) AS fp
      FROM hs
    )
    SELECT doc_id, unnest(fp) AS fingerprint FROM fps
    """,
)
def doc_fingerprint_winnow(spark: SparkSession, sf_dir: str):
    """Document fingerprinting by winnowing (Schleimer et al.): rolling
    windows of 4 consecutive 3-gram shingle hashes, keep each window's min,
    emit the distinct mins as the doc's fingerprint set.

    Matching fingerprints localize shared passages (vs. MinHash, which only
    scores whole-doc similarity).

    Implementation note (measured, not guessed): any expensive expression
    that sits NEXT TO a generator over the same subexpression gets
    re-evaluated per generated row (no CSE across the Generate boundary —
    both the all-array `transform(seq, i -> array_min(slice(hs,…)))` form
    and `select(size(hs), posexplode(hs))` cost O(tokens²) md5 calls per
    doc, ~200 s at sf0.1).  This formulation hashes each shingle exactly
    once (posexplode is the ONLY consumer of `hs`), then gets the per-doc
    hash count as a COUNT window over the exploded rows — the same doc_id
    shuffle the 4-row sliding MIN already needs.  ~2 s at sf0.1.

    Reference parity: the reference has no text ops at all (its "operators"
    are opaque Python tasks, `AWS Lambda Task Executor/TaskExecutor/
    function.py:3826-3847`); this is §2.3 gap-fill per BASELINE.json.
    """
    from pyspark.sql.window import Window

    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
    )
    hs = F.transform(shingles, lambda s: md5_long48(s))
    from wukong_spark.queries.helpers import split_small_scan

    ex = (
        split_small_scan(d.select("doc_id", "text"))
        .filter(F.size(toks) >= 6)
        .select("doc_id", F.posexplode(hs).alias("pos", "h"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    wcnt = Window.partitionBy("doc_id")
    return (
        ex.withColumn("wmin", F.min("h").over(w))
        .withColumn("m", F.count(F.lit(1)).over(wcnt))
        .filter(F.col("pos") <= F.col("m") - 4)  # only full 4-hash windows
        .select("doc_id", F.col("wmin").alias("fingerprint"))
        .dropDuplicates(["doc_id", "fingerprint"])
    )


@query(
    "pipeline_clean_corpus",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source, lang, n_chars,
             md5(text) AS h,
             array_length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ), quality AS (
      SELECT * FROM scored WHERE n_tokens >= 20 AND n_chars >= 100
    ), dedup AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM dedup GROUP BY source, lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str):
    """End-to-end training-data cleaning pipeline as ONE composed plan:
    quality gate (min tokens/chars) → exact dedup (md5, keep first doc_id)
    → per-(source, lang) corpus statistics.

    This is the composition story for 100 TB: each stage is a narrow
    Catalyst-visible transformation, so the whole pipeline runs as scan →
    map → one dedup shuffle (on the 128-bit hash — uniform keys, no skew)
    → one stats shuffle.  Filters run before the dedup shuffle, so
    low-quality rows never shuffle at all.
    """
    d = tbl(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        n_tokens.alias("n_tokens"),
    ).filter((F.col("n_tokens") >= 20) & (F.col("n_chars") >= 100))
    from pyspark.sql.window import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    dedup = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return dedup.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@query(
    "dedup_neardup_clusters",
    oracle_max_sf=0.01,
    oracle=_SIG_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
    , pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
       AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), edges2 AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT s AS node, s AS comp FROM edges2
      UNION
      SELECT e.d AS node, r.comp FROM reach r JOIN edges2 e ON e.s = r.node
    ), comp AS (
      SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    )
    SELECT CAST(component AS BIGINT) AS canonical_doc,
           COUNT(*) AS n_docs,
           CAST(MAX(node) AS BIGINT) AS max_doc
    FROM comp GROUP BY component
    """,
)
def dedup_neardup_clusters(spark: SparkSession, sf_dir: str):
    """The full near-dup dedup decision, end to end: MinHash-LSH candidate
    pairs → connected components → one canonical doc (min id) per cluster.

    This is what a 100 TB dedup actually emits — a keep/drop verdict, not
    a pair list: every doc in a cluster maps to the cluster's minimum
    doc_id (the kept copy).  Candidates come from the banded equi-join
    (never all-pairs); clustering is the iterative min-label CC operator
    (operators/graph.py: localCheckpoint per round, O(diameter) rounds —
    near-dup clusters are tiny cliques, so 2-3 rounds).  The DuckDB oracle
    re-derives the transitive closure with a RECURSIVE CTE — a full SQL
    value-check of an iterative graph computation.

    Oracle scale caveat (r5 audit): the RECURSIVE closure enumerates
    (node, reachable-label) pairs, which explodes past the sf0.01 gate
    (~9M LSH pairs at sf0.1 ground for >40 min).  The SPARK side converges
    fine at any scale — only the SQL referee is gate-scale-only.
    """
    from wukong_spark.operators.graph import connected_components

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(
        pairs, "doc_a", "doc_b",
        iteration_partitions=spark.sparkContext.defaultParallelism,
    )
    return cc.groupBy(F.col("component").cast("long").alias("canonical_doc")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").cast("long").alias("max_doc"),
    )


#: fixed retrieval query for text_bm25_topk (terms present at every SF)
BM25_TERMS = ("data", "join", "scan")
BM25_K1, BM25_B = 1.2, 0.75


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
    ), doclen AS (
      SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl * 1.0) AS avgdl FROM doclen
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms
      WHERE term IN ('data', 'join', 'scan')
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * doclen.dl / stats.avgdl))
             ), 6) AS bm25
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN doclen ON tf.doc_id = doclen.doc_id, stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT doc_id, bm25,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str):
    """BM25 retrieval (Okapi, k1=1.2 b=0.75) for a fixed term query —
    the lexical-search scoring every corpus pipeline needs next to
    TF-IDF.  Shape: one explode → per-doc length agg; the tf table is
    PRE-FILTERED to the query terms before its shuffle (at 100 TB the
    (doc, term) space never materializes for non-query terms); df and the
    global (N, avgdl) stats are 1-row/`|q|`-row aggregates folded in by
    join — no eager driver actions.

    Exactness: tf/df/dl/N are integers, avgdl = exact-int division —
    identical rational inputs both engines; the score rounds to 6 with a
    doc_id tie-break before ranking (same libm-drift discipline as
    text_tfidf_top3).
    """
    d = tbl(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    doclen = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.col("dl") * 1.0).alias("avgdl")
    )
    tf = (
        terms.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                        + 1.0
                    )
                    * F.col("tf")
                    * (BM25_K1 + 1.0)
                    / (
                        F.col("tf")
                        + BM25_K1
                        * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("bm25")
        )
    )
    from pyspark.sql.window import Window

    # top-k FIRST via TakeOrdered (no global single-partition window over
    # all docs — the ntile anti-pattern); the rank window then runs over
    # ten rows
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "bm25", "rnk"
    )


@query(
    "regex_funcs_docs",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS INTEGER)
               AS n_a_words,
           regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word,
           LENGTH(regexp_replace(text, '[aeiou]', '', 'g')) AS len_no_vowels,
           CASE WHEN regexp_matches(text, 'join|merge') THEN 1 ELSE 0 END
               AS mentions_join
    FROM documents WHERE doc_id < 300
    """,
)
def regex_funcs_docs(spark: SparkSession, sf_dir: str):
    """Regex function surface — extract_all/extract/replace/match, all
    JVM-side codegen'd expressions (same regex dialect subset as DuckDB:
    character classes, quantifiers, alternation)."""
    d = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+a[a-z]*"), 0)).alias("n_a_words"),
        F.regexp_extract("text", "([a-z]{6,})", 1).alias("first_long_word"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("len_no_vowels"),
        F.when(F.col("text").rlike("join|merge"), 1).otherwise(0).alias("mentions_join"),
    )


@query(
    "text_tfidf_top3",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term, n
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def text_tfidf_top3(spark: SparkSession, sf_dir: str):
    """TF-IDF top-3 terms per document — the canonical text-analytics
    composition: explode → tf (per doc,term) → df (per term) → idf join →
    per-doc top-k window.

    Exactness: tf and df are integers; idf = ln(N/df) takes the SAME
    rational input in both engines, and tf·idf rounds to 6 — ranking is on
    the rounded score with a term tie-break, so 1-ulp libm differences
    cannot reorder rows.  Scale shape: two shuffles (doc,term / term); the
    doc count N is a 1-row aggregate folded into the plan (no eager driver
    `count()` / second scan), and the df table joins WITHOUT a broadcast
    hint — web-scale vocab can exceed driver memory, so AQE picks the
    strategy from runtime stats instead.
    """
    d = tbl(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = terms.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = tf.join(df, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
            "tfidf"
        ),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# Corpus-curation operators beyond dedup: repetition filtering (Gopher-style
# quality rule), benchmark decontamination, and PII redaction — the
# remaining staples of a training-data pipeline.  All three are MAP-ONLY or
# broadcast-join shapes: at 100 TB nothing here shuffles the token stream.
# ---------------------------------------------------------------------------


def _word_ngrams(toks: Column, n: int) -> Column:
    """Array of word n-grams (joined by single spaces); empty for short docs."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query(
    "text_dup_ngram_fraction",
    # duplicated-5-gram span fraction: per-occurrence counting (not
    # distinct), so a doc that repeats a corpus-common phrase 3 times
    # scores all 3; the join key is the replayable md5-48 shingle hash
    # (ORACLE_MD5_LONG mirrors F.conv(substr(md5,1,12))) so both engines
    # shuffle/group the SAME 8-byte longs — a 48-bit collision would be
    # shared by both sides, never a mismatch.  Docs under 5 tokens have
    # no 5-grams and drop out of the report in both engines.
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), g AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 12)) AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, array_length(t) - 3),
                      i -> array_to_string(t[i:i+4], ' '))) AS sh
        FROM toks
      ) u
    ), freq AS (
      SELECT h, COUNT(*) AS cnt FROM g GROUP BY h
    ), per_doc AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM g JOIN freq f ON f.h = g.h
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_dup,
           ROUND(CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             AS dup_frac_6
    FROM per_doc ORDER BY doc_id
    """,
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str):
    """DUPLICATED N-GRAM SPAN FRACTION (r14) — the corpus-level repeated-
    substring signal behind C4/RefinedWeb-style dedup: for each document,
    the fraction of its word-5-grams that occur MORE THAN ONCE anywhere
    in the corpus (boilerplate headers, license blocks, templated spam
    score high; original prose scores near zero).  Complements the
    within-doc Gopher repetition rule (text_repetition_filter) and the
    winnowing fingerprints (doc_fingerprint_winnow): this one measures
    CROSS-document span duplication per occurrence.

    Plan: explode 5-grams once (each hashed ONCE to the replayable
    md5-48 long — the winnow discipline), one hash-keyed count, one
    hash-keyed join back, one doc-keyed agg.  At 100 TB the shuffles
    carry (doc_id, 8-byte hash) pairs — never shingle STRINGS — and
    both the count and the join key on the same column, so the exchange
    is reused.  The statistic tolerates 48-bit collisions (~1e-5 at 1e6
    distinct shingles, shared by both engines by construction)."""
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    g = d.select(
        "doc_id",
        F.explode(
            F.transform(_word_ngrams(toks, 5), lambda s: md5_long48(s))
        ).alias("h"),
    )
    freq = g.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        g.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per_doc.selectExpr(
        "doc_id",
        "n_grams",
        "n_dup",
        "ROUND(CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)"
        " AS dup_frac_6",
    ).orderBy("doc_id")


@query(
    "text_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, array_length(t)),
                    i -> array_to_string(t[i:i+1], ' '))) AS sh
      FROM toks WHERE array_length(t) >= 2
    ), counts AS (
      SELECT doc_id, sh, COUNT(*) AS c FROM g GROUP BY doc_id, sh
    ), agg AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS dist, MAX(c) AS top
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_2grams,
           ROUND(1.0 - dist * 1.0 / n, 4) AS dup_frac,
           ROUND(top * 1.0 / n, 4) AS top_frac,
           (1.0 - dist * 1.0 / n) <= 0.05 AS keep
    FROM agg
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str):
    """Gopher-style repetition quality gate: per-document duplicate-2-gram
    fraction and top-2-gram fraction, keep = dup_frac ≤ 0.05.

    Scale shape: MAP-ONLY — both statistics come from array expressions
    inside the row (no explode, no shuffle of the token stream).  The
    top-gram count is the longest run in the SORTED shingle array
    (array_sort + aggregate run-length scan, O(n log n) per doc), which is
    how you'd compute a mode without a groupBy at 100 TB.  The oracle uses
    the textbook unnest+GROUP BY formulation — two independent algorithms
    must agree exactly.
    """
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sh = _word_ngrams(toks, 2)
    n = F.size(sh)
    dist = F.size(F.array_distinct(sh))
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        nxt = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), nxt.alias("run"), F.greatest(acc["best"], nxt).alias("best")
        )

    top = F.aggregate(F.array_sort(sh), init, step)["best"]
    dup_frac = F.lit(1.0) - dist * F.lit(1.0) / n
    return (
        d.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            n.cast("long").alias("n_2grams"),
            F.round(dup_frac, 4).alias("dup_frac"),
            F.round(top * F.lit(1.0) / n, 4).alias("top_frac"),
            (dup_frac <= 0.05).alias("keep"),
        )
    )


@query(
    "text_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, array_length(t) - 2),
                    i -> array_to_string(t[i:i+3], ' '))) AS g
      FROM toks WHERE array_length(t) >= 4
    )
    SELECT c.doc_id, COUNT(*) AS n_overlap
    FROM grams c
    JOIN (SELECT DISTINCT g FROM grams WHERE doc_id < 10) b USING (g)
    WHERE c.doc_id >= 10
    GROUP BY c.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str):
    """Benchmark decontamination: flag corpus documents sharing any word
    4-gram with the held-out set (docs 0-9 stand in for the benchmark).

    Scale shape: the benchmark n-gram set is ALWAYS small (eval suites are
    KBs-MBs against a 100 TB corpus) — distinct it and BROADCAST; the
    corpus side streams map-side through the hash join, no shuffle of
    corpus n-grams.  Returns (doc_id, n_overlap) for contaminated docs —
    the drop-list a curation pipeline anti-joins against.
    """
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(_word_ngrams(toks, 4))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") < 10).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") >= 10)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


#: cross-engine (Java regex / RE2) compatible PII patterns
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' ip 10.0.' || (doc_id % 256) || '.1' ELSE '' END AS s
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(s, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(s, '{_IP_RE}')) AS n_ips,
           length(regexp_replace(regexp_replace(s, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_IP_RE}', '<IP>', 'g')) AS redacted_len
    FROM aug
    WHERE len(regexp_extract_all(s, '{_EMAIL_RE}'))
        + len(regexp_extract_all(s, '{_IP_RE}')) > 0
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str):
    """PII scrub: regex redaction of emails and IPv4 addresses (the
    text-normalization step every corpus pipeline runs before training).

    The synthetic corpus carries no PII, so deterministic markers are
    INJECTED first (doc_id-derived, identical in both engines) — the
    redaction path is then verified end-to-end: per-doc match counts AND
    the redacted text length must agree exactly.  Scale shape: map-only
    JVM regexp (codegen), no Python, no shuffle.
    """
    d = tbl(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
    )
    n_emails = F.size(F.regexp_extract_all(F.col("s"), F.lit(_EMAIL_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(F.col("s"), F.lit(_IP_RE), F.lit(0)))
    red = F.regexp_replace(
        F.regexp_replace(F.col("s"), _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
    )
    return (
        d.select("doc_id", aug.alias("s"))
        .select(
            "doc_id",
            n_emails.cast("long").alias("n_emails"),
            n_ips.cast("long").alias("n_ips"),
            F.length(red).cast("long").alias("redacted_len"),
        )
        .filter(F.col("n_emails") + F.col("n_ips") > 0)
    )


#: GPT-2-style pre-tokenization regex, restricted to the Java-regex ∩ RE2
#: subset (no lookahead): contractions, letter runs, digit runs, punctuation
#: runs (each with optional leading space), whitespace runs
_BPE_RE = "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


@query(
    "text_bpe_token_count",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, regexp_extract_all(text, $${_BPE_RE}$$) AS pieces
      FROM documents
    )
    SELECT doc_id,
           CAST(len(pieces) AS BIGINT) AS n_pieces,
           CAST(COALESCE(list_sum(list_transform(pieces,
                x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS est_tokens
    FROM p
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str):
    """LLM token counting via a BPE-ish pre-tokenizer (the brief's
    "whitespace + a BPE-ish regex" pair — text_token_stats is the
    whitespace half).  The regex is the GPT-2 pre-tokenization pattern
    restricted to the Java∩RE2 subset so both engines split identically;
    est_tokens applies the ~4-chars-per-BPE-token rule per piece — the
    budget estimate a corpus pipeline runs before tokenizing 100 TB for
    real.  Map-only JVM codegen, no shuffle."""
    d = tbl(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    return d.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        F.aggregate(
            pieces,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.ceil(F.length(x) / 4.0).cast("long"),
        ).alias("est_tokens"),
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(array_length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(off // 512 AS BIGINT) AS seq_id,
           CAST(off % 512 AS BIGINT) AS seq_offset
    FROM c
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str):
    """Training-sequence packing (concat-then-chunk): assign each document
    a (seq_id, offset) inside its shard's 512-token stream — the layout
    step that turns a filtered corpus into fixed-budget training rows.

    Deterministic contract: exclusive running token count per shard in
    doc_id order; seq_id = offset ÷ budget.  Scale shape: the window
    partitions by SHARD (`source`) — packing is embarrassingly parallel
    across shards, never a global single-partition window; per-shard
    order is the stable doc_id, so re-runs and engine swaps produce the
    identical layout (the reproducibility a resumable 100 TB tokenization
    job needs)."""
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        d.select("doc_id", "source", n_tok.alias("n_tokens"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(off / 512).cast("long").alias("seq_id"),
            (off % 512).cast("long").alias("seq_offset"),
        )
    )


@query(
    "text_chunk_windows",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), starts AS (
      SELECT doc_id, t, unnest(range(0, array_length(t), 24)) AS start
      FROM toks WHERE array_length(t) >= 1
    )
    SELECT doc_id,
           CAST(start // 24 AS BIGINT) AS chunk_id,
           CAST(array_length(t[start + 1 : start + 32]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text
    FROM starts
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str):
    """Document chunking into overlapping token windows (32-token chunks,
    stride 24 → 8-token overlap) — the retrieval/RAG prep step that turns
    a curated corpus into embeddable passages.

    Scale shape: map-only — windows come from an in-row
    sequence→transform→explode over the token array, so chunking 100 TB
    is pure partition parallelism (the explode multiplies rows ~n/stride×
    but never shuffles).  Slicing semantics are pinned identically in
    both engines (1-based inclusive 32-token slice, short final chunk).
    """
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1, F.lit(24)),
        lambda start: F.struct(
            (start / 24).cast("long").alias("chunk_id"),
            F.size(F.slice(toks, start + 1, 32)).cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(toks, start + 1, 32)).alias("chunk_text"),
        ),
    )
    return (
        d.filter(n >= 1)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.n_chunk_tokens", "c.chunk_text")
    )


@query(
    "text_segment_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), starts AS (
      SELECT doc_id, t, unnest(range(0, array_length(t), 10)) AS start
      FROM toks WHERE array_length(t) >= 1
    ), segs AS (
      SELECT doc_id,
             array_to_string(t[start + 1 : start + 10], ' ') AS seg,
             array_length(t[start + 1 : start + 10]) AS stoks
      FROM starts
    ), freq AS (
      SELECT seg, COUNT(DISTINCT doc_id) AS dfreq FROM segs GROUP BY seg
    )
    SELECT s.doc_id AS doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN f.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN f.dfreq = 1 THEN s.stoks END), 0) AS BIGINT)
             AS kept_tokens
    FROM segs s JOIN freq f ON f.seg = s.seg
    GROUP BY s.doc_id
    """,
)
def text_segment_dedup(spark: SparkSession, sf_dir: str):
    """Segment-level (CCNet/C4-style paragraph) deduplication: split each
    document into non-overlapping 10-token segments, drop every segment
    that appears VERBATIM in more than one document, report per-doc
    keep counts.  This is the within-corpus repeated-boilerplate scrub
    that document-level dedup (dedup_exact_md5 / minhash) cannot express —
    duplicated headers/footers inside otherwise-unique documents.

    Plan: map-only segmentation (sequence→transform→explode, the
    text_chunk_windows slicing semantics pinned cross-engine), one
    groupBy(seg) for corpus document-frequency, one equi-join back, one
    per-doc agg.  At 100 TB the seg join is the heavy stage: hash join on
    the segment string (or its hash at scale), with AQE skew splitting
    handling ultra-common boilerplate segments."""
    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    seg_structs = F.transform(
        F.sequence(F.lit(0), n - 1, F.lit(10)),
        lambda start: F.struct(
            F.concat_ws(" ", F.slice(toks, start + 1, 10)).alias("seg"),
            F.size(F.slice(toks, start + 1, 10)).cast("long").alias("stoks"),
        ),
    )
    segs = (
        d.filter(n >= 1)
        .select("doc_id", F.explode(seg_structs).alias("s"))
        .select("doc_id", "s.seg", "s.stoks")
    )
    freq = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("dfreq"))
    keep = F.col("dfreq") == 1
    return (
        segs.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("stoks"))), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


@query(
    "text_normalize_nfc",
    # REAL cross-engine oracle: DuckDB's utf8proc nfc_normalize vs
    # CPython's unicodedata — both implement UAX #15; the appended
    # combining sequences (U+0300 block) have been normalization-stable
    # since Unicode 1.1, so no UCD-version skew can split the engines
    oracle="""
    SELECT doc_id,
           md5(nfc_normalize(text || 'e' || chr(769) || 'A' || chr(776)
                             || chr(97) || chr(778))) AS nfc_md5,
           length(nfc_normalize(text || 'e' || chr(769) || 'A' || chr(776)
                                || chr(97) || chr(778))) AS nfc_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str):
    """Unicode NFC normalization — the corpus-cleaning step that folds
    combining sequences (e + U+0301 → é) so dedup/hashing see ONE byte
    form per canonical string.  Each document gets decomposed combining
    sequences appended in-plan (é, Ä, å as base+combining — chr() on
    both engines), then normalizes through an Arrow-batched pandas UDF
    (`unicodedata.normalize`; Spark has no built-in NFC — this is the
    documented vectorized-Python slow path, map-only, no shuffle) and
    emits md5 + codepoint length of the result.  DuckDB normalizes with
    its own independent implementation (utf8proc) — a genuine
    cross-engine differential test of UAX #15."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda t: unicodedata.normalize("NFC", t))

    # NOTE: Spark's char(n) is ASCII-mod-256, NOT a Unicode codepoint —
    # the combining marks must be string literals here (DuckDB's chr()
    # IS codepoint-based, so the oracle builds the same suffix with chr)
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("e\u0301A\u0308a\u030a"),  # decomposed e-acute, A-umlaut, a-ring
        ).alias("raw"),
    )
    # project the UDF ONCE — Catalyst does not reliably deduplicate
    # identical Python UDF calls, and normalizing twice doubles the
    # corpus-wide Python cost
    norm = d.select("doc_id", nfc("raw").alias("norm"))
    return norm.select(
        "doc_id",
        F.md5(F.encode("norm", "UTF-8")).alias("nfc_md5"),
        F.length("norm").alias("nfc_chars"),
    ).orderBy("doc_id")


def _gen_bpe_words(spark: SparkSession):
    """Seeded (word, freq) vocabulary for BPE training: 64 words built
    from a small syllable pool (so pair statistics are non-trivial and
    multi-character merges emerge by step 8) with seeded frequencies."""
    from typing import Iterator

    import numpy as np

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(19000 + k)
                syll = ["ab", "ba", "ca", "ad", "db", "bc", "cd", "da"]
                w = "".join(rng.choice(syll, int(rng.integers(2, 5))))
                rows.append((k, w, int(rng.integers(1, 50))))
            yield pd.DataFrame(rows, columns=["word_id", "word", "freq"])

    return spark.range(0, 64, 1, 4).mapInPandas(
        gen, "word_id long, word string, freq long"
    )


@query(
    "text_bpe_train_merges",
    # literal oracle: the corpus is seeded-generated (never read from the
    # driver-regenerated tables) and every step is integer arithmetic +
    # a lexicographic tie-break, so the 10 learned merges and their exact
    # weighted pair counts are deterministic end-to-end
    oracle="""
    SELECT * FROM (VALUES
      (0, 'b', 'c', 'bc', 1060), (1, 'a', 'd', 'ad', 934),
      (2, 'd', 'a', 'da', 546),  (3, 'c', 'd', 'cd', 484),
      (4, 'b', 'a', 'ba', 457),  (5, 'c', 'a', 'ca', 434),
      (6, 'd', 'b', 'db', 316),  (7, 'a', 'b', 'ab', 202),
      (8, 'd', 'bc', 'dbc', 180), (9, 'c', 'ad', 'cad', 133))
      AS t(step, left_sym, right_sym, merged, pair_n)
    ORDER BY step
    """,
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str):
    """DISTRIBUTED BPE merge training (r10) — the iterative half of the
    tokenizer story (`text_bpe_token_count` is the pre-tokenizer half):
    learn 10 merge rules from a seeded (word, freq) vocabulary exactly
    as Sennrich-style BPE does, with every step a DataFrame job:

    - pair counting: explode each word's adjacent symbol pairs weighted
      by word frequency (overlapping occurrences count, matching the
      reference algorithm) → groupBy(pair) sum — map-side combined;
    - argmax with a deterministic (count DESC, left, right) tie-break —
      TakeOrdered(1), no full sort;
    - merge application: a JVM-side `aggregate` fold over each symbol
      array, greedy LEFT-TO-RIGHT non-overlapping ('aaa' + (a,a) →
      [aa, a]) — the fold's accumulator-tail check gives exactly BPE's
      application order, zero Python in the loop;
    - `localCheckpoint` per iteration (the connected-components lesson:
      10 chained withColumns would nest 10 aggregate lambdas in one
      plan).

    100 TB path: the vocabulary table is arbitrarily large — each
    iteration is one exploded-pair shuffle (combiner-reduced to the
    distinct-pair count) plus a map-only rewrite; only the single
    winning pair ever reaches the driver."""
    from wukong_spark.session import Checkpoints

    out = []
    with Checkpoints() as ck:
        words = ck(
            _gen_bpe_words(spark).select(
                "word_id",
                "freq",
                F.expr(
                    "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
                ).alias("syms"),
            )
        )
        for step in range(10):
            pairs = words.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms)-1),"
                        " i -> struct(syms[i-1] AS l, syms[i] AS r))"
                    )
                ).alias("p"),
            ).select("freq", "p.l", "p.r")
            top = (
                pairs.groupBy("l", "r")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.desc("n"), "l", "r")
                .limit(1)
                .collect()[0]
            )
            l, r, n = top["l"], top["r"], int(top["n"])
            merged = l + r
            out.append((step, l, r, merged, n))
            # symbols are [a-d]+ by construction — safe to inline in SQL text
            prev = words
            words = ck(
                words.withColumn(
                    "syms",
                    F.expr(
                        f"aggregate(slice(syms, 2, size(syms)-1), array(syms[0]), "
                        f"(acc, x) -> CASE WHEN element_at(acc, -1) = '{l}'"
                        f" AND x = '{r}' "
                        f"THEN concat(slice(acc, 1, size(acc)-1), array('{merged}')) "
                        f"ELSE concat(acc, array(x)) END)"
                    ),
                )
            )
            # free the superseded iterate (the CC lesson — without this
            # the loop leaks one checkpoint per merge step; leak audit r15)
            ck.free(prev)
    return local_frame(spark,
        out,
        "step int, left_sym string, right_sym string, merged string,"
        " pair_n bigint",
    ).orderBy("step")


def _gen_fuzzy_vocab(spark: SparkSession):
    """Seeded token vocabulary for fuzzy joining: 120 syllable-compound
    base words + 40 planted edit-1 variants (substitution / deletion /
    insertion, seeded per id — a variant row regenerates its base from
    the base id's own seed, so generation parallelizes by id)."""
    from typing import Iterator

    import numpy as np

    def base_word(k: int) -> str:
        rng = np.random.default_rng(23000 + k)
        syll = ["ka", "lo", "mi", "ta", "re", "su", "no", "vi"]
        return "".join(rng.choice(syll, int(rng.integers(2, 4))))

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                if k < 120:
                    rows.append((k, base_word(k)))
                    continue
                rng = np.random.default_rng(24000 + (k - 120))
                w = base_word(int(rng.integers(0, 120)))
                op = int(rng.integers(0, 3))
                pos = int(rng.integers(0, len(w)))
                ch = "abcdefghij"[int(rng.integers(0, 10))]
                if op == 0:
                    v = w[:pos] + ch + w[pos + 1:]
                elif op == 1:
                    v = w[:pos] + w[pos + 1:]
                else:
                    v = w[:pos] + ch + w[pos:]
                rows.append((k, v))
            yield pd.DataFrame(rows, columns=["word_id", "word"])

    return spark.range(0, 160, 1, 4).mapInPandas(
        gen, "word_id long, word string"
    )


@query(
    "fuzzy_join_edit1",
    # COMPUTED oracle on a literal-INPUT vocabulary: the 134 distinct
    # seeded-generated words are embedded as VALUES (DuckDB cannot
    # regenerate PCG64) and DuckDB brute-forces ALL pairs with its own
    # levenshtein() — independently verifying both the SymSpell
    # neighborhood's recall (no distance-1 pair missed) and the
    # distance values, instead of pinning the answer
    oracle="""
    WITH vocab(word) AS (VALUES
      ('asu'), ('casuvi'), ('cmirelo'), ('crelo'), ('fkasu'),
      ('gkasuka'), ('gomi'), ('husumi'), ('iomilo'), ('jsumi'),
      ('kakaka'), ('kalo'), ('kalono'), ('kalore'), ('kamfsu'),
      ('kami'), ('kamisa'), ('kamisu'), ('kano'), ('kanota'),
      ('kanotba'), ('kare'), ('kareaka'), ('kareka'), ('karesu'),
      ('kasu'), ('kasuka'), ('kasumi'), ('kasuvi'), ('kataka'),
      ('kavido'), ('kavino'), ('khmi'), ('klo'), ('klono'),
      ('laovino'), ('loiino'), ('loka'), ('lokaka'), ('lokata'),
      ('lolo'), ('lomi'), ('lonoka'), ('lonolo'), ('lore'), ('loreka'),
      ('loreno'), ('lovino'), ('miasu'), ('micino'), ('mika'),
      ('mikas'), ('mikasu'), ('milore'), ('mimi'), ('mimika'),
      ('mireka'), ('mirelo'), ('mirevi'), ('misu'), ('misure'),
      ('mivi'), ('mivilo'), ('mivimi'), ('mivino'), ('nolo'),
      ('nomilo'), ('noresu'), ('nosu'), ('nosulo'), ('nosusu'),
      ('notano'), ('nsu'), ('rea'), ('redlo'), ('rejo'), ('reka'),
      ('relo'), ('reloka'), ('remilo'), ('remiv'), ('remivi'),
      ('reno'), ('renosu'), ('rere'), ('reresu'), ('reta'), ('retami'),
      ('rhere'), ('suai'), ('suasu'), ('sukalo'), ('sukano'),
      ('sukasu'), ('sulo'), ('sumi'), ('suno'), ('sure'), ('susumi'),
      ('suta'), ('suvi'), ('taa'), ('tadita'), ('taeka'), ('taka'),
      ('talosu'), ('tamifa'), ('tamire'), ('tamita'), ('tano'),
      ('tanomi'), ('taremi'), ('tarere'), ('tasu'), ('tasuta'),
      ('tata'), ('tavi'), ('tika'), ('vctaka'), ('vikami'), ('vilo'),
      ('vimi'), ('vimire'), ('vimisu'), ('vino'), ('vire'), ('virelo'),
      ('viremi'), ('visuvi'), ('vita'), ('vitaea'), ('vitaka'),
      ('vitalo'), ('vno'))
    SELECT a.word AS word_a, b.word AS word_b,
           CAST(levenshtein(a.word, b.word) AS INTEGER) AS dist
    FROM vocab a JOIN vocab b ON a.word < b.word
    WHERE levenshtein(a.word, b.word) <= 1
    ORDER BY word_a, word_b
    """,
)
def fuzzy_join_edit1(spark: SparkSession, sf_dir: str):
    """FUZZY self-join at edit distance ≤ 1 (r10) — typo/variant linking
    for vocabulary normalization, with STRUCTURAL recall and no
    all-pairs: SymSpell deletion neighborhoods.  Each distinct word
    explodes into its identity plus every delete-one-character variant;
    two words at Levenshtein ≤ 1 ALWAYS share a neighborhood key (a
    substitution pair shares the delete-at-the-edited-position variant;
    an insertion/deletion pair shares the shorter word itself), so
    candidates come from one equi-join on the variant key and the exact
    JVM `levenshtein` only runs on candidates.

    100 TB path: a length-n word emits n+1 keys — corpus-linear
    candidate generation versus the quadratic naive join; the exact
    filter touches only key-colliding pairs."""
    words = _gen_fuzzy_vocab(spark).select("word").distinct()
    keyed = words.select(
        "word",
        F.explode(
            F.expr(
                "transform(sequence(0, length(word)), i -> CASE WHEN i = 0"
                " THEN word ELSE concat(substring(word, 1, i - 1),"
                " substring(word, i + 1, length(word) - i)) END)"
            )
        ).alias("k"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .select(
            F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b")
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("word_a", "word_b"))
        .filter(F.col("dist") <= 1)
        .orderBy("word_a", "word_b")
    )


@query(
    "ml_naive_bayes_lang",
    # FULLY SQL-oracled ML: train and predict are the same counting +
    # log-sum algebra in both engines.  Scores round to 6 decimals
    # before the argmax (ln() may differ in the last ulp across libm
    # implementations; drift ~1e-14 vs the 5e-7 rounding boundary), and
    # ties break on class name — deterministic in both engines
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents
    ),
    prior AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n FROM documents),
    wc AS (SELECT lang, w, COUNT(*) AS cnt FROM toks GROUP BY lang, w),
    ctot AS (SELECT lang, COUNT(*) AS n_toks FROM toks GROUP BY lang),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
    scores AS (
      SELECT t.doc_id, p.lang AS cls,
             LN(p.n_docs * 1.0 / (SELECT n FROM tot))
             + SUM(LN((COALESCE(wc.cnt, 0) + 1) * 1.0
                      / (ct.n_toks + (SELECT v FROM vocab)))) AS s
      FROM toks t
      CROSS JOIN prior p
      JOIN ctot ct ON ct.lang = p.lang
      LEFT JOIN wc ON wc.lang = p.lang AND wc.w = t.w
      GROUP BY t.doc_id, p.lang, p.n_docs, ct.n_toks
    ),
    pred AS (
      SELECT doc_id, cls,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY ROUND(s, 6) DESC, cls) AS rk
      FROM scores
    )
    SELECT p.doc_id, d.lang AS true_lang, p.cls AS predicted_lang,
           (p.cls = d.lang) AS correct
    FROM pred p JOIN documents d ON d.doc_id = p.doc_id
    WHERE p.rk = 1
    ORDER BY p.doc_id
    """,
)
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str):
    """Multinomial NAIVE BAYES language classifier (r10) — the rare ML
    entry whose ENTIRE train+predict pipeline is SQL-oracled, not just
    contract booleans: Laplace-smoothed class-conditional token counts
    (train = two groupBys), per-document log-posterior scoring (one
    token×class join), argmax with a round-6 + class-name tie-break.
    In-sample prediction — the point is cross-engine parity of the
    full counting/scoring algebra, per document.

    100 TB path: the model IS two aggregate tables (class priors +
    (class, word) counts — vocabulary-sized, broadcastable); scoring is
    a broadcast join against the token stream, map-side.  No Python
    anywhere.  (Plan note: the token×class expansion is a deliberate
    BroadcastNestedLoopJoin against the FIVE-row class table — the
    sanctioned tiny-broadcast scalar pattern, same class as
    ml_predict_ref's margin crossJoin; it is K-fold row replication, not
    a quadratic join.)"""
    d = tbl(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    )
    prior = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    n_total = d.count()
    wc = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    ctot = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_toks"))
    v = toks.select("w").distinct().count()
    p = prior.select(F.col("lang").alias("cls"), "n_docs")
    scores = (
        toks.crossJoin(F.broadcast(p))
        .join(
            F.broadcast(ctot.select(F.col("lang").alias("cls"), "n_toks")),
            "cls",
        )
        .join(
            F.broadcast(
                wc.select(F.col("lang").alias("cls"), "w", "cnt")
            ),
            ["cls", "w"],
            "left",
        )
        .groupBy("doc_id", "cls", "n_docs", "n_toks")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                    / (F.col("n_toks") + F.lit(v))
                )
            ).alias("sw")
        )
        .select(
            "doc_id",
            "cls",
            (F.log(F.col("n_docs") / F.lit(float(n_total))) + F.col("sw")).alias("s"),
        )
    )
    from pyspark.sql.window import Window as W

    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.round("s", 6).desc(), F.col("cls"))
    )
    pred = scores.withColumn("rk", rk).filter(F.col("rk") == 1)
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("cls").alias("predicted_lang"),
            (F.col("cls") == F.col("lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_bigram_perplexity",
    # fully SQL-oracled LM scoring: bigram counts are exact integers,
    # and the per-doc mean log-prob rounds to 6 decimals (ln() last-ulp
    # drift ~1e-14 per doc vs the 5e-7 grid — no boundary risk)
    oracle="""
    WITH chars AS (
      SELECT doc_id,
             unnest([substring(text, CAST(x AS INT), 2)
                     for x in range(1, length(text))]) AS bg
      FROM documents
    ),
    bc AS (SELECT bg, COUNT(*) AS cnt FROM chars GROUP BY bg),
    tot AS (SELECT COUNT(*) AS n FROM chars),
    vocab AS (SELECT COUNT(DISTINCT bg) AS v FROM bc),
    scored AS (
      SELECT c.doc_id,
             COUNT(*) AS n_bigrams,
             SUM(LN((bc.cnt + 1) * 1.0
                    / ((SELECT n FROM tot) + (SELECT v FROM vocab)))) AS s
      FROM chars c JOIN bc ON bc.bg = c.bg
      GROUP BY c.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ROUND(-s / n_bigrams, 6) AS cross_entropy_6
    FROM scored
    ORDER BY doc_id
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str):
    """LM PERPLEXITY quality scoring (r10) — the CCNet-style filter
    that ranks documents by how surprising they are under a language
    model, here a Laplace-smoothed character-BIGRAM unigram-of-bigrams
    model trained on the corpus itself: per-document cross-entropy =
    −mean ln P(bigram).  Everything is counting + log algebra, so the
    WHOLE train+score pipeline hash-checks against DuckDB per document
    (round-6, the ml_naive_bayes_lang float discipline).

    100 TB path: the model is one (bigram → count) table — broadcast
    side of the scoring join; the document stream is scored map-side.
    A real pipeline swaps in KenLM scores via mapInPandas with the
    same plan shape."""
    d = tbl(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bg"),
    )
    bc = chars.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    tot = chars.count()
    v = bc.count()
    scored = (
        chars.join(F.broadcast(bc), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.log((F.col("cnt") + 1) / F.lit(float(tot + v)))
            ).alias("s"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(-F.col("s") / F.col("n_bigrams"), 6).alias("cross_entropy_6"),
    ).orderBy("doc_id")


@query(
    "sample_weighted_topk",
    # Efraimidis–Spirakis keys: u from the portable md5 fold (exact
    # integer → identical double), POW differs by ≤1 ulp across libm —
    # round-9 + doc_id tie-break makes the top-k cut deterministic
    oracle="""
    WITH k AS (
      SELECT doc_id, n_chars,
             ROUND(POW((CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) + 1)
                       / 1152921504606846977.0,
                       1.0 / n_chars), 9) AS key_9
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, key_9
    FROM k ORDER BY key_9 DESC, doc_id LIMIT 50
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str):
    """WEIGHTED sampling without replacement (r10) — Efraimidis–
    Spirakis: each document draws key u^(1/w) from a DETERMINISTIC
    uniform u (the repo's portable md5→60-bit fold, so re-runs and both
    engines agree) with weight w = n_chars; the k largest keys are an
    exact weighted sample — the mixture-weighting primitive a training
    pipeline uses to oversample high-value sources reproducibly.

    100 TB path: key assignment is map-only; top-k is TakeOrdered
    (per-partition heaps, never a global sort), and the same keys
    support distributed reservoir merging across table partitions."""
    d = tbl(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (md5_long(F.col("text")) + 1) / F.lit(1152921504606846977.0)
    key = F.round(F.pow(u, 1.0 / F.col("n_chars")), 9)
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            key.alias("key_9"),
        )
        .orderBy(F.desc("key_9"), "doc_id")
        .limit(50)
    )


@query(
    "text_distribution_drift",
    # per-token KL contributions: counts are exact integers, probabilities
    # exact rationals of integers; ln differs in the last ulp across libm
    # implementations and the Σ is accumulation-ordered, so every emitted
    # float rounds to 6 BEFORE comparison (the ml_naive_bayes_lang rule) —
    # drift ~1e-15 vs a 1e-6 grid
    oracle="""
    WITH tok AS (
      SELECT doc_id % 2 AS part,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ), c AS (
      SELECT token,
             SUM(CASE WHEN part = 0 THEN 1 ELSE 0 END) AS c_a,
             SUM(CASE WHEN part = 1 THEN 1 ELSE 0 END) AS c_b
      FROM tok GROUP BY token
    ), tot AS (
      SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b, COUNT(*) AS v FROM c
    ), scored AS (
      SELECT c.token, c.c_a, c.c_b,
             (c.c_a + 1.0) / (t.n_a + t.v) AS p,
             (c.c_b + 1.0) / (t.n_b + t.v) AS q
      FROM c CROSS JOIN tot t
    )
    SELECT token, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           ROUND(p * ln(p / q), 6) AS kl_term_6,
           (SELECT ROUND(SUM(p * ln(p / q)), 6) FROM scored) AS kl_total_6
    FROM scored
    ORDER BY token
    """,
)
def text_distribution_drift(spark: SparkSession, sf_dir: str):
    """CORPUS DISTRIBUTION DRIFT (r11) — the train/validation drift check
    a data pipeline runs before shipping a new corpus snapshot: split the
    corpus deterministically (doc_id parity stands in for the snapshot
    boundary), compare token unigram distributions via Laplace-smoothed
    KL divergence D(P_a ‖ P_b), and emit every token's count pair and KL
    contribution plus the corpus-level total — the per-token terms ARE
    the drift attribution (which tokens moved).

    100 TB path: one explode → one (token) groupBy with map-side
    combine; the totals are a broadcast scalar; scoring is pure JVM
    arithmetic.  No Python anywhere."""
    d = tbl(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 2).alias("part"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    c = tok.groupBy("token").agg(
        F.sum(F.when(F.col("part") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("part") == 1, 1).otherwise(0)).alias("c_b"),
    )
    tot = c.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.count(F.lit(1)).alias("v"),
    )
    scored = c.crossJoin(F.broadcast(tot)).select(
        "token",
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        ((F.col("c_a") + 1.0) / (F.col("n_a") + F.col("v"))).alias("p"),
        ((F.col("c_b") + 1.0) / (F.col("n_b") + F.col("v"))).alias("q"),
    )
    term = F.col("p") * F.log(F.col("p") / F.col("q"))
    total = scored.agg(F.round(F.sum(term), 6).alias("kl_total_6"))
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            "token",
            "c_a",
            "c_b",
            F.round(term, 6).alias("kl_term_6"),
            "kl_total_6",
        )
        .orderBy("token")
    )


@query(
    "text_boilerplate_mine",
    # same shingling replayed in SQL: token trigrams per position,
    # doc-frequency >= 5 is "boilerplate", per-doc coverage in integer ppm
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ), heavy AS (
      SELECT shingle FROM (
        SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY shingle
      ) WHERE nd >= 5
    ), tot AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), b AS (
      SELECT s.doc_id, COUNT(*) AS n_boiler
      FROM sh s JOIN heavy h USING (shingle) GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(t.n_shingles, 0) AS n_shingles,
           COALESCE(b.n_boiler, 0) AS n_boiler,
           CASE WHEN COALESCE(t.n_shingles, 0) = 0 THEN 0
                ELSE (COALESCE(b.n_boiler, 0) * 1000000) // t.n_shingles
           END AS boiler_ppm
    FROM documents d
    LEFT JOIN tot t ON t.doc_id = d.doc_id
    LEFT JOIN b ON b.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_boilerplate_mine(spark: SparkSession, sf_dir: str):
    """CORPUS-LEVEL repeated-n-gram (boilerplate) mining (r12, VERDICT
    r11 #6) — the RefinedWeb/CCNet pass the registry lacked: within-doc
    repetition (`text_repetition_filter`) and whole-doc/segment dedup
    exist, but headers, footers, and license blurbs repeat ACROSS
    documents without making any single doc a duplicate.  Shape:
    token-trigram shingles per position → doc-frequency count (one
    keyed groupBy — the ONLY shuffle that scales with the corpus) →
    the heavy set (df ≥ 5 docs) broadcast back → per-doc coverage.

    No all-pairs anything: docs never meet docs; each doc's shingles
    meet only the broadcast heavy set (a left-semi hash probe).  At
    100 TB the (shingle, doc_id) exchange is the cost — linear in
    corpus tokens and AQE-splittable on skewed shingles — while the
    heavy set stays tiny BY CONSTRUCTION (a shingle needs ≥5 distinct
    docs; natural text keeps that set ~1e-4 of shingle space; the CMS
    heavy-hitter sketch in operators/membership.py is the
    approximate-first-pass variant when even one exact count pass is
    too dear).  Output is integer-exact: per-doc shingle totals,
    boilerplate-position counts, and coverage in integer ppm."""
    docs = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    # Spark sequence(1, n-2) DESCENDS when n-2 < 1 — guard short docs
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    shingled = docs.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
        ).alias("shingle"),
    )
    heavy = (
        shingled.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 5)
        .select("shingle")
    )
    tot = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    boiler = (
        shingled.join(F.broadcast(heavy), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        docs.select("doc_id")
        .join(tot, "doc_id", "left")
        .join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.when(F.coalesce("n_shingles", F.lit(0)) == 0, F.lit(0))
            .otherwise(
                F.expr("coalesce(n_boiler, 0) * 1000000 div n_shingles")
            )
            .alias("boiler_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_boilerplate_strip",
    # span-level removal replayed in SQL: every token position covered by
    # a heavy (df>=5) trigram is dropped; surviving tokens rejoin in order
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ), heavy AS (
      SELECT shingle FROM (
        SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY shingle
      ) WHERE nd >= 5
    ), cov AS (
      SELECT DISTINCT s.doc_id, u.p
      FROM sh s JOIN heavy h USING (shingle),
           UNNEST([s.i, s.i + 1, s.i + 2]) AS u(p)
    ), kept AS (
      SELECT tk.doc_id, tk.p, tk.tok
      FROM (
        SELECT doc_id, u.p AS p, t[u.p] AS tok
        FROM toks, UNNEST(generate_series(1, len(t))) AS u(p)
      ) tk
      LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.p = tk.p
      WHERE c.p IS NULL
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str):
    """BOILERPLATE SPAN REMOVAL (r12) — the cleaning pass on top of
    `text_boilerplate_mine`: every token position covered by any heavy
    (cross-doc df ≥ 5) trigram is dropped and the survivors rejoin in
    original order, producing the cleaned text itself (what a training
    pipeline actually feeds downstream), not just coverage counts.

    Shape: shingles carry their 1-based position; the broadcast heavy
    set marks covered positions (explode of [i, i+1, i+2], distinct);
    kept tokens are a LEFT ANTI join of (doc, position, token) against
    the covered set, then an order-preserving reassembly
    (array_sort over (p, tok) structs — p is unique per doc, so the
    sort is total and the rebuilt string is deterministic).

    100 TB path: everything is keyed on (doc_id [, p]) — shuffles are
    linear in corpus tokens, the heavy set is broadcast, docs never
    meet docs.  Output strings are exact, so the entry hash-verifies
    byte-for-byte against the SQL replay."""
    docs = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    shingled = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("i"),
                    F.concat_ws(" ", F.slice(toks, i, 3)).alias("shingle"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.i", "s.shingle")
    heavy = (
        shingled.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 5)
        .select("shingle")
    )
    covered = (
        shingled.join(F.broadcast(heavy), "shingle", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.array(F.col("i"), F.col("i") + 1, F.col("i") + 2)
            ).alias("p"),
        )
        .distinct()
    )
    tok_pos = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    ).select("doc_id", (F.col("pos") + 1).alias("p"), "tok")
    kept = tok_pos.join(covered, ["doc_id", "p"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x.tok,
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_dsir_weights",
    # hashed-bigram importance weights replayed in SQL: identical hash,
    # identical Laplace smoothing, identical ln() expression text; the
    # per-doc sum is <=64 bucket terms so cross-engine fp drift is
    # ~1e-13 against a 1e-6 rounding grid
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(array_to_string(t[i:i+1], ' ')), 1, 15))
                  AS BIGINT) % 64 AS bucket
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2
    ), cnt AS (
      SELECT bucket,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
             COUNT(*) AS cr
      FROM bg GROUP BY bucket
    ), tot AS (
      SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt
    ), lw AS (
      SELECT bucket,
             LN(CAST(ct + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
             - LN(CAST(cr + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE)) AS lr
      FROM cnt CROSS JOIN tot
    ), db AS (
      SELECT doc_id, bucket, COUNT(*) AS n FROM bg GROUP BY doc_id, bucket
    ), w AS (
      SELECT db.doc_id, SUM(db.n) AS n_feats,
             SUM(CAST(db.n AS DOUBLE) * lw.lr) AS w
      FROM db JOIN lw USING (bucket) GROUP BY db.doc_id
    )
    SELECT d.doc_id, CAST(COALESCE(w.n_feats, 0) AS BIGINT) AS n_feats,
           ROUND(COALESCE(w.w, 0.0), 6) AS w_6,
           COALESCE(ROUND(w.w, 6) > 0, FALSE) AS selected
    FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str):
    """DSIR-style IMPORTANCE WEIGHTS for data selection (r12) — the
    hashed-n-gram importance-resampling pass (Xie et al. 2023, public
    method) a pretraining pipeline runs to up-weight raw data that looks
    like a target domain: features are bigrams hashed into 64 buckets
    (`md5_long % 64` — the registry's engine-portable hash), the target
    distribution is the `lang='en'` slice, the raw distribution is the
    whole corpus, both Laplace-smoothed; a document's log importance
    weight is Σ_b n_db · ln(p_target(b)/q_raw(b)).

    Plan shape: one (doc, bucket) count pass, one 64-row bucket table
    (broadcast back — the model IS 64 doubles), one keyed per-doc sum.
    No Python anywhere; at 100 TB the only corpus-sized motion is the
    (doc_id, bucket) exchange, and `selected` (weight > 0 on the ROUNDED
    value, so the threshold can't straddle a sub-grid fp tie) is the
    resampling gate a pipeline would hash-sample against.

    Reference scope note: data-selection is beyond the reference's own
    operator list — added as first-class LLM-pipeline surface per the
    build brief."""
    docs = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bg = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                idx,
                lambda i: md5_long(F.concat_ws(" ", F.slice(toks, i, 2)))
                % 64,
            )
        ).alias("bucket"),
    )
    cnt = bg.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    tot = cnt.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lw = cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        "LN(CAST(ct + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))"
        " - LN(CAST(cr + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE)) AS lr",
    )
    db = bg.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("n"))
    w = (
        db.join(F.broadcast(lw), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n").cast("double") * F.col("lr")).alias("w"),
        )
    )
    return (
        docs.select("doc_id")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.round(F.coalesce("w", F.lit(0.0)), 6).alias("w_6"),
            F.coalesce(F.round("w", 6) > 0, F.lit(False)).alias("selected"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_quality_classifier_check",
    oracle=(
        "SELECT TRUE AS gradient_zero, TRUE AS beats_null_logloss,"
        " 4 AS n_features,"
        " (SELECT COUNT(*) FROM documents) AS n_docs"
    ),
)
def text_quality_classifier_check(spark: SparkSession, sf_dir: str):
    """QUALITY-CLASSIFIER TRAINING end-to-end on text features (r12) —
    the fastText-style filter every LLM data pipeline trains: engineer
    per-doc features IN-PLAN (token count, mean token length, stopword
    ratio, unique-token ratio — all JVM expressions over `documents`),
    fit logistic regression distinguishing the target slice
    (lang='en', the same target `text_dsir_weights` up-weights) with
    the distributed Newton-IRLS solver (`mlops.logreg_fit_newton`),
    then verify with an INDEPENDENT second pass (the ml_logreg_check
    contract):

    - gradient_zero: ‖Xᵀ(y−σ(Xw)) − λw‖∞ / max(1,n) < 1e-8, recomputed
      from per-row probabilities, not the solver's accumulators;
    - beats_null_logloss: the fitted model strictly beats the base-rate
      model in-sample — structural for the convex objective: the null
      model (w=0, b=logit(ȳ)) is in the hypothesis space at zero
      penalty, so the optimum can only tie it when the features carry
      EXACTLY zero in-sample correlation (measure-zero on real data).
      No out-of-sample accuracy verdict: the synthetic corpus shares
      one vocabulary across langs, so held-out separability is noise a
      driver regen could flip — deliberately not pinned.

    Only verdict booleans and deterministic counts leave the cluster;
    training is one gradient/Hessian pass per Newton step with d=4, so
    driver traffic is O(d²·partitions·steps) at any corpus size."""
    from wukong_spark.mlops import logreg_fit_newton
    from wukong_spark.queries.ml_queries import logreg_verdicts

    d = tbl(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    feats = d.select(
        F.array(
            n_tok.cast("double"),
            (F.length(F.regexp_replace("text", r"\s", "")) / n_tok).alias(
                "avg_len"
            ),
            (stop / n_tok).cast("double"),
            (F.size(F.array_distinct(toks)) / n_tok).cast("double"),
        ).alias("features"),
        (F.col("lang") == "en").cast("double").alias("label"),
    )
    feats = feats.persist()
    w, b = logreg_fit_newton(feats, l2=1e-3)
    gradient_zero, beats_null, n = logreg_verdicts(feats, w, b, 1e-3)
    feats.unpersist()
    return local_frame(spark,
        [(gradient_zero, beats_null, len(w), int(n))],
        "gradient_zero boolean, beats_null_logloss boolean,"
        " n_features int, n_docs long",
    )


@query(
    "text_token_entropy",
    # identical formula text both engines: H = -Σ (c/n)·ln(c/n) over the
    # per-doc token distribution; ≤ vocab-size terms per doc, round-6
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents
    ), c AS (
      SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
    ), n AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_unique FROM c GROUP BY doc_id
    ), h AS (
      SELECT c.doc_id,
             SUM(-(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
                 * LN(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))) AS h
      FROM c JOIN n ON n.doc_id = c.doc_id GROUP BY c.doc_id
    )
    SELECT d.doc_id, CAST(n.n AS BIGINT) AS n_tokens, n.n_unique,
           ROUND(h.h, 6) AS entropy_6
    FROM documents d
    JOIN n ON n.doc_id = d.doc_id
    JOIN h ON h.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str):
    """PER-DOCUMENT token Shannon entropy (r12) — the
    repetitiveness/diversity signal quality filters threshold on
    (low-entropy docs are boilerplate, keyboard mash, or template spam;
    the Gopher/RefinedWeb rule family): H = −Σ_t (c_t/n)·ln(c_t/n) over
    each doc's token distribution, alongside the raw counts.

    All-JVM: one explode, one (doc, token) count, one per-doc sum —
    every shuffle keyed on doc_id and map-side combinable.  The entropy
    sum has at most vocab-size terms per doc, so cross-engine fp-order
    drift sits ~1e-14 under the 1e-6 rounding grid (the ln-ulp
    discipline of text_distribution_drift)."""
    d = tbl(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    c = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_unique")
    )
    h = (
        c.join(n.select("doc_id", "n"), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
                    " * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
                )
            ).alias("h")
        )
    )
    return (
        d.select("doc_id")
        .join(n, "doc_id")
        .join(h, "doc_id")
        .select("doc_id", "n", "n_unique", F.round("h", 6).alias("entropy_6"))
        .withColumnRenamed("n", "n_tokens")
        .orderBy("doc_id")
    )


@query(
    "text_vocab_oov_rate",
    # vocab = top-16 corpus tokens (count DESC, token ASC tiebreak —
    # total order, deterministic in both engines); per-doc OOV counts
    # are exact ints, the rate is one double division with
    # char-identical formula text
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents
    ), freq AS (
      SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
    ), vocab AS (
      SELECT t FROM (
        SELECT t, ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS rk FROM freq
      ) WHERE rk <= 16
    ), per_doc AS (
      SELECT tok.doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM tok LEFT JOIN vocab v ON v.t = tok.t
      GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tokens, n_oov,
           ROUND(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS oov_rate_6
    FROM per_doc ORDER BY doc_id
    """,
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str):
    """VOCABULARY COVERAGE / OOV RATE (r13) — the tokenizer-design signal
    every training pipeline computes before fixing a vocab: build the
    top-K corpus vocabulary by frequency (K=16 here; count DESC with a
    token-ASC tiebreak makes the cut a total order), then score each
    document by its out-of-vocabulary token fraction.  High-OOV docs are
    the ones a fixed vocab will shred into UNKs/bytes — the standard
    filter-or-upweight signal for multilingual and code corpora.

    Plan: one explode + token-keyed count for the corpus frequency
    table, then the vocab cut via ``orderBy().limit(16)`` — this
    compiles to TakeOrderedAndProject, a distributed partial top-K
    (each task keeps its local 16, the driver merges), NOT a
    single-partition window sort of the full token table (the ntile
    anti-pattern this file's BM25 entry documents at the top-k-FIRST
    comment).  The rank value is never used downstream — only vocab
    MEMBERSHIP — so no window is needed at all.  The K-row vocab then
    broadcasts; one left join explode-side, one doc-keyed agg.  At
    100 TB the distinct-token table is ~1e9 rows: TakeOrdered scales,
    an unpartitioned window does not.  Per-token membership never
    shuffles the corpus; only (doc_id, counts) pairs move."""
    d = tbl(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))

    vocab = (
        freq.orderBy(F.col("cnt").desc(), F.col("t").asc())
        .limit(16)
        .select("t", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per_doc.selectExpr(
        "doc_id",
        "n_tokens",
        "n_oov",
        "ROUND(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)"
        " AS oov_rate_6",
    ).orderBy("doc_id")


@query(
    "dedup_ngram_containment",
    # containment = |A∩B| / min(|A|,|B|): the ASYMMETRIC near-dup signal —
    # a short doc embedded in a long one scores ~1.0 here while its
    # Jaccard stays tiny (the gate data has such a pair: containment
    # 0.27 with Jaccard 0.036).  Threshold as an exact INTEGER
    # comparison (4·inter ≥ min) — no float in the cut; the reported
    # score is one shared-formula division rounded to 4dp
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id < 200
    ), shingles AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, array_length(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS sh
        FROM toks
      ) u
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT p.doc_a, p.doc_b, p.inter,
           LEAST(sa.n, sb.n) AS n_small,
           ROUND(p.inter * 1.0 / LEAST(sa.n, sb.n), 4) AS containment_4
    FROM pair_inter p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.inter * 4 >= LEAST(sa.n, sb.n)
    ORDER BY p.doc_a, p.doc_b
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str):
    """CONTAINMENT near-dup detection (r15) — the asymmetric companion
    to `dedup_ngram_jaccard`: containment = |A∩B| / min(|A|, |B|)
    flags a document EMBEDDED in another (quote farms, boilerplate
    wrappers, prompt+completion supersets) that symmetric Jaccard
    misses — a short doc fully contained in a long one has containment
    1.0 but Jaccard ≈ |A|/|B|.  The dedup literature's standard second
    signal next to Jaccard; word-3-grams, containment ≥ 0.25 as the
    exact integer cut 4·inter ≥ min(|A|,|B|).

    Shape (r16, VERDICT r15 Next #4): candidates come from EXACT prefix
    filtering (`operators/setsim.py`) — each doc's rarity-ordered shingle
    prefix probes an index of all shingles, which is provably lossless
    for the threshold while a boilerplate shingle (ranked last in every
    prefix) can no longer fan out quadratically; each candidate pair is
    then verified with an exact intersection count.  MinHash-band
    candidates were evaluated and rejected for THIS entry: band recall
    is a Jaccard function, and containment's whole point is pairs whose
    Jaccard is tiny (this gate data: containment 0.27 at Jaccard 0.036),
    so no banding reproduces an exact oracle.  The doc_id<200 slice only
    bounds gate cost; the pipeline itself is the 100 TB shape."""
    from wukong_spark.operators.setsim import prefix_filter_candidates

    d = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = tokens(F.col("text"))
    sh = F.when(F.size(toks) >= 3, F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        )
    )).otherwise(F.array().cast("array<string>"))
    shingles = (
        d.select("doc_id", F.explode(sh).alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cand = prefix_filter_candidates(shingles, "doc_id", "sh", t_num=1, t_den=4)
    # exact per-candidate verification: intersection size via two keyed
    # joins — shuffle carries (pair, shingle) rows for CANDIDATES only
    inter = (
        cand.join(
            shingles.alias("va"), F.col("va.doc_id") == F.col("doc_a")
        )
        .join(
            shingles.alias("vb"),
            (F.col("vb.doc_id") == F.col("doc_b"))
            & (F.col("vb.sh") == F.col("va.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    n_small = F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(F.col("inter") * 4 >= n_small)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            n_small.alias("n_small"),
            r4(F.col("inter") * F.lit(1.0) / n_small).alias("containment_4"),
        )
        .orderBy("doc_a", "doc_b")
    )

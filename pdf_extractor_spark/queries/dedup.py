"""Deduplication operators for the training-data pipeline surface.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — every variant expressed with JVM-side builtins (zero Python
in the hot path) and a DuckDB-runnable ANSI oracle.

Cross-engine hash parity: token hashes derive from ``md5`` (identical
bytes in Spark and DuckDB); the first 8 hex chars become a 32-bit int
via base-16 conversion. All MinHash permutations use
``(a*h + b) % P`` with ``a < 2^30`` so the product stays < 2^62 (no
BIGINT overflow in either engine).

Scale posture (the part that matters at 100 TB):
- never O(n²) on documents: candidate pairs come from inverted-index /
  band-bucket joins (shuffle keyed on shingle / band signature);
- the only quadratic joins here are on the 500-row embeddings table
  per the driver's small-scale check; the LSH-bucketed variant next to
  it is the path that survives 10^9 vectors (pairs only within bucket);
- global top-k uses a total order (score, id_a, id_b) so AQE/partition
  order cannot change the result.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
# (a, b) pairs for 16 permutations — odd multipliers < 2^30, fixed seed.
MINHASH_PERMS = [
    (961748941, 982451653), (634913411, 791123887), (373587883, 426752843),
    (217645177, 158594339), (122949823, 676949143), (68718951, 904193213),
    (37139213, 258125981), (19480387, 561014729), (10619863, 73471097),
    (5414677, 918423767), (2584331, 307409723), (1159523, 650314637),
    (486103, 440484833), (191161, 869415257), (69313, 54276919),
    (22937, 175978261),
]
LSH_ROWS = 4  # 4 bands × 4 rows = 16 signature slots


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _doc_words(docs: DataFrame) -> DataFrame:
    return (docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != ""))


# token hash: first 8 hex chars of md5 → 32-bit unsigned int
_HASH_SPARK = lambda col: F.conv(F.substring(F.md5(col), 1, 8), 16, 10) \
    .cast("long")
_HASH_SQL = "CAST(concat('0x', substr(md5({c}), 1, 8)) AS BIGINT)"

# 3-token shingles, guarded for docs with <3 whitespace tokens: Spark's
# sequence(0, size-3) with size<3 yields a DESCENDING sequence (e.g.
# [0,-1]), so w[i+1] throws under ANSI mode (Spark 4 default) and emits
# bogus ''/partial shingles with ANSI off — diverging from the DuckDB
# oracle, whose generate_series(1, len-2) is empty for len<3.  The CASE
# guard makes short docs produce an empty shingle set in both engines
# (matching the oracle exactly).
#
# TWO placements with very different performance, chosen PER CONSUMER
# (both measured on the 500k-doc stress corpus at local[16], identical
# checksums — BENCH/BASELINE.md "staged-split"):
#
# - Explode consumers (Generate feeds the shingles straight into a
#   shuffle) INLINE the whole expression: Generate's codegen
#   evaluation handles the repeated split() cheaply, while staging the
#   array in a projection first materializes a ~200-string UnsafeArray
#   per document before the explode — measured 26.6s inline vs
#   47-62s staged for explode+hash over 100M shingles.
# - Array-fold consumers (transform/aggregate over the shingle array
#   in later projections) must STAGE via _shingled: referencing the
#   inline expression from an interpreted lambda context re-evaluates
#   split(text) 3× per shingle — measured 69.5s inline vs 5.0s staged
#   for the bare shingle build.
#
# The inline form is LINEAR: a transform() that indexes a fresh
# split(text) from inside its lambda is O(words²) per doc wherever the
# optimizer inlines it — including the size(...)>0 constraint
# InferFiltersFromGenerate derives for explode consumers and pushes
# into the scan Filter. Here each slice() takes the split array as a
# plain per-ROW argument, so even the fully-inlined expression is
# linear.
_SHINGLES_LINEAR = (
    "CASE WHEN size(split(text,' ')) >= 3 THEN"
    " zip_with(slice(split(text,' '), 1, size(split(text,' '))-2),"
    " zip_with(slice(split(text,' '), 2, size(split(text,' '))-2),"
    " slice(split(text,' '), 3, size(split(text,' '))-2),"
    " (b, c) -> concat(b, ' ', c)),"
    " (a, bc) -> concat(a, ' ', bc))"
    " ELSE cast(array() as array<string>) END"
)

_SHINGLES_FROM_W = (
    "CASE WHEN size(w) >= 3 THEN"
    " transform(sequence(0, size(w)-3),"
    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    " ELSE cast(array() as array<string>) END"
)

# Pushdown-PROOF shingle build: identical strings to _SHINGLES_FROM_W,
# but linear under ANY inlining. The transform form indexes ``w`` from
# inside its lambda, so when an optimizer rule substitutes
# w := split(text) into it (predicate pushdown, InferFiltersFromGenerate
# constraints, CollapseProject), split re-evaluates PER ELEMENT —
# O(words²) per doc. Here the three slice() calls take the array as a
# plain argument evaluated once per ROW, and the zip_with lambdas touch
# only their bound elements, so even the fully-inlined expression stays
# linear. Use this form for any shingle consumer whose plan lets
# filters/constraints reach the scan (measured 52.7s → ~2s at 500k docs
# for benchmark_contamination, `tools/scale.py dedup --size 100`).
_SHINGLES_LINEAR_FROM_W = (
    "CASE WHEN size(w) >= 3 THEN"
    " zip_with(slice(w, 1, size(w)-2),"
    " zip_with(slice(w, 2, size(w)-2), slice(w, 3, size(w)-2),"
    " (b, c) -> concat(b, ' ', c)),"
    " (a, bc) -> concat(a, ' ', bc))"
    " ELSE cast(array() as array<string>) END"
)


def _shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) with the split-word array staged in
    its own projection.  CollapseProject refuses to inline a non-cheap
    alias referenced more than once, so ``w`` is computed once per
    document and the shingle lambda only indexes into it.  Use for
    array-fold consumers ONLY — explode consumers should explode
    ``F.expr(_SHINGLES_LINEAR)`` directly (see the note above)."""
    return (docs
            .select("doc_id", F.split("text", " ").alias("w"))
            .select("doc_id", F.expr(_SHINGLES_FROM_W).alias("sh")))


# --- exact dedup ---------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keep the lowest doc_id
    per group. One shuffle on the 16-byte hash — at 100 TB this is the
    canonical first dedup pass (hash, not full text, shuffles)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_copies"),
             F.min("doc_id").alias("keep_doc_id"))
        .orderBy("keep_doc_id")
    )


ORACLE_EXACT = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
       MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
"""


# --- sentence-level exact dedup (first occurrence corpus-wide wins) ------

def q_dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style line/sentence-level exact dedup: every sentence
    unit is kept only at its FIRST corpus occurrence (lowest
    (doc_id, position)); later copies anywhere — other docs or the
    same doc — are dropped. Output: per-doc retention accounting
    (n_units, n_kept, kept_bp), the signal the pipeline uses to drop
    boilerplate-dominated documents.

    Scale shape — deliberately window-free and join-free on the unit
    hash: (1) per-doc totals are a doc-local array fold (zero
    shuffle); (2) the corpus-wide winner per unit is a plain
    ``min(doc_id)`` — a codegen HASH AGGREGATE (a struct-min would
    fall back to SortAggregate), so the universal-boilerplate hot key
    (one sentence present in EVERY document — the exact adversary
    that collapses a window- or join-shaped plan onto one partition)
    is absorbed map-side by partial aggregation before the exchange;
    (3) per-doc kept counts re-aggregate the winner table by doc_id.
    Nothing ever co-locates all occurrences of a hot unit. Units
    travel as 56-bit md5 ints (the Jaccard convention). "First" =
    lowest doc_id (arrival order); a doc's own later duplicates of a
    unit it won still count once (dedup is per unit, per corpus).

    Unit = non-empty trimmed chunk of the literal ``'. '`` split (a
    fixed-string split, identical in Spark and DuckDB — RE2 has no
    lookbehind, so keep-the-dot splitting is not portable)."""
    docs = _t(spark, sf_dir, "documents")
    units = ("filter(transform(split(text, '\\\\. '), x -> trim(x)),"
             " x -> x <> '')")
    occ = (docs
           .select("doc_id", F.explode(F.expr(units)).alias("u"))
           .select("doc_id",
                   F.conv(F.substring(F.md5("u"), 1, 14), 16, 10)
                    .cast("long").alias("h")))
    winners = (occ.groupBy("h")
               .agg(F.min("doc_id").alias("wdoc")))
    kept = (winners.groupBy(F.col("wdoc").alias("doc_id"))
            .agg(F.count("*").alias("n_kept")))
    totals = docs.select(
        "doc_id",
        F.expr(f"size({units})").cast("long").alias("n_units")) \
        .filter(F.col("n_units") > 0)
    return (totals.join(kept, "doc_id", "left")
            .select("doc_id", "n_units",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
            .withColumn("kept_bp",
                        F.expr("(10000 * n_kept) div n_units"))
            .orderBy("doc_id"))


ORACLE_DEDUP_SENTENCES = """
WITH occ AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(us[i]), 1, 14)) AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           list_filter(list_transform(string_split(text, '. '),
                                      x -> trim(x)), x -> x <> '') AS us
    FROM documents
  ), LATERAL (SELECT unnest(generate_series(1, len(us))) AS i)
), winners AS (
  SELECT h, MIN(doc_id) AS wdoc FROM occ GROUP BY h
), kept AS (
  SELECT wdoc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM winners GROUP BY wdoc
), totals AS (
  SELECT doc_id,
         CAST(len(list_filter(list_transform(string_split(text, '. '),
                                             x -> trim(x)),
                              x -> x <> '')) AS BIGINT) AS n_units
  FROM documents
)
SELECT t.doc_id, t.n_units, COALESCE(k.n_kept, 0) AS n_kept,
       (10000 * COALESCE(k.n_kept, 0)) // t.n_units AS kept_bp
FROM totals t LEFT JOIN kept k ON k.doc_id = t.doc_id
WHERE t.n_units > 0
ORDER BY t.doc_id
"""


# --- n-gram Jaccard near-dup --------------------------------------------

JACCARD_DF_CAP = 50  # drop shingles appearing in more than this many docs


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram-shingle Jaccard near-dup via inverted index: shingle →
    doc postings, self-join on shingle (the shuffle key), count common
    shingles per pair, Jaccard from the set sizes. Top-20 pairs under a
    unique total order. No document ever cross-joins another without at
    least one shared shingle.

    Skew defense (the 100-TB concern): before the self-join, shingles
    with document frequency > JACCARD_DF_CAP are pruned (standard
    stop-shingle pruning — a near-universal shingle like "of the and"
    is exactly the skewed shuffle key that makes the posting-list
    self-join quadratic, and carries no similarity signal). Both the
    per-doc sizes and the intersections are computed over the SAME
    pruned shingle set, so the Jaccard score stays self-consistent
    (similarity over informative shingles); the DuckDB oracle applies
    the identical cap.

    Measured at sf0.1 (10k docs, 27,213 distinct shingles): max
    document frequency is 25, so the cap of 50 prunes NOTHING there —
    results are identical with or without it, and the ~10s cost is the
    1.27M genuine posting-list pairs of the small synthetic
    vocabulary. The cap exists for the regime the query is designed
    for: a web corpus where near-universal boilerplate shingles would
    otherwise put O(n²) pairs behind one skewed shuffle key."""
    docs = _t(spark, sf_dir, "documents")
    # shingles shuffle as 56-bit md5-derived ints, not ~20-char
    # strings: smaller shuffle rows, cheaper join comparisons, and the
    # DuckDB oracle hashes IDENTICALLY so parity holds bit-for-bit
    # (56 bits keeps the value inside signed BIGINT in both engines;
    # collisions at corpus shingle cardinality are ~0 and in any case
    # produced identically on both sides)
    all_shingles = (
        docs.select("doc_id",
                    F.explode(F.expr(_SHINGLES_LINEAR)).alias("shingle"))
        .select("doc_id",
                F.conv(F.substring(F.md5("shingle"), 1, 14), 16, 10)
                 .cast("long").alias("shingle"))
        .distinct())
    df_counts = (all_shingles.groupBy("shingle")
                 .agg(F.count("*").alias("df"))
                 .filter(F.col("df") <= JACCARD_DF_CAP))
    shingles = all_shingles.join(df_counts.select("shingle"), "shingle")
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = shingles.alias("a"), shingles.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_shingles").alias("size_b"))
    scored = (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common").cast("double")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                    6)))
    return (scored.select("doc_a", "doc_b", "n_common", "jaccard")
            .orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(20))


ORACLE_JACCARD = f"""
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), all_shingles AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 14)) AS BIGINT) AS shingle
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
), rare AS (
  SELECT shingle FROM all_shingles
  GROUP BY shingle HAVING COUNT(*) <= {JACCARD_DF_CAP}
), shingles AS (
  SELECT s.doc_id, s.shingle FROM all_shingles s JOIN rare USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
"""


# --- MinHash signatures + LSH banding -------------------------------------

def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_sigs(_t(spark, sf_dir, "documents"))


def minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, j, sig): min over the doc's distinct tokens of
    perm_j(token_hash).

    All 16 permutation lanes are WIDE AGGREGATES over one token pass —
    ``groupBy(doc_id).agg(min(perm_0), …, min(perm_15))`` — then
    unpivoted with ``stack``. The round-1 shape (crossJoin a 16-row
    perm table → 16× row explosion → groupBy(doc_id, j)) pushed 16×
    the token rows through the shuffle; at 500k docs that is a
    2-billion-row shuffle and the stage goes memory-bandwidth-bound
    (measured: 0.48 scaling efficiency 4→16 cores). The wide form
    map-side-combines to ONE row per doc per input partition before
    shuffling — the shuffle shrinks by ~3 orders of magnitude.

    No ``distinct()`` on tokens either: ``min`` is insensitive to
    duplicates, so deduplicating (doc_id, word) first would only add a
    full-width token shuffle (500M rows at the 2M-doc stress scale)
    for zero change in output. The oracle keeps its DISTINCT — the
    results are provably identical."""
    words = _doc_words(docs) \
        .withColumn("h", _HASH_SPARK(F.col("word")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME))
         .alias(f"s{j}")
        for j, (a, b) in enumerate(MINHASH_PERMS)
    ]
    wide = words.groupBy("doc_id").agg(*aggs)
    stack_args = ", ".join(f"{j}, s{j}" for j in range(len(MINHASH_PERMS)))
    return wide.selectExpr(
        "doc_id",
        f"stack({len(MINHASH_PERMS)}, {stack_args}) AS (j, sig)")


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): LSH banding of ``minhash_sigs``, 4
    bands × 4 rows; band key = the band's 4 sigs joined with ``-``.
    The one band build behind the LSH edges, the incremental probe,
    the recall audit and the streaming band state. Any DataFrame with
    (doc_id, text) in."""
    sigs = minhash_sigs(docs) \
        .withColumn("band", F.floor(F.col("j") / LSH_ROWS).cast("int"))
    slot = lambda k: F.max(F.when(F.col("j") % LSH_ROWS == k, F.col("sig")))
    return (
        sigs.groupBy("doc_id", "band")
        .agg(F.concat_ws("-", slot(0).cast("string"), slot(1).cast("string"),
                         slot(2).cast("string"), slot(3).cast("string"))
             .alias("band_key")))


_PERM_VALUES = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(MINHASH_PERMS))


def _sigs_sql(src: str) -> str:
    """DuckDB ``tok, hashed, perms, sigs`` CTEs over the (doc_id, text)
    relation ``src``."""
    return f"""
tok AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM {src}
  ) WHERE word <> ''
), hashed AS (
  SELECT doc_id, {_HASH_SQL.format(c='word')} AS h FROM tok
), perms(j, a, b) AS (VALUES {_PERM_VALUES}),
sigs AS (
  SELECT doc_id, j, MIN((a * h + b) % {MINHASH_PRIME}) AS sig
  FROM hashed CROSS JOIN perms GROUP BY doc_id, j
)"""


_SIGS_SQL = _sigs_sql("documents")

# the oracle twin of minhash_bands: (doc_id, band, band_key) from sigs
_BANDS_SQL = f"""bands AS (
  SELECT doc_id, CAST(FLOOR(j / {LSH_ROWS}.0) AS INT) AS band,
         MAX(CASE WHEN j % {LSH_ROWS} = 0 THEN CAST(sig AS VARCHAR) END) || '-' ||
         MAX(CASE WHEN j % {LSH_ROWS} = 1 THEN CAST(sig AS VARCHAR) END) || '-' ||
         MAX(CASE WHEN j % {LSH_ROWS} = 2 THEN CAST(sig AS VARCHAR) END) || '-' ||
         MAX(CASE WHEN j % {LSH_ROWS} = 3 THEN CAST(sig AS VARCHAR) END)
           AS band_key
  FROM sigs GROUP BY doc_id, CAST(FLOOR(j / {LSH_ROWS}.0) AS INT)
)"""

_BANDS_STARRED_SQL = f"""{_BANDS_SQL}, starred AS (
  SELECT band, band_key, doc_id,
         MIN(doc_id) OVER (PARTITION BY band, band_key) AS rep
  FROM bands
)"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature summary — parity evidence that all 16
    permutation lanes agree bit-for-bit with the oracle."""
    sigs = _minhash_sigs(spark, sf_dir)
    return (
        sigs.groupBy("doc_id")
        .agg(F.sum("sig").alias("sig_sum"),
             F.min("sig").alias("sig_min"),
             F.max("sig").alias("sig_max"))
        .orderBy("doc_id")
    )


ORACLE_MINHASH_SIGS = f"""
WITH {_SIGS_SQL}
SELECT doc_id, CAST(SUM(sig) AS BIGINT) AS sig_sum, MIN(sig) AS sig_min, MAX(sig) AS sig_max
FROM sigs GROUP BY doc_id ORDER BY doc_id
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_edges(_t(spark, sf_dir, "documents")).orderBy("doc_a", "doc_b")


def lsh_edges(docs: DataFrame) -> DataFrame:
    """LSH candidates over ``minhash_bands``: docs sharing any band key.

    Candidate edges are STAR-SHAPED, not all-pairs: within each
    (band, band_key) bucket every member links to the bucket's minimum
    doc_id. This is the load-bearing scale decision, measured on a
    5×-replicated 25k-doc stress corpus (`tools/scale.py dedup`):
    all-pairs-within-bucket emitted 142M candidate rows, and because
    one bucket's pairs are generated by ONE shuffle task, a mega-bucket
    of near-identical docs (boilerplate pages — guaranteed to exist in
    a web corpus) made the stage a single-straggler: 399s→357s from 4
    to 16 cores, scaling efficiency 0.28. Star edges are LINEAR in
    bucket size, and bucket membership is preserved: every member
    connects to the same representative, so the connected components —
    what dedup actually consumes — are identical to the all-pairs
    graph's per bucket. ``n_shared_bands`` counts how many bands
    produced the same edge. Any DataFrame with (doc_id, text) in, one
    (doc_a, doc_b, n_shared_bands) row per edge out; callers add any
    sort."""
    bands = minhash_bands(docs)
    w = Window.partitionBy("band", "band_key")
    starred = (bands.withColumn("rep", F.min("doc_id").over(w))
               .filter(F.col("doc_id") != F.col("rep")))
    return (starred.groupBy(F.col("rep").alias("doc_a"),
                            F.col("doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared_bands")))


ORACLE_MINHASH_LSH = f"""
WITH {_SIGS_SQL},
{_BANDS_STARRED_SQL}
SELECT rep AS doc_a, doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM starred WHERE doc_id <> rep
GROUP BY rep, doc_id ORDER BY doc_a, doc_b
"""


# --- SimHash ---------------------------------------------------------------

def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit weighted SimHash per doc: token-count-weighted bit votes,
    bit set where the vote is positive.

    All 32 bit-vote sums are WIDE AGGREGATES over one token pass
    (``groupBy(doc_id).agg(sum(vote_0), …, sum(vote_31))``), and the
    signature assembles from the 32 vote columns in the projection.
    The round-1 shape (crossJoin a 32-row bit table → 32× explosion →
    groupBy(doc_id, bit) → groupBy(doc_id)) shuffled 32× the token
    rows TWICE; at 500k docs that is a 4-billion-row shuffle and the
    stage goes memory-bandwidth-bound (measured: 0.57 scaling
    efficiency 4→16 cores). The wide form map-side-combines to one row
    per doc per partition — same bits, tiny shuffle.

    Votes sum over raw token OCCURRENCES (±1 each) instead of
    pre-counting (doc_id, word) pairs: Σ_words cnt·sign(bit) equals
    Σ_occurrences sign(bit), so the count pre-aggregation — a
    full-width token shuffle, since (doc_id, word) pairs barely
    compress — is pure overhead. The oracle keeps its wc CTE; results
    are provably identical."""
    words = (_doc_words(_t(spark, sf_dir, "documents"))
             .withColumn("h", _HASH_SPARK(F.col("word"))))
    vote = lambda b: F.when(
        (F.shiftright(F.col("h"), b) % 2) == 1, F.lit(1)) \
        .otherwise(F.lit(-1)).cast("long")
    wide = words.groupBy("doc_id").agg(
        *[F.sum(vote(b)).alias(f"v{b}") for b in range(32)])
    simhash = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)) \
            .otherwise(F.lit(0)).cast("long")
        simhash = term if simhash is None else simhash + term
    return (wide.select("doc_id", simhash.alias("simhash"))
            .orderBy("doc_id"))


_SIMHASH_SQL = f"""
wc AS (
  SELECT doc_id, word, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY doc_id, word
), hashed AS (
  SELECT doc_id, cnt, {_HASH_SQL.format(c='word')} AS h FROM wc
), votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN CAST(FLOOR(h / POWER(2.0, bit)) AS BIGINT) % 2 = 1
                  THEN cnt ELSE -cnt END) AS v
  FROM hashed, LATERAL (SELECT unnest(generate_series(0, 31)) AS bit)
  GROUP BY doc_id, bit
), simhashes AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN CAST(POWER(2.0, bit) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)"""

ORACLE_SIMHASH_SIGS = f"""
WITH {_SIMHASH_SQL}
SELECT doc_id, simhash FROM simhashes ORDER BY doc_id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 50 closest pairs by Hamming distance
    (bit_count of XOR). The all-pairs join is the exact baseline and
    is explicitly BOUNDED to the first 1000 docs (ids are dense) so
    its cost is scale-independent; the scale path for the full corpus
    is prefix-bucketing the simhash (same trick as LSH bands)."""
    sh = q_simhash_signatures(spark, sf_dir).filter(F.col("doc_id") < 1000)
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("simhash").alias("sh_b"))
    pairs = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))))
    return (pairs.select("doc_a", "doc_b", "hamming")
            .orderBy("hamming", "doc_a", "doc_b").limit(50))


ORACLE_DEDUP_SIMHASH = f"""
WITH {_SIMHASH_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
WHERE a.doc_id < 1000 AND b.doc_id < 1000
ORDER BY hamming, doc_a, doc_b LIMIT 50
"""


def q_simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash at scale: the 32-bit signature splits into FOUR disjoint
    8-bit bands; each doc is keyed under every (band_id, band_value)
    and candidate pairs only form inside a bucket, so the join is
    equi-keyed and shuffle-partitionable at 10^12 docs (~2^8 buckets
    per band × 4 bands, vs a single-band scheme whose 256 total
    buckets would leave the intra-bucket pairing quadratic).

    Recall (pigeonhole): any pair at hamming distance ≤ 3 differs in
    at most 3 of the 4 bands, so at least one band matches exactly —
    such pairs always share a bucket.

    Like the MinHash-LSH query, candidate edges are STAR-SHAPED: each
    bucket member links to the bucket's minimum doc_id instead of to
    every other member. Measured motivation (`tools/scale.py dedup`,
    25k-doc near-dup stress corpus): all-pairs-within-bucket
    emitted 22.2M rows with scaling efficiency 0.35 — a mega-bucket of
    near-identical signatures turns one shuffle task into a quadratic
    straggler. Star edges are linear in bucket size and keep every
    member attached to its bucket representative, which is what the
    downstream connected-components dedup consumes. ``hamming`` is the
    member↔representative distance (the verify signal); an edge
    failing a strict verify can still cluster through another band."""
    sh = q_simhash_signatures(spark, sf_dir)
    band_ids = spark.createDataFrame([(b,) for b in range(4)], "band int")
    banded = (
        sh.crossJoin(F.broadcast(band_ids))
        .withColumn("band_key",
                    F.expr("shiftright(simhash, band * 8) % 256")))
    w = Window.partitionBy("band", "band_key")
    starred = (
        banded
        .withColumn("rep", F.min("doc_id").over(w))
        .withColumn("rep_sh", F.min_by("simhash", "doc_id").over(w))
        .filter(F.col("doc_id") != F.col("rep")))
    return (
        starred
        .groupBy(F.col("rep").alias("doc_a"),
                 F.col("doc_id").alias("doc_b"),
                 F.col("rep_sh"), F.col("simhash"))
        .agg(F.count("*").alias("n_bands_hit"))
        .withColumn("hamming",
                    F.bit_count(F.col("rep_sh").bitwiseXOR(F.col("simhash")))
                    .cast("int"))
        .select("doc_a", "doc_b", "hamming", "n_bands_hit")
        .orderBy("hamming", "doc_a", "doc_b"))


ORACLE_SIMHASH_BANDS = f"""
WITH {_SIMHASH_SQL},
banded AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * 8)) & 255 AS band_key
  FROM simhashes, LATERAL (SELECT unnest(generate_series(0, 3)) AS band)
), starred AS (
  SELECT band, band_key, doc_id, simhash,
         MIN(doc_id) OVER (PARTITION BY band, band_key) AS rep,
         arg_min(simhash, doc_id) OVER (PARTITION BY band, band_key)
           AS rep_sh
  FROM banded
)
SELECT rep AS doc_a, doc_id AS doc_b,
       CAST(bit_count(xor(rep_sh, simhash)) AS INTEGER) AS hamming,
       COUNT(*) AS n_bands_hit
FROM starred WHERE doc_id <> rep
GROUP BY rep, doc_id, rep_sh, simhash
ORDER BY hamming, doc_a, doc_b
"""


# --- embedding cosine near-dup ---------------------------------------------

def _cosine(col_a, col_b):
    dot = F.aggregate(F.zip_with(col_a, col_b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(F.transform(col_a, lambda x: x * x),
                     F.lit(0.0), lambda acc, x: acc + x)
    nb = F.aggregate(F.transform(col_b, lambda x: x * x),
                     F.lit(0.0), lambda acc, x: acc + x)
    return dot / (F.sqrt(na) * F.sqrt(nb))


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: top-50 pairs by cosine similarity, computed
    JVM-side with zip_with/aggregate (no Python). The all-pairs
    baseline is BOUNDED to the first 1000 vectors (scale-independent
    cost); `ann_lsh_topk` is the bucketed path for the full corpus.

    Norms precompute ONCE per vector before the pair join (sqrt of the
    same fold → bit-identical to the per-pair form the oracle uses,
    but 500k pairs each skip two 64-element reductions — measured
    8.5s → 3.2s at sf0.1)."""
    emb = (_t(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 1000)
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e")))
    norm = F.sqrt(F.aggregate(
        F.transform(F.col("e"), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    emb = emb.withColumn("nrm", norm)
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(F.zip_with(F.col("ea"), F.col("eb"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    pairs = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim",
                    F.round(dot / (F.col("na") * F.col("nb")), 4)))
    return (pairs.select("vec_a", "vec_b", "cos_sim")
            .orderBy(F.desc("cos_sim"), "vec_a", "vec_b").limit(50))


ORACLE_EMB_COSINE = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 1000 AND b.vec_id < 1000
ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 50
"""


CLUSTER_ROUNDS = 6
MAX_CLUSTER_ROUNDS = 50


def propagate_min_labels(docs: DataFrame, edges: DataFrame,
                         rounds: Optional[int] = None,
                         max_rounds: int = MAX_CLUSTER_ROUNDS,
                         doubling: bool = False):
    """Min-label propagation over a directed candidate-edge set
    (undirected closure is built here). Both modes stop at the first
    round that changes NO label:

    - ``rounds=N``: at most N propagation rounds — the deterministic
      contract the fixed-round oracle replays. Labels are monotone
      non-increasing, so a round with no change is a fixpoint and
      every further round would return the same labels: stopping
      there yields exactly the N-round labels.
    - ``rounds=None``: run to that fixpoint (the true
      connected-components labels the q_dedup_clusters docstring
      promises for 10^12-doc runs), capped at ``max_rounds``.

    The changed-label count is an ``observe()`` metric on the round's
    own ``localCheckpoint`` job, so the check costs no extra job.

    ``doubling=True`` adds pointer doubling: each round also folds in
    ``label(label(u))`` (one self-equi-join of the labels table), so a
    label chain of length D collapses in O(log D) rounds instead of D
    — the move that matters at 10^12 docs, where an adversarial
    stitching chain (boilerplate pages bridging buckets pairwise) can
    make graph diameter, and hence plain-propagation round count,
    unbounded. Cost: one extra keyed shuffle of the NARROW (doc_id,
    label) table per round, repaid exponentially in rounds saved.
    Labels stay monotone non-increasing and every folded value is the
    label of a connected node, so the fixpoint is unchanged — proven
    against the recursive-CTE oracle and union-find in tests.

    Each round is one keyed shuffle of (node, label) (two with
    doubling); ``localCheckpoint(eager=True)`` truncates lineage per
    round (iterative-plan hygiene — otherwise the plan doubles per
    round).

    Returns ``(labels, rounds_run)`` where labels has (doc_id, label).
    """
    undirected = (edges.union(edges.select(F.col("doc_b").alias("doc_a"),
                                           F.col("doc_a").alias("doc_b")))
                  .localCheckpoint(eager=True))
    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    n_rounds = rounds if rounds is not None else max_rounds
    ran = 0
    for _ in range(n_rounds):
        nbr = (undirected.join(labels, undirected.doc_b == labels.doc_id)
               .select(F.col("doc_a").alias("doc_id"), F.col("label")))
        parts = [
            labels.select("doc_id", "label", F.col("label").alias("old")),
            nbr.select("doc_id", "label",
                       F.lit(None).cast("long").alias("old")),
        ]
        if doubling:
            lab2 = labels.select(F.col("doc_id").alias("l2_id"),
                                 F.col("label").alias("l2_label"))
            ptr = (labels.join(lab2, labels.label == lab2.l2_id)
                   .select("doc_id", F.col("l2_label").alias("label"),
                           F.lit(None).cast("long").alias("old")))
            parts.append(ptr)
        merged = (parts[0].union(parts[1]) if len(parts) == 2
                  else parts[0].union(parts[1]).union(parts[2]))
        changed = Observation()
        labels = (merged
                  .groupBy("doc_id")
                  .agg(F.min("label").alias("label"),
                       F.min("old").alias("old"))
                  .observe(changed, F.count(F.when(
                      F.col("label") < F.col("old"), 1)).alias("n"))
                  .select("doc_id", "label")
                  .localCheckpoint(eager=True))
        ran += 1
        if changed.get["n"] == 0:
            break
    return labels, ran


def _cluster_report(labels: DataFrame) -> DataFrame:
    return (labels.groupBy("label")
            .agg(F.count("*").alias("cluster_size"),
                 F.min("doc_id").alias("min_member"),
                 F.max("doc_id").alias("max_member"))
            .filter(F.col("cluster_size") > 1)
            .orderBy("label"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of the LSH candidate edges: duplicate-CLUSTER
    assignment via min-label propagation over the star edge set (every
    doc's label converges to the minimum doc_id reachable through
    shared buckets; that representative is the doc you keep).

    CLUSTER_ROUNDS rounds of propagation define the labels in BOTH
    engines (each round: label ← min over undirected neighbors' labels
    and self; Spark stops at an earlier round that changes nothing,
    which yields the same labels), so the oracle is deterministic by
    construction; star edges
    make bucket diameter 1, so round 1 resolves within-bucket chains
    and further rounds only stitch across bands/buckets.
    tests/test_scale_rewrites.py proves 3 rounds reach the true
    union-find fixpoint on the test corpus. For the run-to-convergence
    mode (components with >CLUSTER_ROUNDS-hop stitching chains), see
    q_dedup_clusters_converged.

    Output: one row per duplicate cluster (size > 1): representative,
    member count, and min/max member id."""
    edges = q_dedup_minhash_lsh(spark, sf_dir) \
        .select("doc_a", "doc_b")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    labels, _ran = propagate_min_labels(docs, edges, rounds=CLUSTER_ROUNDS)
    return _cluster_report(labels)


def q_dedup_clusters_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-to-convergence cluster assignment (VERDICT r02 #3): min-label
    propagation WITH POINTER DOUBLING, looping until a round changes NO
    label — the 10^12-doc mode, where a fixed round count cannot be
    trusted to cover the worst stitching chain. Doubling folds
    label(label(u)) into each round, so round count is O(log diameter)
    instead of diameter+1 — a 19-hop chain converges in 6 rounds, not
    20 (tests/test_scale_rewrites.py). Per round: two keyed shuffles
    (edge propagation + the labels self-join), with the changed-label
    count observed on the round's checkpoint job; the loop exits on
    the first zero-change round.

    Oracle: DuckDB recursive-CTE transitive closure over the same star
    edges — label = min(doc_id, min reachable doc_id), i.e. the true
    connected-components fixpoint, which is exactly what convergence
    yields regardless of round count or propagation schedule."""
    edges = q_dedup_minhash_lsh(spark, sf_dir) \
        .select("doc_a", "doc_b")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    labels, _ran = propagate_min_labels(docs, edges, rounds=None,
                                        doubling=True)
    return _cluster_report(labels)


# star edges of the LSH buckets, both directions
_UNDIRECTED_SQL = f"""{_SIGS_SQL},
{_BANDS_STARRED_SQL}, edges AS (
  SELECT rep AS doc_a, doc_id AS doc_b FROM starred WHERE doc_id <> rep
  GROUP BY rep, doc_id
), undirected AS (
  SELECT doc_a, doc_b FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges
)"""

_ROUNDS_SQL = "".join(f""", l{n} AS (
  SELECT doc_id, MIN(label) AS label FROM (
    SELECT doc_id, label FROM l{n - 1}
    UNION ALL
    SELECT u.doc_a AS doc_id, l.label
    FROM undirected u JOIN l{n - 1} l ON u.doc_b = l.doc_id
  ) GROUP BY doc_id
)""" for n in range(1, CLUSTER_ROUNDS + 1))

ORACLE_CLUSTERS = f"""
WITH {_UNDIRECTED_SQL}, l0 AS (
  SELECT doc_id, doc_id AS label FROM documents
){_ROUNDS_SQL}
SELECT label, COUNT(*) AS cluster_size,
       MIN(doc_id) AS min_member, MAX(doc_id) AS max_member
FROM l{CLUSTER_ROUNDS} GROUP BY label HAVING COUNT(*) > 1
ORDER BY label
"""


BENCHMARK_MOD = 97  # every 97th doc stands in for a held-out benchmark


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed dedup pass — what a user actually runs before
    training: one verdict row per document attributing every drop to
    its stage and naming the representative kept in its place:

    - ``exact_dup``: another doc with byte-identical text and a lower
      id exists (rep = that keeper);
    - ``near_dup``: the doc is an exact keeper but its MinHash-LSH
      component (fixed CLUSTER_ROUNDS min-label propagation — the
      ORACLE_CLUSTERS contract) has a lower-id member (rep = the
      component minimum);
    - ``kept``: the doc survives both stages (rep = itself).

    The component minimum is always an exact keeper (identical text ⇒
    identical signatures ⇒ same buckets ⇒ connected, so a keeper with
    a smaller id would be in the same component), so near-dup reps are
    never themselves exact duplicates — the kept set is closed.

    Scale shape: stage 1 is the 16-byte-hash groupBy; stage 2 is the
    star-edge LSH + narrow label propagation (both measured separately
    in BENCH/BASELINE.md); the verdict assembly is two doc_id-keyed
    joins of narrow tables."""
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    w = Window.partitionBy("th")
    exact = (docs.select("doc_id", F.md5("text").alias("th"))
             .withColumn("ek", F.min("doc_id").over(w))
             .select("doc_id", "ek"))
    edges = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels, _ran = propagate_min_labels(ids, edges,
                                        rounds=CLUSTER_ROUNDS)
    return (exact.join(labels, "doc_id")
            .select("doc_id",
                    F.when(F.col("ek") != F.col("doc_id"),
                           F.lit("exact_dup"))
                    .when(F.col("label") != F.col("doc_id"),
                          F.lit("near_dup"))
                    .otherwise(F.lit("kept")).alias("verdict"),
                    F.when(F.col("ek") != F.col("doc_id"), F.col("ek"))
                    .otherwise(F.col("label")).alias("representative"))
            .orderBy("doc_id"))


ORACLE_DEDUP_PIPELINE = f"""
WITH {_UNDIRECTED_SQL}, l0 AS (
  SELECT doc_id, doc_id AS label FROM documents
){_ROUNDS_SQL},
exact AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS ek
  FROM documents
)
SELECT e.doc_id,
       CASE WHEN e.ek <> e.doc_id THEN 'exact_dup'
            WHEN l.label <> e.doc_id THEN 'near_dup'
            ELSE 'kept' END AS verdict,
       CASE WHEN e.ek <> e.doc_id THEN e.ek
            ELSE l.label END AS representative
FROM exact e JOIN l{CLUSTER_ROUNDS} l ON l.doc_id = e.doc_id
ORDER BY e.doc_id
"""


INCR_MOD = 3  # every 3rd doc plays today's incoming batch


def hash_rows(docs: DataFrame) -> DataFrame:
    """(th, doc_id) rows of the exact-dup hash table."""
    return docs.select(F.md5("text").alias("th"), "doc_id")


def probe(batch: DataFrame, ex_hash: DataFrame,
          ex_bands: DataFrame) -> DataFrame:
    """The incremental-dedup verdict contract: one (doc_id, verdict,
    representative) row per ``batch`` doc against the existing corpus's
    hash table (``hash_rows``) and band table (``minhash_bands``).

    Verdicts (precedence exact > near):
    - ``exact_dup``: an existing doc has byte-identical text
      (16-byte-hash equi-join; rep = the minimum such doc);
    - ``near_dup``: shares ≥1 LSH band bucket with an existing doc
      (band-key equi-join; rep = the minimum bucket-mate);
    - ``new``: neither (rep null) — the only rows that enter the
      corpus.

    Both probes are KEYED joins of the batch against the existing
    tables; no batch×batch or existing×existing pair is ever formed.
    Copies within ``batch`` are all ``new`` relative to the existing
    corpus (the intra-batch pass is ``dedup_exact``'s job)."""
    exh = ex_hash.groupBy("th").agg(F.min("doc_id").alias("ex_min"))
    exb = ex_bands.groupBy("band", "band_key") \
        .agg(F.min("doc_id").alias("ex_min"))
    exact = (hash_rows(batch).join(exh, "th")
             .groupBy("doc_id").agg(F.min("ex_min").alias("exact_rep")))
    near = (minhash_bands(batch).join(exb, ["band", "band_key"])
            .groupBy("doc_id").agg(F.min("ex_min").alias("near_rep")))
    return (batch.select("doc_id")
            .join(exact, "doc_id", "left").join(near, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("exact_rep").isNotNull(),
                           F.lit("exact_dup"))
                    .when(F.col("near_rep").isNotNull(),
                          F.lit("near_dup"))
                    .otherwise(F.lit("new")).alias("verdict"),
                    F.coalesce("exact_rep", "near_rep")
                    .alias("representative")))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the daily-increment shape: ``probe`` an
    incoming batch against the EXISTING corpus's hash and band tables,
    the tables a pipeline materializes once per snapshot (the
    PageRank/NB-vocab pattern; ``streaming/incremental.py`` keeps them
    as stream state). Incoming-batch size, not corpus size, drives the
    work per increment. Here every ``INCR_MOD``-th doc plays the
    incoming batch; the rest are "yesterday's corpus"."""
    # each side gets its own band build over its own docs, instead of
    # one band table over the corpus filtered into both probe sides:
    # same rows and checksum, 3.68s vs 3.52s median over 10 interleaved
    # pairs, inside the one-table form's 1.12s IQR (25k docs, local[4],
    # 4 vCPUs, `tools/scale.py dedup --hi 4 --reps 10 --ab`)
    docs = _t(spark, sf_dir, "documents")
    is_inc = (F.col("doc_id") % INCR_MOD) == 0
    existing = docs.filter(~is_inc)
    return probe(docs.filter(is_inc), hash_rows(existing),
                 minhash_bands(existing)).orderBy("doc_id")


ORACLE_DEDUP_INCREMENTAL = f"""
WITH {_SIGS_SQL},
{_BANDS_SQL}, ex_hash AS (
  SELECT md5(text) AS th, MIN(doc_id) AS ex_min FROM documents
  WHERE doc_id % {INCR_MOD} <> 0 GROUP BY md5(text)
), exact AS (
  SELECT d.doc_id, MIN(e.ex_min) AS exact_rep
  FROM documents d JOIN ex_hash e ON e.th = md5(d.text)
  WHERE d.doc_id % {INCR_MOD} = 0 GROUP BY d.doc_id
), ex_bands AS (
  SELECT band, band_key, MIN(doc_id) AS ex_min FROM bands
  WHERE doc_id % {INCR_MOD} <> 0 GROUP BY band, band_key
), near AS (
  SELECT b.doc_id, MIN(e.ex_min) AS near_rep
  FROM bands b JOIN ex_bands e USING (band, band_key)
  WHERE b.doc_id % {INCR_MOD} = 0 GROUP BY b.doc_id
)
SELECT d.doc_id,
       CASE WHEN x.exact_rep IS NOT NULL THEN 'exact_dup'
            WHEN n.near_rep IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       COALESCE(x.exact_rep, n.near_rep) AS representative
FROM documents d
LEFT JOIN exact x ON x.doc_id = d.doc_id
LEFT JOIN near n ON n.doc_id = d.doc_id
WHERE d.doc_id % {INCR_MOD} = 0
ORDER BY d.doc_id
"""


def q_benchmark_contamination(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    return benchmark_contamination(_t(spark, sf_dir, "documents")) \
        .orderBy("doc_id")


def benchmark_contamination(docs: DataFrame) -> DataFrame:
    """Benchmark-contamination detection — the pre-training hygiene
    pass: flag corpus documents sharing 3-gram shingles with a held-out
    benchmark set (here: every ``BENCHMARK_MOD``-th doc plays the
    benchmark). Shingles travel as the same 56-bit md5 ints as the
    Jaccard path.

    Scale shape (VERDICT r03 #3 rewrite; staged-build form r05): the
    corpus side never shuffles by shingle value. Shingle hashes are
    built with the SPLIT STAGED (the ``_shingled`` rule — the r04 form
    referenced the inline expression from the hash lambda and paid
    O(words²) split re-evaluation per doc, 24.5s vs 2.3s at 500k docs
    on the `tools/scale.py dedup --size 100` corpus, and its computed-column
    emptiness filter doubled that via predicate-pushdown inlining);
    the benchmark shingle set (tiny by construction) broadcasts into a
    real hash join, and the post-join ``groupBy(doc_id)`` partial-
    aggregates map-side — a doc's shingles are co-located — so the one
    corpus-keyed exchange carries ≤1 row per doc even on a duplicate-
    saturated crawl where ~every shingle hits. (A broadcast-map fold
    was tried and rejected: ``map_contains_key`` compiles to
    ``array_contains(map_keys(...))`` — Spark maps are arrays, the
    probe is linear, only a hash JOIN gets a real hash table.)

    Any DataFrame with (doc_id, text) in; callers add any sort."""
    is_bench = (F.col("doc_id") % BENCHMARK_MOD) == 0
    # Cheap pre-filter equivalent to the old n_shingles > 0 post-filter
    # (shingle count = words-2, and array_distinct keeps non-emptiness):
    # filtering on the COMPUTED shingle column let predicate pushdown
    # substitute the whole hash pipeline into the Filter node and
    # evaluate it twice per row (measured at 500k docs by
    # `tools/scale.py dedup --size 100`); this form pushes one split to
    # the scan.
    has_sh = F.expr("size(split(text, ' ')) >= 3")

    def hashed(side):
        # _SHINGLES_LINEAR_FROM_W because this plan's Generate nodes
        # let InferFiltersFromGenerate push the full (substituted)
        # expression into the scan Filter — the transform form would
        # re-run split per element there, O(words²)/doc.
        return (side
                .select("doc_id", F.split("text", " ").alias("w"))
                .select("doc_id",
                        F.expr(_SHINGLES_LINEAR_FROM_W).alias("shs"))
                .select("doc_id", F.expr(
                    "array_distinct(transform(shs, s -> "
                    "cast(conv(substring(md5(s), 1, 14), 16, 10) "
                    "as bigint)))").alias("sh")))

    bench = (hashed(docs.filter(is_bench & has_sh))
             .select(F.explode("sh").alias("shingle"))
             .distinct()
             .withColumn("hit", F.lit(1)))
    # ONE corpus consumer: the explode carries every (distinct) shingle,
    # the bench set probes via the broadcast HASH join (a real hash
    # table — a map_contains_key fold compiles to
    # array_contains(map_keys(...)), a LINEAR scan per shingle), LEFT so
    # zero-hit docs survive, and n_shingles falls out of the same
    # groupBy as the hit count — no totals branch, no doc_id join-back.
    # The groupBy(doc_id) partial-aggregates map-side (a doc's shingles
    # are co-located in its own row), so the one corpus-keyed exchange
    # carries ≤1 row per doc even at a 100% hit rate (the duplicate-
    # saturated adversary `tools/scale.py dedup --size 100` measures).
    return (hashed(docs.filter(~is_bench & has_sh))
            .select("doc_id", F.explode("sh").alias("shingle"))
            .join(F.broadcast(bench), "shingle", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 F.count("hit").alias("n_contaminated"))
            .withColumn("contamination_bp",
                        F.floor(F.lit(10000) * F.col("n_contaminated")
                                / F.col("n_shingles")).cast("long"))
            .withColumn("contaminated", F.col("n_contaminated") > 0))


ORACLE_CONTAMINATION = f"""
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1] || ' ' ||
                                      ws[i+2]), 1, 14)) AS BIGINT)
           AS shingle
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCHMARK_MOD} = 0
), corpus AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCHMARK_MOD} <> 0
), totals AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
), hits AS (
  SELECT c.doc_id, COUNT(*) AS hits
  FROM corpus c JOIN bench USING (shingle) GROUP BY c.doc_id
)
SELECT t.doc_id, t.n_shingles,
       COALESCE(h.hits, 0) AS n_contaminated,
       CAST(FLOOR(10000 * COALESCE(h.hits, 0) / t.n_shingles) AS BIGINT)
         AS contamination_bp,
       COALESCE(h.hits, 0) > 0 AS contaminated
FROM totals t LEFT JOIN hits h ON h.doc_id = t.doc_id
ORDER BY t.doc_id
"""


ORACLE_CLUSTERS_CONVERGED = f"""
WITH RECURSIVE {_UNDIRECTED_SQL}, reach(src, dst) AS (
  SELECT doc_a, doc_b FROM undirected
  UNION
  SELECT r.src, u.doc_b FROM reach r JOIN undirected u ON r.dst = u.doc_a
), labels AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS label
  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
  GROUP BY d.doc_id
)
SELECT label, COUNT(*) AS cluster_size,
       MIN(doc_id) AS min_member, MAX(doc_id) AS max_member
FROM labels GROUP BY label HAVING COUNT(*) > 1
ORDER BY label
"""




# --- LSH recall audit ----------------------------------------------------

RECALL_MOD = 10   # deterministic audit sample: every 10th doc


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured-recall audit of the MinHash-LSH banding, as a
    driver-checked query: on a deterministic sample (every
    ``RECALL_MOD``-th doc), compare the band-bucket candidate set
    against EXACT distinct-word Jaccard for every sample pair, and
    report per-Jaccard-decile pair counts and candidate recall — the
    banding S-curve the dedup pass's precision/recall trade rests on
    (``tools/scale.py dedup`` runs it on the replicated stress corpus;
    this query pins a DuckDB-oracled slice of the curve into the
    correctness gate).

    Scale shape: the all-pairs ground truth is the audit's CONTRACT
    and runs on the bounded sample only (at 10^12 docs the sample
    becomes a fixed-count hash sample; the production dedup path never
    does all-pairs). Within the sample: one crossJoin of the staged
    distinct-word arrays (a < b), and a band-keyed equi self-join of
    ``minhash_bands`` for candidates."""
    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % RECALL_MOD) == 0)
            .filter(F.trim(F.col("text")) != ""))
    ws = docs.select("doc_id", F.expr(
        "array_distinct(filter(split(text, ' '), x -> x <> ''))")
        .alias("ws")).localCheckpoint()  # feeds both pair sides
    a = ws.select(F.col("doc_id").alias("a"), F.col("ws").alias("wa"))
    b = ws.select(F.col("doc_id").alias("b"), F.col("ws").alias("wb"))
    jac = (a.crossJoin(b).filter(F.col("a") < F.col("b"))
           .select("a", "b", F.expr(
               "(10000 * CAST(size(array_intersect(wa, wb)) AS BIGINT))"
               " div CAST(size(array_union(wa, wb)) AS BIGINT)")
               .alias("jac_bp")))
    bands = minhash_bands(docs)
    cand = (bands.select(F.col("doc_id").alias("a"), "band", "band_key")
            .join(bands.select(F.col("doc_id").alias("b"), "band",
                               "band_key"), ["band", "band_key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct()
            .withColumn("is_cand", F.lit(1).cast("long")))
    return (jac.join(cand, ["a", "b"], "left")
            .groupBy(F.expr("jac_bp div 1000").alias("jac_decile"))
            .agg(F.count("*").alias("n_pairs"),
                 F.sum(F.coalesce("is_cand", F.lit(0)))
                 .alias("n_candidates"))
            .withColumn("recall_bp",
                        F.expr("(10000 * n_candidates) div n_pairs"))
            .orderBy("jac_decile"))


ORACLE_LSH_RECALL = f"""
WITH sample AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {RECALL_MOD} = 0 AND trim(text) <> ''
), ws AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '),
                                   x -> x <> '')) AS ws
  FROM sample
), jac AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         (10000 * CAST(len(list_intersect(x.ws, y.ws)) AS BIGINT))
           // CAST(len(list_distinct(list_concat(x.ws, y.ws)))
                   AS BIGINT) AS jac_bp
  FROM ws x JOIN ws y ON x.doc_id < y.doc_id
), {_sigs_sql("sample")},
{_BANDS_SQL}, cand AS (
  SELECT DISTINCT xa.doc_id AS a, xb.doc_id AS b
  FROM bands xa JOIN bands xb
    ON xa.band = xb.band AND xa.band_key = xb.band_key
   AND xa.doc_id < xb.doc_id
)
SELECT jac_bp // 1000 AS jac_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       CAST((10000 * SUM(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS recall_bp
FROM jac LEFT JOIN cand c ON jac.a = c.a AND jac.b = c.b
GROUP BY jac_bp // 1000 ORDER BY jac_decile
"""


QUERIES = {
    "dedup_exact": (q_dedup_exact, ORACLE_EXACT),
    "dedup_sentences": (q_dedup_sentences, ORACLE_DEDUP_SENTENCES),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, ORACLE_JACCARD),
    "minhash_signatures": (q_minhash_signatures, ORACLE_MINHASH_SIGS),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, ORACLE_MINHASH_LSH),
    "dedup_clusters": (q_dedup_clusters, ORACLE_CLUSTERS),
    "dedup_clusters_converged": (q_dedup_clusters_converged,
                                 ORACLE_CLUSTERS_CONVERGED),
    "dedup_pipeline": (q_dedup_pipeline, ORACLE_DEDUP_PIPELINE),
    "lsh_recall_audit": (q_lsh_recall_audit, ORACLE_LSH_RECALL),
    "dedup_incremental": (q_dedup_incremental,
                          ORACLE_DEDUP_INCREMENTAL),
    "benchmark_contamination": (q_benchmark_contamination,
                                ORACLE_CONTAMINATION),
    "simhash_signatures": (q_simhash_signatures, ORACLE_SIMHASH_SIGS),
    "dedup_simhash": (q_dedup_simhash, ORACLE_DEDUP_SIMHASH),
    "simhash_bands": (q_simhash_bands, ORACLE_SIMHASH_BANDS),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, ORACLE_EMB_COSINE),
}

"""Web-corpus curation operators beyond the reference: exact substring
(duplicate-span) detection, span-coverage scrub verdicts, and URL
canonicalization.

These are the training-data hygiene passes a Common-Crawl-scale corpus
needs that the sketch-based dedup family (queries/dedup.py) cannot
express: MinHash/SimHash decide whether two DOCUMENTS are near-dups;
the span operators here find the exact duplicated SUBSTRINGS (the
"deduplicating training data makes language models better" operation —
memorized boilerplate, licence blocks, syndicated passages), and the
URL operator normalizes the join key every per-URL stage upstream
relies on.

Scale posture (the 100-TB design):

- k-gram postings shuffle as 56-bit md5-derived ints (not strings),
  exactly like the Jaccard posting join in queries/dedup.py.
- The posting self-join is guarded by a document-frequency cap: a
  k-gram present in more than SPAN_DF_CAP documents is boilerplate so
  universal that it would put O(n²) pairs behind one shuffle key
  (near-universal k-grams carry the least span signal and all of the
  skew). Hashes seen in only ONE document — the overwhelming bulk of
  postings on a clean corpus — are pruned before the join ever
  shuffles.
- Span assembly is the classic gaps-and-islands rewrite: matches on
  the same (doc_a, doc_b) diagonal with consecutive positions collapse
  into one maximal span via ONE window keyed by the pair — no
  iterative merging, no driver loop.
- URL canonicalization is pure whole-stage-codegen string algebra
  (split_part / lower / lambda filter + sort) — no UDF, no shuffle.

All three queries have DuckDB oracles built from the same algebra
(identical hashing, identical 1-based positions, identical param
filters), so parity is bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SPAN_K = 8          # tokens per k-gram seed
SPAN_MIN_TOKENS = 12  # minimal reported span length (tokens)
SPAN_DF_CAP = 20    # drop k-grams present in more than this many docs


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# k-gram postings with 1-based positions. STAGED split (the
# queries/dedup.py staged-split rule): the k-gram text is assembled by
# a transform LAMBDA — an interpreted context that would re-evaluate
# an inline split(text) once per k-gram — so the word array is staged
# in its own projection and the lambda only slices it (measured 1.5×
# at sf0.1, growing with document length).  This differs from the
# 3-gram explode consumers, which inline: there the expression feeds
# Generate directly with no lambda re-reference.
_KGRAMS_FROM_W = (
    f"CASE WHEN size(w) >= {SPAN_K} THEN"
    f" transform(sequence(1, size(w)-{SPAN_K - 1}),"
    f" i -> array_join(slice(w, i, {SPAN_K}), ' '))"
    " ELSE cast(array() as array<string>) END"
)


def _kgram_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h) — pos 1-based, h a 56-bit md5 prefix int."""
    return (docs
            .select("doc_id", F.split("text", " ").alias("w"))
            .select("doc_id",
                    F.posexplode(F.expr(_KGRAMS_FROM_W)).alias("i", "kg"))
            .select("doc_id", (F.col("i") + 1).cast("long").alias("pos"),
                    F.conv(F.substring(F.md5("kg"), 1, 14), 16, 10)
                     .cast("long").alias("h")))


def _span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated spans ≥ SPAN_MIN_TOKENS:
    (doc_a, doc_b, start_a, start_b, span_len)."""
    kg = _kgram_postings(_t(spark, sf_dir, "documents"))
    shared = (kg.groupBy("h")
              .agg(F.countDistinct("doc_id").alias("df"))
              .filter((F.col("df") >= 2) & (F.col("df") <= SPAN_DF_CAP))
              .select("h"))
    kg = kg.join(shared, "h")
    a, b = kg.alias("a"), kg.alias("b")
    # pb is derivable as pa - diag, so it is DROPPED before the
    # shuffle: the window sort below is the bandwidth-bound stage
    # (40M+ seed rows on the stress corpus) and every long it carries
    # is paid twice (shuffle write + sort)
    pairs = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.pos").alias("pa"),
                     (F.col("a.pos") - F.col("b.pos")).alias("diag")))
    # two matches on the same diagonal with consecutive pa belong to
    # the same maximal span: islands via pa - row_number().  The
    # follow-up groupBy keys on a SUPERSET of the window's partition
    # keys, so it reuses the window's distribution — one exchange
    # total after the join.
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = pairs.withColumn("run_id",
                            F.col("pa") - F.row_number().over(w))
    return (runs.groupBy("doc_a", "doc_b", "diag", "run_id")
            .agg(F.min("pa").alias("start_a"),
                 (F.count("*") + F.lit(SPAN_K - 1)).alias("span_len"))
            .filter(F.col("span_len") >= SPAN_MIN_TOKENS)
            .select("doc_a", "doc_b", "start_a",
                    (F.col("start_a") - F.col("diag")).alias("start_b"),
                    "span_len"))


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup, the span-level operation document
    sketches cannot see: every maximal token span of length ≥
    SPAN_MIN_TOKENS shared verbatim by two documents.

    Matching SPAN_K-gram seeds (hashed, DF-capped) self-join on the
    hash; seeds from the same document pair whose positions advance in
    lockstep (equal pa−pb diagonal, consecutive pa) are one maximal
    span, collapsed by a single pair-keyed window — gaps-and-islands,
    not iteration. Top-50 under a unique total order."""
    return (_span_runs(spark, sf_dir)
            .orderBy(F.desc("span_len"), "doc_a", "doc_b", "start_a")
            .limit(50))


ORACLE_DUPLICATE_SPANS = f"""
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), kg AS (
  SELECT doc_id, i AS pos,
         CAST(concat('0x', substr(md5(array_to_string(ws[i:i+{SPAN_K - 1}], ' ')), 1, 14)) AS BIGINT) AS h
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-{SPAN_K - 1})) AS i)
  WHERE len(ws) >= {SPAN_K}
), shared AS (
  SELECT h FROM kg GROUP BY h
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SPAN_DF_CAP}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
  FROM kg a JOIN shared USING (h) JOIN kg b USING (h)
  WHERE a.doc_id < b.doc_id
), runs AS (
  SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS run_id
  FROM pairs
)
SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
       COUNT(*) + {SPAN_K - 1} AS span_len
FROM runs GROUP BY doc_a, doc_b, diag, run_id
HAVING COUNT(*) + {SPAN_K - 1} >= {SPAN_MIN_TOKENS}
ORDER BY span_len DESC, doc_a, doc_b, start_a LIMIT 50
"""


def _merged_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of a junior document's duplicated-span intervals:
    (doc_id, s, e) with overlapping/adjacent-by-overlap spans merged.

    Interval union is the second gaps-and-islands pass: intervals
    ordered by start fall into one island while each start ≤ the
    running max end of its predecessors — one doc-keyed window, one
    aggregate, no per-doc iteration."""
    spans = _span_runs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_len") - 1).alias("e"))
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    # running max end over STRICTLY PRECEDING intervals; first interval
    # of a doc starts island 0
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (spans
               .withColumn("new_island",
                           F.when(prev_max.isNull()
                                  | (F.col("s") > prev_max), 1)
                           .otherwise(0))
               .withColumn("island",
                           F.sum("new_island").over(
                               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy("doc_id", "island")
            .agg(F.min("s").alias("s"), F.max("e").alias("e"))
            .select("doc_id", "s", "e"))


def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document scrub verdict from the duplicate spans: for every
    document that appears as the JUNIOR side (doc_b — higher doc_id
    loses, the same seniority rule as the dedup family), merge its
    span intervals (they overlap when several partners share the same
    passage), count covered tokens, and emit the duplicated-token
    fraction in basis points plus a keep/trim verdict at 20%.
    Interval union: see ``_merged_intervals``."""
    docs = _t(spark, sf_dir, "documents")
    merged = _merged_intervals(spark, sf_dir)
    covered = merged.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"))
    base = docs.select("doc_id",
                       F.size(F.split("text", " ")).cast("long")
                       .alias("n_tokens"))
    out = (base.join(covered, "doc_id", "left")
           .withColumn("dup_tokens",
                       F.coalesce(F.col("dup_tokens"), F.lit(0)))
           .withColumn("dup_bp",
                       F.floor(F.col("dup_tokens") * 10000
                               / F.col("n_tokens")).cast("long"))
           .withColumn("verdict",
                       F.when(F.col("dup_bp") >= 2000, F.lit("trim"))
                       .otherwise(F.lit("keep"))))
    return (out.select("doc_id", "n_tokens", "dup_tokens", "dup_bp",
                       "verdict")
            .orderBy("doc_id"))


ORACLE_SPAN_SCRUB = f"""
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), kg AS (
  SELECT doc_id, i AS pos,
         CAST(concat('0x', substr(md5(array_to_string(ws[i:i+{SPAN_K - 1}], ' ')), 1, 14)) AS BIGINT) AS h
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-{SPAN_K - 1})) AS i)
  WHERE len(ws) >= {SPAN_K}
), shared AS (
  SELECT h FROM kg GROUP BY h
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SPAN_DF_CAP}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
  FROM kg a JOIN shared USING (h) JOIN kg b USING (h)
  WHERE a.doc_id < b.doc_id
), runs AS (
  SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS run_id
  FROM pairs
), spans AS (
  SELECT doc_b AS doc_id, MIN(pb) AS s,
         MIN(pb) + COUNT(*) + {SPAN_K - 1} - 1 AS e
  FROM runs GROUP BY doc_a, doc_b, diag, run_id
  HAVING COUNT(*) + {SPAN_K - 1} >= {SPAN_MIN_TOKENS}
), marked AS (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM spans
), islands AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
  FROM marked
), merged AS (
  SELECT doc_id, MAX(e) - MIN(s) + 1 AS cov
  FROM islands GROUP BY doc_id, island
), covered AS (
  SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS dup_tokens
  FROM merged GROUP BY doc_id
)
SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
       COALESCE(c.dup_tokens, 0) AS dup_tokens,
       CAST(FLOOR(COALESCE(c.dup_tokens, 0) * 10000.0
                  / len(string_split(d.text, ' '))) AS BIGINT) AS dup_bp,
       CASE WHEN FLOOR(COALESCE(c.dup_tokens, 0) * 10000.0
                       / len(string_split(d.text, ' '))) >= 2000
            THEN 'trim' ELSE 'keep' END AS verdict
FROM documents d LEFT JOIN covered c ON d.doc_id = c.doc_id
ORDER BY d.doc_id
"""


def q_span_scrub_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub decision WITHOUT the pair join — the 10^12-doc path,
    exactly parallel to the LSH star-edge move (all-pairs for
    reporting, linear for the decision): a token is duplicated iff it
    sits inside a k-gram shared with ANY more-senior document
    (min(doc_id) of the hash < this doc_id). That needs only a per-hash
    min — one map-side-combined groupBy — joined back to the postings;
    Θ(postings), never Θ(pairs), so the Θ(K²)-per-clique seed blowup
    the pairwise spans pay on replica-dense corpora (measured
    BENCH/BASELINE.md) never happens, and no DF cap is needed at all:
    a boilerplate k-gram shared by a million documents is ONE row in
    the owners table, and marking its occurrences covered is exactly
    the right answer.

    Semantics differ from span_scrub deliberately: coverage counts
    every shared SPAN_K-gram (no SPAN_MIN_TOKENS floor and no per-pair
    attribution) — the production definition when the decision is
    "how much of this doc is duplicated", not "against whom".
    Coverage union: seeds sorted per doc, a gap > SPAN_K starts a new
    covered interval (each seed covers K tokens, so intervals with
    seed gap ≤ K merge seamlessly); per-interval coverage =
    max_pos − min_pos + SPAN_K. The DuckDB oracle counts DISTINCT
    covered positions by exploding each seed's K-token range — the
    opposite construction, so the interval algebra is cross-checked."""
    docs = _t(spark, sf_dir, "documents")
    kg = _kgram_postings(docs)
    owners = kg.groupBy("h").agg(F.min("doc_id").alias("owner"))
    seeds = (kg.join(owners, "h")
             .filter(F.col("owner") < F.col("doc_id"))
             .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (seeds
               .withColumn("gap",
                           F.col("pos") - F.lag("pos").over(w))
               .withColumn("new_island",
                           F.when(F.col("gap").isNull()
                                  | (F.col("gap") > SPAN_K), 1)
                           .otherwise(0))
               .withColumn("island",
                           F.sum("new_island").over(
                               w.rowsBetween(Window.unboundedPreceding, 0))))
    covered = (islands.groupBy("doc_id", "island")
               .agg((F.max("pos") - F.min("pos") + SPAN_K).alias("cov"))
               .groupBy("doc_id")
               .agg(F.sum("cov").alias("dup_tokens")))
    base = docs.select("doc_id",
                       F.size(F.split("text", " ")).cast("long")
                       .alias("n_tokens"))
    out = (base.join(covered, "doc_id", "left")
           .withColumn("dup_tokens",
                       F.coalesce(F.col("dup_tokens"), F.lit(0)))
           .withColumn("dup_bp",
                       F.floor(F.col("dup_tokens") * 10000
                               / F.col("n_tokens")).cast("long"))
           .withColumn("verdict",
                       F.when(F.col("dup_bp") >= 2000, F.lit("trim"))
                       .otherwise(F.lit("keep"))))
    return (out.select("doc_id", "n_tokens", "dup_tokens", "dup_bp",
                       "verdict")
            .orderBy("doc_id"))


ORACLE_SPAN_SCRUB_STAR = f"""
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), kg AS (
  SELECT doc_id, i AS pos,
         CAST(concat('0x', substr(md5(array_to_string(ws[i:i+{SPAN_K - 1}], ' ')), 1, 14)) AS BIGINT) AS h
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-{SPAN_K - 1})) AS i)
  WHERE len(ws) >= {SPAN_K}
), owners AS (
  SELECT h, MIN(doc_id) AS owner FROM kg GROUP BY h
), cov AS (
  SELECT DISTINCT k.doc_id, p.pos2
  FROM kg k JOIN owners o USING (h),
       LATERAL (SELECT unnest(generate_series(k.pos, k.pos + {SPAN_K - 1})) AS pos2) p
  WHERE o.owner < k.doc_id
), covered AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens
  FROM cov GROUP BY doc_id
)
SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
       COALESCE(c.dup_tokens, 0) AS dup_tokens,
       CAST(FLOOR(COALESCE(c.dup_tokens, 0) * 10000.0
                  / len(string_split(d.text, ' '))) AS BIGINT) AS dup_bp,
       CASE WHEN FLOOR(COALESCE(c.dup_tokens, 0) * 10000.0
                       / len(string_split(d.text, ' '))) >= 2000
            THEN 'trim' ELSE 'keep' END AS verdict
FROM documents d LEFT JOIN covered c ON d.doc_id = c.doc_id
ORDER BY d.doc_id
"""


def q_span_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub as an actual corpus TRANSFORMATION: rebuild each
    junior document's text with every duplicated-span token removed
    (seniors keep their copy — exactly one copy of each shared passage
    survives corpus-wide).

    The merged intervals collect into ONE tiny array per junior doc
    (a doc_id-keyed join, rows = docs with any duplication, not
    tokens); the removal itself is a doc-local array fold — tokens are
    position-tagged with transform, filtered by an exists() over the
    interval array, and re-joined — so the corpus never shuffles by
    token. The DuckDB oracle does the opposite (explode + anti-join +
    ordered string_agg), making the fold's off-by-one surface
    hash-checked from both directions."""
    docs = _t(spark, sf_dir, "documents")
    ivs = (_merged_intervals(spark, sf_dir)
           .groupBy("doc_id")
           .agg(F.sort_array(F.collect_list(F.struct("s", "e")))
                .alias("ivs")))
    out = (docs.join(ivs, "doc_id", "left")
           .withColumn("ivs", F.coalesce(
               F.col("ivs"),
               F.expr("cast(array() as array<struct<s:bigint,e:bigint>>)")))
           .withColumn("w", F.split("text", " "))
           .withColumn(
               "kept",
               F.expr("transform(filter(transform(w,"
                      " (t, i) -> named_struct('t', t, 'p', i + 1)),"
                      " x -> NOT exists(ivs,"
                      " iv -> x.p >= iv.s AND x.p <= iv.e)),"
                      " y -> y.t)"))
           .select("doc_id",
                   F.size("w").cast("long").alias("n_tokens"),
                   F.size("kept").cast("long").alias("kept_tokens"),
                   F.array_join("kept", " ").alias("scrubbed_text")))
    return out.orderBy("doc_id")


ORACLE_SPAN_SCRUB_TEXT = f"""
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), kg AS (
  SELECT doc_id, i AS pos,
         CAST(concat('0x', substr(md5(array_to_string(ws[i:i+{SPAN_K - 1}], ' ')), 1, 14)) AS BIGINT) AS h
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-{SPAN_K - 1})) AS i)
  WHERE len(ws) >= {SPAN_K}
), shared AS (
  SELECT h FROM kg GROUP BY h
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SPAN_DF_CAP}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
  FROM kg a JOIN shared USING (h) JOIN kg b USING (h)
  WHERE a.doc_id < b.doc_id
), runs AS (
  SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS run_id
  FROM pairs
), spans AS (
  SELECT doc_b AS doc_id, MIN(pb) AS s,
         MIN(pb) + COUNT(*) + {SPAN_K - 1} - 1 AS e
  FROM runs GROUP BY doc_a, doc_b, diag, run_id
  HAVING COUNT(*) + {SPAN_K - 1} >= {SPAN_MIN_TOKENS}
), marked AS (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM spans
), islands AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
  FROM marked
), merged AS (
  SELECT doc_id, MIN(s) AS s, MAX(e) AS e
  FROM islands GROUP BY doc_id, island
), tokens AS (
  SELECT doc_id, i AS pos, ws[i] AS tok
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
), covered AS (
  SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM merged
), kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokens t ANTI JOIN covered c
    ON t.doc_id = c.doc_id AND t.pos = c.pos
)
SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       COALESCE(k.scrubbed_text, '') AS scrubbed_text
FROM documents d
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text
  FROM kept GROUP BY doc_id
) k ON d.doc_id = k.doc_id
ORDER BY d.doc_id
"""


# --- URL canonicalization --------------------------------------------------

# Deterministic messy URLs derived from (doc_id, source): uppercase
# scheme/host variants, www. prefixes, explicit default ports,
# tracking params in shuffled positions, fragments. Built with the
# same arithmetic in both engines so the operator (not the synthesis)
# is what the oracle checks.
_URL_SPARK = (
    "concat(CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END, '://',"
    " CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END,"
    " source, '.Example.COM',"
    " CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,"
    " '/Docs/', cast(doc_id as string),"
    " '?utm_source=feed&ref=', cast(doc_id % 7 as string), '&b=2&a=1',"
    " CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)"
)

_URL_SQL = (
    "concat(CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END, '://',"
    " CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END,"
    " source, '.Example.COM',"
    " CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END,"
    " '/Docs/', CAST(doc_id AS VARCHAR),"
    " '?utm_source=feed&ref=', CAST(doc_id % 7 AS VARCHAR), '&b=2&a=1',"
    " CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)"
)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization pass that makes per-URL
    dedup/lineage keys stable across crawls: lowercase scheme and host,
    strip a leading www., drop the scheme's default port, drop the
    fragment, remove utm_* tracking params, and sort the surviving
    query params. Path case is PRESERVED (paths are case-sensitive;
    hosts are not).

    Pure string algebra on built-ins (split_part / lower / lambda
    filter + array_sort) — whole-stage codegen end to end, no UDF, no
    shuffle beyond the presentation sort. The DuckDB oracle mirrors
    each step with list_filter/list_sort, so divergence in any rule
    (e.g. the LIKE-free utm_ prefix test — '_' is a LIKE wildcard)
    breaks the hash."""
    docs = _t(spark, sf_dir, "documents")
    url = docs.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    return (canonicalize_urls(url)
            .select("doc_id", "url", "canonical_url", "host")
            .orderBy("doc_id"))


def canonicalize_urls(url: DataFrame) -> DataFrame:
    """The canonicalization algebra over any DataFrame carrying a
    ``url`` column (passthrough columns survive) — exposed separately
    from the registry query so property tests can drive it on
    arbitrary messy URLs. Idempotent by construction (a canonical URL
    re-entering the chain is a fixed point: host already
    lowered/www-stripped, no default port left to drop, params already
    sorted and utm-free, no fragment), pinned by
    tests/test_webcur.py::TestUrlCanonicalize."""
    parts = (url
             .withColumn("nofrag", F.expr("split_part(url, '#', 1)"))
             .withColumn("scheme",
                         F.lower(F.expr("split_part(nofrag, '://', 1)")))
             .withColumn("rest", F.expr("split_part(nofrag, '://', 2)"))
             .withColumn(
                 "hostport",
                 # split '?' BEFORE '/': an authority contains neither,
                 # but a query-with-no-path URL (https://x.com?a=1) has
                 # no '/' after the scheme, so a bare '/'-split would
                 # swallow the query into the host/port
                 F.expr("split_part(split_part(rest, '?', 1), '/', 1)"))
             .withColumn("pathq",
                         F.expr("substr(rest, length(hostport) + 1)"))
             .withColumn("host0",
                         F.lower(F.expr("split_part(hostport, ':', 1)")))
             .withColumn("host",
                         F.when(F.expr("substr(host0, 1, 4) = 'www.'"),
                                F.expr("substr(host0, 5)"))
                         .otherwise(F.col("host0")))
             .withColumn("port", F.expr("split_part(hostport, ':', 2)"))
             .withColumn("path", F.expr("split_part(pathq, '?', 1)"))
             .withColumn("query", F.expr("split_part(pathq, '?', 2)")))
    canon = (parts
             .withColumn(
                 "params",
                 F.expr("array_sort(filter(split(query, '&'),"
                        " p -> substr(p, 1, 4) != 'utm_' AND p != ''))"))
             .withColumn(
                 "keep_port",
                 F.when((F.col("port") == "")
                        | ((F.col("scheme") == "https")
                           & (F.col("port") == "443"))
                        | ((F.col("scheme") == "http")
                           & (F.col("port") == "80")), F.lit(""))
                 .otherwise(F.concat(F.lit(":"), F.col("port"))))
             .withColumn(
                 "canonical_url",
                 F.concat(
                     F.col("scheme"), F.lit("://"), F.col("host"),
                     F.col("keep_port"), F.col("path"),
                     F.when(F.size("params") > 0,
                            F.concat(F.lit("?"),
                                     F.array_join("params", "&")))
                     .otherwise(F.lit("")))))
    return canon.drop("nofrag", "scheme", "rest", "hostport", "pathq",
                      "host0", "port", "path", "query", "params",
                      "keep_port")


ORACLE_URL_CANONICALIZE = f"""
WITH u AS (
  SELECT doc_id, {_URL_SQL} AS url FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
         split_part(split_part(url, '#', 1), '://', 2) AS rest
  FROM u
), parts2 AS (
  SELECT doc_id, url, scheme,
         split_part(split_part(rest, '?', 1), '/', 1) AS hostport,
         substr(rest, length(split_part(split_part(rest, '?', 1), '/', 1)) + 1)
           AS pathq
  FROM parts
), parts3 AS (
  SELECT doc_id, url, scheme, pathq,
         CASE WHEN substr(lower(split_part(hostport, ':', 1)), 1, 4) = 'www.'
              THEN substr(lower(split_part(hostport, ':', 1)), 5)
              ELSE lower(split_part(hostport, ':', 1)) END AS host,
         split_part(hostport, ':', 2) AS port
  FROM parts2
), parts4 AS (
  SELECT doc_id, url, scheme, host,
         CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                   OR (scheme = 'http' AND port = '80')
              THEN '' ELSE concat(':', port) END AS keep_port,
         split_part(pathq, '?', 1) AS path,
         list_sort(list_filter(string_split(split_part(pathq, '?', 2), '&'),
                               p -> substr(p, 1, 4) != 'utm_' AND p != ''))
           AS params
  FROM parts3
)
SELECT doc_id, url,
       concat(scheme, '://', host, keep_port, path,
              CASE WHEN len(params) > 0
                   THEN concat('?', array_to_string(params, '&'))
                   ELSE '' END) AS canonical_url,
       host
FROM parts4 ORDER BY doc_id
"""


# --- Per-host document quota (C4-style host-level cap) ----------------------

DOMAIN_CAP_K = 10  # keep at most this many documents per canonical host


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document quota — the C4-style cap that stops one mega
    site (a wiki mirror, a link farm) from dominating the corpus: keep
    at most DOMAIN_CAP_K documents per canonical host, preferring
    longer documents (deterministic tiebreak on doc_id).

    The host key is the same canonicalized host every per-URL stage
    uses (lowercased, www.-stripped, port-stripped — the
    ``url_canonicalize`` algebra), so the quota and the dedup family
    agree on what "one site" means.

    Scale posture: ``row_number() <= K`` over the host window compiles
    to WindowGroupLimit with a PARTIAL mode before the exchange
    (plan-pinned in tests/test_plans.py) — every input partition ships
    at most K rows per host into the shuffle, so a host holding half
    the crawl costs the same as any other: the skew never reaches one
    reducer. That is what makes a host cap runnable at 10^12 rows
    without salting."""
    docs = _t(spark, sf_dir, "documents")
    url = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.expr(_URL_SPARK).alias("url"))
    hostport = ("split_part(split_part(split_part(split_part(url, '#', 1),"
                " '://', 2), '?', 1), '/', 1)")
    host0 = f"lower(split_part({hostport}, ':', 1))"
    host = (f"CASE WHEN substr({host0}, 1, 4) = 'www.'"
            f" THEN substr({host0}, 5) ELSE {host0} END")
    w = Window.partitionBy("host").orderBy(F.desc("n_tokens"), "doc_id")
    return (url.withColumn("host", F.expr(host))
            .withColumn("host_rank",
                        F.row_number().over(w).cast("long"))
            .filter(F.col("host_rank") <= DOMAIN_CAP_K)
            .select("doc_id", "host", "n_tokens", "host_rank")
            .orderBy("host", "host_rank"))


ORACLE_DOMAIN_CAP = f"""
WITH u AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {_URL_SQL} AS url
  FROM documents
), h AS (
  SELECT doc_id, n_tokens,
         lower(split_part(split_part(split_part(split_part(url, '#', 1),
                                                '://', 2),
                                     '?', 1),
                          '/', 1)) AS hostport
  FROM u
), hosts AS (
  SELECT doc_id, n_tokens,
         CASE WHEN substr(split_part(hostport, ':', 1), 1, 4) = 'www.'
              THEN substr(split_part(hostport, ':', 1), 5)
              ELSE split_part(hostport, ':', 1) END AS host
  FROM h
), ranked AS (
  SELECT doc_id, host, n_tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY host
                                 ORDER BY n_tokens DESC, doc_id)
              AS BIGINT) AS host_rank
  FROM hosts
)
SELECT doc_id, host, n_tokens, host_rank
FROM ranked WHERE host_rank <= {DOMAIN_CAP_K}
ORDER BY host, host_rank
"""


# --- Mojibake repair (ftfy-style encoding fix, JVM-side) ---------------------

# UTF-8 bytes misread as Latin-1/Windows-1252 leave signature sequences
# in crawled text; repairing them is a standard curation pass (ftfy).
# The map is applied in fixed list order via LITERAL replace() in both
# engines — no regex dialect in play, so the oracle pins it exactly.
_MOJIBAKE_PAIRS = [
    ("â€™", "’"),   # â€™  -> ’
    ("â€œ", "“"),   # â€œ  -> “
    ("â€“", "–"),   # â€“  -> –
    ("â€”", "—"),   # â€”  -> —
    ("â€¦", "…"),   # â€¦  -> …
    ("Ã©", "é"),         # Ã©   -> é
    ("Ã¨", "è"),         # Ã¨   -> è
    ("Ã¯", "ï"),         # Ã¯   -> ï
    ("Ã¼", "ü"),         # Ã¼   -> ü
    ("Ã§", "ç"),         # Ã§   -> ç
]

# Deterministic corrupt-text synthesis (same convention as _URL_SPARK):
# three mojibake-bearing suffixes keyed on doc_id so both engines build
# the identical dirty corpus and the REPAIR is what the oracle checks.
_MOJI_SUFFIXES = [
    "",
    " Itâ€™s a naÃ¯ve cafÃ©"
    " â€” rÃ©sumÃ©â€¦",
    " She said â€œbonjour and left"
    " â€“ Ã§a va",
    " TrÃ¨s sÃ¼per indeed",
]


def _moji_case(quote: str) -> str:
    branches = " ".join(
        f"WHEN doc_id % 4 = {i} THEN {quote}{s}{quote}"
        for i, s in enumerate(_MOJI_SUFFIXES) if i > 0)
    return f"concat(text, CASE {branches} ELSE '' END)"


def q_mojibake_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-repair pass (the ftfy step of a web pipeline) as pure
    JVM string algebra: the signature UTF-8-read-as-Latin-1 sequences
    are rewritten by a fixed chain of LITERAL replaces — no Python UDF,
    no regex, no shuffle; the whole repair lives inside one
    whole-stage-codegen projection, so at 100 TB it rides the scan.

    mojibake_chars counts repaired codepoints (each 3-char â€¢-family
    sequence collapses to 1 char, each 2-char Ã-family to 1), derived
    from the length delta — zero extra passes over the text.

    The replace chain is gated by a literal precheck (every signature
    sequence contains 'Ã' or 'â', so rows containing neither are
    passed through after two cheap contains() scans instead of ten
    replace passes) — the same exact-identity precheck pattern as the
    kernel hot-spot pass; on a realistic corpus where mojibake is rare
    the gate is the dominant cost saving (measured 4.4× at 5% dirty;
    ``tools/scale.py mojibake`` times the gated chain)."""
    docs = _t(spark, sf_dir, "documents")
    corrupted = docs.select(
        "doc_id", F.expr(_moji_case("'")).alias("dirty"))
    chain = F.col("dirty")
    for bad, good in _MOJIBAKE_PAIRS:
        chain = F.replace(chain, F.lit(bad), F.lit(good))
    fixed = F.when(F.col("dirty").contains("Ã")
                   | F.col("dirty").contains("â"), chain) \
        .otherwise(F.col("dirty"))
    return (corrupted
            .withColumn("fixed_text", fixed)
            .select("doc_id",
                    (F.length("dirty") - F.length("fixed_text"))
                    .cast("long").alias("mojibake_chars"),
                    "fixed_text")
            .orderBy("doc_id"))


def _moji_oracle() -> str:
    expr = _moji_case("'")
    for bad, good in _MOJIBAKE_PAIRS:
        expr = f"replace({expr}, '{bad}', '{good}')"
    dirty = _moji_case("'")
    return f"""
SELECT doc_id,
       CAST(length({dirty}) - length({expr}) AS BIGINT) AS mojibake_chars,
       {expr} AS fixed_text
FROM documents ORDER BY doc_id
"""


ORACLE_MOJIBAKE_FIX = _moji_oracle()


# --- Ligature expansion (opt-in typography normalization) --------------------

# PDF text layers carry typographic ligature codepoints (U+FB00-FB06);
# expanding them is the standard corpus-normalization move (NFKC's
# ligature subset). The DEFAULT extraction chain deliberately does NOT
# expand them — the reference does no unicode normalization and the
# golden contract is byte-identity — so this is the opt-in pass a
# training-corpus build layers on top (same policy as the P10/P11
# dead-code operators: documented intent, off the golden path).
_LIGATURE_PAIRS = [
    ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬀ", "ff"), ("ﬁ", "fi"),
    ("ﬂ", "fl"), ("ﬅ", "st"), ("ﬆ", "st"),
]

_LIG_SUFFIXES = [
    "",
    " The eﬀort to conﬁgure an eﬃcient workﬂow",
    " A diﬃcult aﬄuent ﬁeld",
    " ﬅop the ﬆream ﬂag",
]


def _lig_case(quote: str) -> str:
    branches = " ".join(
        f"WHEN doc_id % 4 = {i} THEN {quote}{s}{quote}"
        for i, s in enumerate(_LIG_SUFFIXES) if i > 0)
    return f"concat(text, CASE {branches} ELSE '' END)"


def q_ligature_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ligature expansion as pure JVM string algebra: each U+FB0x
    codepoint is a fixed LITERAL replace (single-codepoint needles —
    order-independent, no regex, no UDF, one codegen projection riding
    the scan). ``expanded_chars`` is the growth in codepoint count
    (ﬁ→fi adds 1, ﬃ→ffi adds 2), derived from the length delta. No
    precheck gate here: unlike the mojibake chain there is no shared
    signature character, and seven 1-codepoint contains() scans cost
    the same as the seven replaces they would guard."""
    docs = _t(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id", F.expr(_lig_case("'")).alias("dirty"))
    chain = F.col("dirty")
    for lig, exp in _LIGATURE_PAIRS:
        chain = F.replace(chain, F.lit(lig), F.lit(exp))
    return (dirty
            .withColumn("fixed_text", chain)
            .select("doc_id",
                    (F.length("fixed_text") - F.length("dirty"))
                    .cast("long").alias("expanded_chars"),
                    "fixed_text")
            .orderBy("doc_id"))


def _lig_oracle() -> str:
    expr = _lig_case("'")
    for lig, exp in _LIGATURE_PAIRS:
        expr = f"replace({expr}, '{lig}', '{exp}')"
    dirty = _lig_case("'")
    return f"""
SELECT doc_id,
       CAST(length({expr}) - length({dirty}) AS BIGINT) AS expanded_chars,
       {expr} AS fixed_text
FROM documents ORDER BY doc_id
"""


ORACLE_LIGATURE_FIX = _lig_oracle()


# --- Recrawl delta / CDX-style capture dedup ---------------------------------

# Deterministic multi-capture synthesis: every page is crawled several
# times (page_key = doc_id % 100 groups captures; capture_idx orders
# them), and each capture formats the SAME logical URL differently — in
# exactly the ways canonicalization strips (scheme case, www., default
# port, utm params, param order, fragment).  The operator only works if
# canonical_url collapses all captures of a page onto one key, so this
# doubles as an adversarial oracle for the canonicalizer.
_CRAWL_KEY = "doc_id % 100"
_CRAWL_IDX = "CAST(floor(doc_id / 100) AS BIGINT)"


def _crawl_url(cat: str, cast_s: str) -> str:
    """The capture URL in either engine's SQL dialect (`cat`/`cast_s`
    paper over concat/CAST-to-string spelling differences)."""
    k, i = _CRAWL_KEY, _CRAWL_IDX
    return (
        f"{cat}("
        f"CASE WHEN {i} % 3 = 0 THEN 'HTTPS' ELSE 'https' END, '://',"
        f" CASE WHEN {i} % 2 = 0 THEN 'WWW.' ELSE '' END,"
        f" 'site-', {cast_s.format(f'({k}) % 10')}, '.example.com',"
        f" CASE WHEN {i} % 4 = 1 THEN ':443' ELSE '' END,"
        f" '/p/', {cast_s.format(k)},"
        f" CASE WHEN {i} % 3 = 0 THEN '?b=2&a=1'"
        f"      WHEN {i} % 3 = 1 THEN '?a=1&utm_source=x&b=2'"
        f"      ELSE '?utm_medium=y&b=2&a=1' END,"
        f" CASE WHEN {i} % 5 = 0 THEN '#top' ELSE '' END)")


_CRAWL_URL_SPARK = _crawl_url("concat", "cast({} as string)")
_CRAWL_URL_SQL = _crawl_url("concat", "CAST({} AS VARCHAR)")

# capture timestamp (epoch seconds, monotone in doc_id) and body: the
# body version bumps every SECOND capture, so consecutive captures
# alternate duplicate/changed — the recrawl-dedup signal under test
_CRAWL_TS = "CAST(1704067200 + doc_id * 60 AS BIGINT)"


def _crawl_body(cast_s: str) -> str:
    k, i = _CRAWL_KEY, _CRAWL_IDX
    v = f"{i} - ({i} % 2)"
    return (f"concat('body-', {cast_s.format(k)}, '-v',"
            f" {cast_s.format(f'{v}')})")


def q_crawl_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl delta dedup — the CDX-style pass a continuous crawl
    runs between snapshots: collapse every capture of a page onto its
    canonical URL, order captures by crawl time, and flag (a) whether
    the content changed since the previous capture (``changed`` —
    unchanged recrawls are dropped from training corpora) and (b) the
    latest capture (``is_latest`` — the row a freshness-first corpus
    keeps).

    Scale posture: ONE shuffle keyed on canonical_url and one sort
    under it serve all three window computations — capture rank
    (row_number), previous-capture hash (lag), and capture count
    (count over the unordered frame, reusing the same partitioning, so
    is_latest = rank == n and no descending second sort is needed).
    Canonicalization itself rides the scan (pure codegen string
    algebra, zero shuffle). Per-page capture counts are small and
    bounded by crawl policy, so the key never skews; at 10^12 rows
    this is a single well-shaped exchange."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(_CRAWL_URL_SPARK).alias("url"),
        F.expr(_CRAWL_TS).alias("ts"),
        F.md5(F.expr(_crawl_body("cast({} as string)")))
         .alias("content_hash"))
    canon = canonicalize_urls(base)
    w = Window.partitionBy("canonical_url").orderBy("ts", "doc_id")
    wall = Window.partitionBy("canonical_url")
    return (canon
            .withColumn("capture_rank",
                        F.row_number().over(w).cast("long"))
            .withColumn("prev_hash", F.lag("content_hash").over(w))
            .withColumn("n_captures", F.count("*").over(wall))
            .select(
                "canonical_url", "doc_id", "ts", "content_hash",
                "capture_rank",
                (F.col("prev_hash").isNull()
                 | (F.col("content_hash") != F.col("prev_hash")))
                .alias("changed"),
                (F.col("capture_rank") == F.col("n_captures"))
                .alias("is_latest"))
            .orderBy("canonical_url", "capture_rank"))


def _crawl_canon_cte() -> str:
    """u → parts → … → canon (doc_id, ts, content_hash, host,
    canonical_url): the canonicalized crawl-capture CTE chain shared
    by every recrawl-family oracle (crawl_deltas, web_pipeline, and
    webgraph's frontier_priority)."""
    return f"""u AS (
  SELECT doc_id, {_CRAWL_URL_SQL} AS url,
         {_CRAWL_TS} AS ts,
         md5({_crawl_body("CAST({} AS VARCHAR)")}) AS content_hash
  FROM documents
), parts AS (
  SELECT doc_id, ts, content_hash,
         lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
         split_part(split_part(url, '#', 1), '://', 2) AS rest
  FROM u
), parts2 AS (
  SELECT *, split_part(split_part(rest, '?', 1), '/', 1) AS hostport,
         substr(rest, length(split_part(split_part(rest, '?', 1), '/', 1)) + 1)
           AS pathq
  FROM parts
), parts3 AS (
  SELECT *,
         CASE WHEN substr(lower(split_part(hostport, ':', 1)), 1, 4) = 'www.'
              THEN substr(lower(split_part(hostport, ':', 1)), 5)
              ELSE lower(split_part(hostport, ':', 1)) END AS host,
         split_part(hostport, ':', 2) AS port
  FROM parts2
), parts4 AS (
  SELECT *,
         CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                   OR (scheme = 'http' AND port = '80')
              THEN '' ELSE concat(':', port) END AS keep_port,
         split_part(pathq, '?', 1) AS path,
         list_sort(list_filter(string_split(split_part(pathq, '?', 2), '&'),
                               p -> substr(p, 1, 4) != 'utm_' AND p != ''))
           AS params
  FROM parts3
), canon AS (
  SELECT doc_id, ts, content_hash, host,
         concat(scheme, '://', host, keep_port, path,
                CASE WHEN len(params) > 0
                     THEN concat('?', array_to_string(params, '&'))
                     ELSE '' END) AS canonical_url
  FROM parts4
)"""


ORACLE_CRAWL_DELTAS = f"""
WITH {_crawl_canon_cte()}, ranked AS (
  SELECT canonical_url, doc_id, ts, content_hash,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS capture_rank,
         lag(content_hash) OVER w AS prev_hash,
         COUNT(*) OVER (PARTITION BY canonical_url) AS n_captures
  FROM canon
  WINDOW w AS (PARTITION BY canonical_url ORDER BY ts, doc_id)
)
SELECT canonical_url, doc_id, ts, content_hash, capture_rank,
       (prev_hash IS NULL OR content_hash != prev_hash) AS changed,
       capture_rank = n_captures AS is_latest
FROM ranked ORDER BY canonical_url, capture_rank
"""


BLOCKED_HOSTS = ("src3.example.com", "src13.example.com",
                 "src23.example.com")


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filter — the UT1-style host-list drop every web corpus
    runs before anything else: canonical host NOT IN the blocklist.

    The list rides as a broadcast LEFT ANTI join (a real blocklist is
    a few million hosts — megabytes, broadcast to every executor so
    the filter runs scan-side with zero shuffle of the corpus; the
    demo list is a 3-row literal, same plan). Keyed on the CANONICAL
    host so www./port/case noise cannot dodge the list."""
    docs = _t(spark, sf_dir, "documents")
    url = docs.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    block = spark.createDataFrame([(h,) for h in BLOCKED_HOSTS],
                                  "host string")
    return (canonicalize_urls(url)
            .join(F.broadcast(block), "host", "left_anti")
            .select("doc_id", "canonical_url", "host")
            .orderBy("doc_id"))


ORACLE_URL_BLOCKLIST = f"""
SELECT doc_id, canonical_url, host
FROM ({ORACLE_URL_CANONICALIZE}) t
WHERE host NOT IN ({", ".join(repr(h) for h in BLOCKED_HOSTS)})
ORDER BY doc_id
"""


# --- Sitemap URL discovery ---------------------------------------------------

# Deterministic sitemap-XML synthesis: each doc is a host's sitemap
# carrying 3 <loc> entries — one URL the crawl already has (a capture
# URL from the CDX synthesis), one duplicate-after-canonicalization
# (www./utm noise), and one genuinely new path. Discovery must emit
# exactly the new canonical URLs.
_SITEMAP_KEY = "doc_id % 100"


def _sitemap_xml(cast_s: str) -> str:
    k = _SITEMAP_KEY
    # the crawl's captures all canonicalize to /p/<k>?a=1&b=2 (utm
    # stripped, params sorted) — the known loc must land EXACTLY there
    # or the anti join cannot recognize it (the first cut of this
    # synthesis emitted a bare /p/<k> and "discovered" 100 URLs the
    # crawl already had)
    loc_known = (f"concat('https://site-', {cast_s.format(f'({k}) % 10')},"
                 f" '.example.com/p/', {cast_s.format(k)}, '?b=2&a=1')")
    loc_dup = (f"concat('https://WWW.site-',"
               f" {cast_s.format(f'({k}) % 10')},"
               f" '.example.com/p/', {cast_s.format(k)},"
               f" '?a=1&utm_source=map&b=2')")
    loc_new = (f"concat('https://site-', {cast_s.format(f'({k}) % 10')},"
               f" '.example.com/new/', {cast_s.format('doc_id % 40')})")
    return (f"concat('<urlset><url><loc>', {loc_known},"
            f" '</loc></url><url><loc>', {loc_dup},"
            f" '</loc></url><url><loc>', {loc_new},"
            f" '</loc></url></urlset>')")


_LOC_RE = "<loc>([^<]+)</loc>"


def q_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier discovery: parse sitemap XML, canonicalize every
    <loc>, and emit the URLs the crawl has NOT seen — the feed that
    precedes ``frontier_priority``'s scheduling.

    Scale shape: <loc> extraction is ``regexp_extract_all`` riding the
    scan (no XML library, no UDF — sitemaps are flat by spec); the
    seen-set membership is a LEFT ANTI join on canonical_url (at
    10^12 both sides partition on the join key; here the seen side is
    derived in the same query). DISTINCT collapses the
    canonicalization-duplicates before the anti join so each candidate
    ships once."""
    docs = _t(spark, sf_dir, "documents")
    locs = (docs
            .select(F.explode(F.expr(
                f"regexp_extract_all({_sitemap_xml('cast({} as string)')},"
                f" '{_LOC_RE}', 1)")).alias("url")))
    cand = (canonicalize_urls(locs)
            .select("canonical_url", "host").distinct())
    seen = (canonicalize_urls(
        docs.select(F.expr(_CRAWL_URL_SPARK).alias("url")))
        .select("canonical_url").distinct())
    return (cand.join(seen, "canonical_url", "left_anti")
            .orderBy("canonical_url"))


ORACLE_SITEMAP_DISCOVERY = f"""
WITH locs AS (
  SELECT u.url FROM documents,
       unnest(regexp_extract_all({_sitemap_xml("CAST({} AS VARCHAR)")},
                                 '{_LOC_RE}', 1)) AS u(url)
), cparts AS (
  SELECT url,
         lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
         split_part(split_part(url, '#', 1), '://', 2) AS rest
  FROM locs
), cparts2 AS (
  SELECT *, split_part(split_part(rest, '?', 1), '/', 1) AS hostport,
         substr(rest, length(split_part(split_part(rest, '?', 1), '/', 1)) + 1)
           AS pathq
  FROM cparts
), cparts3 AS (
  SELECT *,
         CASE WHEN substr(lower(split_part(hostport, ':', 1)), 1, 4) = 'www.'
              THEN substr(lower(split_part(hostport, ':', 1)), 5)
              ELSE lower(split_part(hostport, ':', 1)) END AS host,
         split_part(hostport, ':', 2) AS port
  FROM cparts2
), cparts4 AS (
  SELECT *,
         CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                   OR (scheme = 'http' AND port = '80')
              THEN '' ELSE concat(':', port) END AS keep_port,
         split_part(pathq, '?', 1) AS path,
         list_sort(list_filter(string_split(split_part(pathq, '?', 2), '&'),
                               p -> substr(p, 1, 4) != 'utm_' AND p != ''))
           AS params
  FROM cparts3
), cand AS (
  SELECT DISTINCT
         concat(scheme, '://', host, keep_port, path,
                CASE WHEN len(params) > 0
                     THEN concat('?', array_to_string(params, '&'))
                     ELSE '' END) AS canonical_url,
         host
  FROM cparts4
), {_crawl_canon_cte()}
SELECT c.canonical_url, c.host
FROM cand c
WHERE c.canonical_url NOT IN (SELECT canonical_url FROM canon)
ORDER BY c.canonical_url
"""


WEB_PIPE_CAP = 10  # max kept (changed) captures per canonical host


def q_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web-curation audit: every capture of the synthetic
    crawl gets a verdict through the chained stages a CC-style corpus
    build runs — URL canonicalization (the shared codegen algebra),
    recrawl collapse (unchanged recaptures dropped), and a per-host
    freshness-first quota over what survives. One row per input
    capture: ``kept``, ``unchanged_recrawl``, or ``host_quota`` — the
    audit table a 10^12-row pipeline writes next to its output so
    every dropped document is attributable to a stage.

    Scale shape: TWO exchanges total. Exchange 1 keys canonical_url
    (capture rank + lag under one sort — the crawl_deltas plan).
    Exchange 2 keys host but carries ONLY changed captures: unchanged
    recaptures take their verdict from stage 1 and bypass the host
    shuffle entirely (union after), so a mega-host recrawl flood —
    mostly unchanged bytes — never reaches the quota window's
    partition."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(_CRAWL_URL_SPARK).alias("url"),
        F.expr(_CRAWL_TS).alias("ts"),
        F.md5(F.expr(_crawl_body("cast({} as string)")))
         .alias("content_hash"))
    canon = canonicalize_urls(base)
    w = Window.partitionBy("canonical_url").orderBy("ts", "doc_id")
    flagged = (canon
               .withColumn("capture_rank",
                           F.row_number().over(w).cast("long"))
               .withColumn("prev_hash", F.lag("content_hash").over(w))
               .withColumn("changed",
                           F.col("prev_hash").isNull()
                           | (F.col("content_hash")
                              != F.col("prev_hash"))))
    cols = ["canonical_url", "doc_id", "host", "ts", "capture_rank"]
    unchanged = (flagged.filter(~F.col("changed"))
                 .select(*cols,
                         F.lit("unchanged_recrawl").alias("verdict"),
                         F.lit(None).cast("long").alias("host_rank")))
    wh = Window.partitionBy("host").orderBy(F.desc("ts"), F.asc("doc_id"))
    survivors = (flagged.filter(F.col("changed"))
                 .withColumn("host_rank",
                             F.row_number().over(wh).cast("long"))
                 .select(*cols,
                         F.when(F.col("host_rank") <= WEB_PIPE_CAP,
                                F.lit("kept"))
                         .otherwise(F.lit("host_quota"))
                         .alias("verdict"),
                         "host_rank"))
    return (unchanged.unionByName(survivors)
            .orderBy("canonical_url", "capture_rank"))


def curate_pages(pages: DataFrame,
                 cap: int = WEB_PIPE_CAP) -> DataFrame:
    """``q_web_pipeline``'s chain over a REAL pages table (url,
    warc_ts, text, …) — the form the CLI's ``curate`` subcommand runs:
    canonicalize → drop unchanged recaptures → freshness-first host
    quota. Returns the per-capture audit (url, canonical_url, host,
    warc_ts, capture_rank, verdict, host_rank); join verdict='kept'
    back onto the source table for the survivor corpus. Same two-
    exchange shape as the registry query (see its docstring)."""
    base = pages.select("url", "warc_ts",
                        F.md5(F.coalesce(F.col("text"), F.lit("")))
                         .alias("content_hash"))
    canon = canonicalize_urls(base)
    w = Window.partitionBy("canonical_url").orderBy("warc_ts", "url")
    flagged = (canon
               .withColumn("capture_rank",
                           F.row_number().over(w).cast("long"))
               .withColumn("prev_hash", F.lag("content_hash").over(w))
               .withColumn("changed",
                           F.col("prev_hash").isNull()
                           | (F.col("content_hash")
                              != F.col("prev_hash"))))
    cols = ["url", "canonical_url", "host", "warc_ts", "capture_rank"]
    unchanged = (flagged.filter(~F.col("changed"))
                 .select(*cols,
                         F.lit("unchanged_recrawl").alias("verdict"),
                         F.lit(None).cast("long").alias("host_rank")))
    wh = Window.partitionBy("host").orderBy(F.desc("warc_ts"),
                                            F.asc("url"))
    survivors = (flagged.filter(F.col("changed"))
                 .withColumn("host_rank",
                             F.row_number().over(wh).cast("long"))
                 .select(*cols,
                         F.when(F.col("host_rank") <= cap,
                                F.lit("kept"))
                         .otherwise(F.lit("host_quota"))
                         .alias("verdict"),
                         "host_rank"))
    return unchanged.unionByName(survivors)


ORACLE_WEB_PIPELINE = f"""
WITH {_crawl_canon_cte()}, flagged AS (
  SELECT canonical_url, doc_id, host, ts,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS capture_rank,
         (lag(content_hash) OVER w IS NULL
          OR content_hash != lag(content_hash) OVER w) AS changed
  FROM canon
  WINDOW w AS (PARTITION BY canonical_url ORDER BY ts, doc_id)
), ranked2 AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host
                                    ORDER BY ts DESC, doc_id)
                 AS BIGINT) AS host_rank
  FROM flagged WHERE changed
)
SELECT canonical_url, doc_id, host, ts, capture_rank,
       'unchanged_recrawl' AS verdict, CAST(NULL AS BIGINT) AS host_rank
FROM flagged WHERE NOT changed
UNION ALL
SELECT canonical_url, doc_id, host, ts, capture_rank,
       CASE WHEN host_rank <= {WEB_PIPE_CAP} THEN 'kept'
            ELSE 'host_quota' END AS verdict,
       host_rank
FROM ranked2
ORDER BY canonical_url, capture_rank
"""


# --- robots.txt-style longest-prefix-match filter ----------------------------

def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl politeness: apply per-host robots rules to every page by
    the REP longest-match rule (RFC 9309 / the public Google spec):
    among the rules whose path-prefix matches, the LONGEST wins; on a
    length tie, allow beats disallow. Rules are synthesized
    deterministically from the corpus's canonical hosts — '/' allow
    everywhere, '/Docs/' disallowed on even-length hosts, '/Docs/1'
    allowed everywhere (the longest-match override), and a same-length
    allow/disallow pair on '/Docs/2' (the tie-break pin).

    Scale shape: a real rules table is per-host-small (UT1-blocklist
    sized) — it broadcasts as ONE host→rules map column, and the
    winner selection is a DOC-LOCAL fold over the page's own rule list
    (rule length and the allow bit encoded into one int64 —
    ``len*2 + allow`` — maxed inside the lambda), so the corpus never
    shuffles at all: scan → project → presentation sort. The first
    cut joined candidates out and grouped them back per page — a
    2M-row string-keyed exchange that measured eff 0.716 at 500k docs;
    this shape removed it (BENCH/BASELINE.md)."""
    docs = _t(spark, sf_dir, "documents")
    url = docs.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    pages = (canonicalize_urls(url)
             .withColumn("rest",
                         F.expr("split_part(canonical_url, '://', 2)"))
             .withColumn("hp", F.expr(
                 "split_part(split_part(rest, '?', 1), '/', 1)"))
             .select("doc_id", "host",
                     F.expr("split_part(substr(rest, length(hp) + 1),"
                            " '?', 1)").alias("path")))
    hosts = pages.select("host").distinct()
    rules = (
        hosts.select("host", F.lit("/").alias("rule"),
                     F.lit(1).alias("allow"))
        .union(hosts.filter(F.length("host") % 2 == 0)
               .select("host", F.lit("/Docs/").alias("rule"),
                       F.lit(0).alias("allow")))
        .union(hosts.select("host", F.lit("/Docs/1").alias("rule"),
                            F.lit(1).alias("allow")))
        .union(hosts.select("host", F.lit("/Docs/2").alias("rule"),
                            F.lit(1).alias("allow")))
        .union(hosts.select("host", F.lit("/Docs/2").alias("rule"),
                            F.lit(0).alias("allow"))))
    rmap = (rules
            .groupBy("host")
            .agg(F.collect_list(F.struct("rule", "allow")).alias("rs"))
            .agg(F.map_from_entries(
                F.collect_list(F.struct("host", "rs"))).alias("rm")))
    return (pages.crossJoin(F.broadcast(rmap))
            .select("doc_id", "host", "path", F.expr(
                "aggregate(element_at(rm, host), cast(0 as bigint),"
                " (acc, r) -> CASE WHEN substr(path, 1, length(r.rule))"
                " = r.rule AND length(r.rule) * 2 + r.allow > acc"
                " THEN cast(length(r.rule) * 2 + r.allow as bigint)"
                " ELSE acc END)").alias("s"))
            .select("doc_id", "host", "path",
                    F.expr("s div 2").alias("matched_len"),
                    (F.col("s") % 2 == 1).alias("allowed"))
            .orderBy("doc_id"))


ORACLE_ROBOTS = f"""
WITH canon AS ({ORACLE_URL_CANONICALIZE.replace("ORDER BY doc_id", "")}),
pages AS (
  SELECT doc_id, host,
         split_part(substr(split_part(canonical_url, '://', 2),
                    length(split_part(split_part(
                        split_part(canonical_url, '://', 2), '?', 1),
                        '/', 1)) + 1), '?', 1) AS path
  FROM canon
), hosts AS (
  SELECT DISTINCT host FROM pages
), rules AS (
  SELECT host, '/' AS rule, 1 AS allow FROM hosts
  UNION ALL
  SELECT host, '/Docs/', 0 FROM hosts WHERE length(host) % 2 = 0
  UNION ALL SELECT host, '/Docs/1', 1 FROM hosts
  UNION ALL SELECT host, '/Docs/2', 1 FROM hosts
  UNION ALL SELECT host, '/Docs/2', 0 FROM hosts
), cand AS (
  SELECT p.doc_id, p.host, p.path,
         CAST(length(r.rule) * 2 + r.allow AS BIGINT) AS score
  FROM pages p JOIN rules r ON r.host = p.host
  WHERE substr(p.path, 1, length(r.rule)) = r.rule
)
SELECT doc_id, host, path,
       CAST(MAX(score) // 2 AS BIGINT) AS matched_len,
       MAX(score) % 2 = 1 AS allowed
FROM cand GROUP BY doc_id, host, path
ORDER BY doc_id
"""


QUERIES = {
    "robots_filter": (q_robots_filter, ORACLE_ROBOTS),
    "duplicate_spans": (q_duplicate_spans, ORACLE_DUPLICATE_SPANS),
    "span_scrub": (q_span_scrub, ORACLE_SPAN_SCRUB),
    "span_scrub_star": (q_span_scrub_star, ORACLE_SPAN_SCRUB_STAR),
    "span_scrub_text": (q_span_scrub_text, ORACLE_SPAN_SCRUB_TEXT),
    "url_canonicalize": (q_url_canonicalize, ORACLE_URL_CANONICALIZE),
    "domain_cap": (q_domain_cap, ORACLE_DOMAIN_CAP),
    "mojibake_fix": (q_mojibake_fix, ORACLE_MOJIBAKE_FIX),
    "crawl_deltas": (q_crawl_deltas, ORACLE_CRAWL_DELTAS),
    "web_pipeline": (q_web_pipeline, ORACLE_WEB_PIPELINE),
    "url_blocklist": (q_url_blocklist, ORACLE_URL_BLOCKLIST),
    "ligature_fix": (q_ligature_fix, ORACLE_LIGATURE_FIX),
    "sitemap_discovery": (q_sitemap_discovery, ORACLE_SITEMAP_DISCOVERY),
}

"""Text-analysis operators for the training-data pipeline surface:
language ID (stopword heuristic), quality scoring, token counting,
document fingerprinting, train/val distribution-shift audit. All
JVM-side builtins, all oracle-checked.

These are the per-document scoring passes a 100 TB corpus runs between
extraction and dedup — each is a narrow projection over `documents`
(column pruning reaches the parquet scan) followed by at most one tiny
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .curation import DUP_BG_MAX_BP as _REP_CAP

STOPWORDS = {
    "en": ["the", "a", "and", "of"],
    "fr": ["le", "la", "et", "un"],
    "es": ["el", "los", "y", "una"],
    "de": ["der", "die", "und", "ein"],
}
LANG_ORDER = ["en", "fr", "es", "de"]  # deterministic argmax tie-break


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != ""))


# Word array as a pure projection — the per-document stat queries below
# fold over this array IN PLACE (size / filter / aggregate higher-order
# functions) instead of exploding to (doc_id, word) rows and shuffling
# them back together.  At 100 TB the difference is the whole game: the
# explode+groupBy shape shuffles one row per word (~200 words/doc ⇒
# 2×10^14 shuffle rows); the array fold shuffles NOTHING — the only
# exchange in these plans is the presentation sort.  Docs whose text
# yields zero words are dropped (trim(text) <> '', equivalent to
# size(w) > 0) to match the grouped shape, where such docs simply have
# no rows to group.
_W_ARR = "filter(split(text, ' '), x -> x <> '')"


def _word_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The zero-word guard filters on trim(text) BEFORE the projection:
    # trim(text) <> '' ⟺ size(w) > 0 (w drops only space-split empty
    # tokens), and a size(w) filter after the select would be pushed
    # below it with the split/filter expression inlined into the
    # predicate — evaluating the split twice per row.
    return (_t(spark, sf_dir, "documents")
            .filter(F.trim(F.col("text")) != "")
            .select("doc_id", F.expr(_W_ARR).alias("w")))


def _in_list(lang: str) -> str:
    return ", ".join(f"'{x}'" for x in STOPWORDS[lang])


_WORDS_CTE = ("WITH words AS (SELECT doc_id, word FROM ("
              "SELECT doc_id, unnest(string_split(text, ' ')) AS word "
              "FROM documents) WHERE word <> '')")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language ID: per-language stopword hit counts as
    array filters over the doc's word array, deterministic argmax (ties
    break in LANG_ORDER). ZERO data shuffle — the hit counts are
    doc-local folds, so no (doc_id, word) rows ever cross the wire; the
    only exchange is the presentation sort."""
    docs = _word_docs(spark, sf_dir)
    aggs = [
        F.expr(f"size(filter(w, x -> x in ({_in_list(lang)})))")
         .cast("long").alias(f"hits_{lang}")
        for lang in LANG_ORDER
    ]
    scored = docs.select(
        "doc_id", F.size("w").cast("long").alias("n_words"), *aggs)
    pred = None
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in LANG_ORDER])
    for lang in LANG_ORDER:  # first language reaching the max wins
        cond = F.col(f"hits_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return (
        scored.withColumn("predicted_lang", pred)
        .select("doc_id", "n_words",
                *[f"hits_{lg}" for lg in LANG_ORDER], "predicted_lang")
        .orderBy("doc_id")
    )


def _hits_sql(lang: str) -> str:
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"CAST(SUM(CASE WHEN word IN ({in_list}) THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS hits_{lang}")


ORACLE_LANG = _WORDS_CTE + f""",
scored AS (
  SELECT doc_id, COUNT(*) AS n_words,
         {_hits_sql('en')}, {_hits_sql('fr')},
         {_hits_sql('es')}, {_hits_sql('de')}
  FROM words GROUP BY doc_id
)
SELECT doc_id, n_words, hits_en, hits_fr, hits_es, hits_de,
       CASE WHEN hits_en >= greatest(hits_fr, hits_es, hits_de) THEN 'en'
            WHEN hits_fr >= greatest(hits_es, hits_de) THEN 'fr'
            WHEN hits_es >= hits_de THEN 'es'
            ELSE 'de' END AS predicted_lang
FROM scored ORDER BY doc_id
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-ratio / word-shape signals
    folded into one bounded basis-points score (0..10000). The score is
    PURE INTEGER arithmetic (integer division) — no float rounding ties
    can ever diverge between engines; component weights: 4000 length,
    3000 stopword density, 3000 word-shape. Zero-shuffle: all three
    signals are folds over the doc-local word array."""
    per_doc = _word_docs(spark, sf_dir).select(
        "doc_id",
        F.size("w").cast("long").alias("n_words"),
        F.expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")
         .alias("sum_len"),
        F.expr(f"size(filter(w, x -> x in ({_in_list('en')})))")
         .cast("long").alias("n_stop"),
    )
    n, s, L = F.col("n_words"), F.col("n_stop"), F.col("sum_len")
    c_len = F.lit(80) * F.least(n, F.lit(50))
    c_stop = F.least(F.lit(3000), F.expr("(15000 * n_stop) div n_words"))
    c_shape = F.lit(3000) - F.least(
        F.lit(3000),
        F.expr("(3000 * abs(sum_len - 5 * n_words)) div (5 * n_words)"))
    return (
        per_doc.select(
            "doc_id", "n_words",
            F.round(s / n.cast("double"), 4).alias("stopword_ratio"),
            F.round(L / n.cast("double"), 4).alias("mean_word_len"),
            (c_len + c_stop + c_shape).cast("long").alias("quality_bp"))
        .orderBy("doc_id")
    )


_EN_LIST = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
ORACLE_QUALITY = _WORDS_CTE + f""",
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_words, SUM(length(word)) AS sum_len,
         SUM(CASE WHEN word IN ({_EN_LIST}) THEN 1 ELSE 0 END) AS n_stop
  FROM words GROUP BY doc_id
)
SELECT doc_id, n_words,
       ROUND(n_stop / CAST(n_words AS DOUBLE), 4) AS stopword_ratio,
       ROUND(sum_len / CAST(n_words AS DOUBLE), 4) AS mean_word_len,
       CAST(80 * least(n_words, 50)
            + least(3000, (15000 * n_stop) // n_words)
            + 3000 - least(3000, (3000 * abs(sum_len - 5 * n_words))
                                 // (5 * n_words))
            AS BIGINT) AS quality_bp
FROM per_doc ORDER BY doc_id
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish bound (each
    word contributes ceil(len/4) subword units) — the pre-training
    budget estimator. One narrow zero-shuffle projection per doc: all
    three counts are folds over the doc-local word array (distinct via
    array_distinct, not a countDistinct shuffle)."""
    return (
        _word_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size("w").cast("long").alias("ws_tokens"),
            F.expr("aggregate(w, 0L, (acc, x) -> "
                   "acc + CAST(ceil(length(x) / 4.0) AS BIGINT))")
             .alias("bpe_tokens"),
            F.size(F.array_distinct("w")).cast("long")
             .alias("distinct_tokens"),
        )
        .orderBy("doc_id")
    )


ORACLE_TOKENS = _WORDS_CTE + """
SELECT doc_id, COUNT(*) AS ws_tokens,
       CAST(SUM(CAST(CEIL(length(word) / 4.0) AS BIGINT)) AS BIGINT) AS bpe_tokens,
       COUNT(DISTINCT word) AS distinct_tokens
FROM words GROUP BY doc_id ORDER BY doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact content hash (md5 of text) plus
    an order-insensitive vocabulary hash (md5 over the sorted distinct
    token list) — the pair of keys a layered dedup uses (exact first,
    bag-of-words second). Zero-shuffle: the vocab hash is computed in
    place over the doc's word array (array_distinct + array_sort), so
    there is no collect_set aggregation and no join back — one
    projection per doc."""
    docs = (_t(spark, sf_dir, "documents")
            .filter(F.trim(F.col("text")) != "")
            .select("doc_id", "text", F.expr(_W_ARR).alias("w")))
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"),
                    F.length("text").alias("n_chars"),
                    F.md5(F.concat_ws(
                        " ", F.array_sort(F.array_distinct("w"))))
                     .alias("vocab_hash"))
        .orderBy("doc_id")
    )


ORACLE_FINGERPRINT = _WORDS_CTE + """,
vocab AS (
  SELECT doc_id,
         md5(string_agg(DISTINCT word, ' ' ORDER BY word)) AS vocab_hash
  FROM words GROUP BY doc_id
)
SELECT d.doc_id, md5(d.text) AS content_hash,
       CAST(length(d.text) AS INTEGER) AS n_chars,
       v.vocab_hash
FROM documents d JOIN vocab v ON d.doc_id = v.doc_id
ORDER BY d.doc_id
"""


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (rolling-hash selection): hash every
    3-token shingle (md5-derived 32-bit int), slide a window of 4
    consecutive shingle hashes, keep each window's minimum — the
    selected set is the document's fingerprint (robust to local edits,
    the standard near-dup/plagiarism fingerprinting scheme). Summary
    row per doc: fingerprint size + min/max selected hash.

    Zero-shuffle: the shingle hashes and the sliding-window minima are
    all doc-local, so the whole selection runs as array folds inside
    one projection (transform with index + slice + array_min) — the
    explode → per-doc window → distinct formulation this replaces
    shuffled every shingle row TWICE (hash partition for the window +
    hash partition for the distinct/groupBy).  Measured at 500k docs /
    ~100M shingles on local[16]: 61.6s old shape vs 30.5s this shape,
    bit-identical output — md5 hashing dominates both, the 2.0× is the
    two eliminated shingle-row shuffles; at 10^12 docs those shuffles
    are ~2×10^14 rows of cross-executor traffic vs none here."""
    from pdf_extractor_spark.queries.dedup import _shingled

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Docs with <3 tokens have no shingles (ORACLE_WINNOW's
    # generate_series emits none either), hence no output row.  The
    # guard filters on a cheap split BEFORE the shingle build — a
    # size(sh) > 0 filter after it would be pushed below the projection
    # with the shingle transform INLINED into the predicate, evaluating
    # the whole build twice per row.
    hashed = (_shingled(
        docs.filter(F.size(F.split("text", " ")) >= 3))
        .select("doc_id", F.expr(
            "transform(sh, x -> "
            "CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT))")
            .alias("h")))
    # win_min[i] = min(h[i..i+3]) (trailing windows shrink, exactly the
    # ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING frame), computed as a
    # two-level pairwise min over shifted copies: m2[i] = least(h[i],
    # h[i+1]), win[i] = least(m2[i], m2[i+2]).  zip_with pads the
    # shorter (shifted) side with NULL and least() ignores NULLs, which
    # reproduces the shrinking trailing frames exactly.  This is O(n)
    # per doc with two whole-array shifts — the per-element
    # slice(h, i+1, 4) fold it replaces allocated a fresh 4-element
    # array per shingle inside an interpreted lambda and measured 3×
    # slower than the shuffling window it was meant to beat.
    m2 = hashed.select("doc_id", F.expr(
        "zip_with(h, slice(h, 2, size(h)), (a, b) -> least(a, b))")
        .alias("m2"))
    fp = m2.select("doc_id", F.expr(
        "array_distinct(zip_with(m2, slice(m2, 3, size(m2)), "
        "(a, b) -> least(a, b)))").alias("fp"))
    return (
        fp.select("doc_id",
                  F.size("fp").cast("long").alias("fp_size"),
                  F.array_min("fp").alias("fp_min"),
                  F.array_max("fp").alias("fp_max"))
        .orderBy("doc_id")
    )


ORACLE_WINNOW = """
WITH arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT doc_id, i - 1 AS pos,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
), hashed AS (
  SELECT doc_id, pos,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
), selected AS (
  SELECT DISTINCT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
  FROM hashed
)
SELECT doc_id, COUNT(*) AS fp_size, MIN(win_min) AS fp_min,
       MAX(win_min) AS fp_max
FROM selected GROUP BY doc_id ORDER BY doc_id
"""


NGRAM_SIGNALS = {          # characteristic character n-grams per language
    "en": ["th", "he", "ng"],
    "fr": ["ou", "le", "es"],
    "es": ["os", "la", "el"],
    "de": ["ch", "ei", "un"],
}


def _occ(col, pat: str):
    """Occurrence count of a literal substring, JVM-side:
    (len(s) - len(replace(s, pat, ''))) / len(pat)."""
    return ((F.length(col)
             - F.length(F.replace(col, F.lit(pat), F.lit(""))))
            / F.lit(len(pat))).cast("long")


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID (the classic heuristic): count
    characteristic bigram occurrences per language in one projection —
    no tokenization, no UDF, exact in both engines via the
    length-difference trick. Deterministic argmax in LANG_ORDER."""
    docs = _t(spark, sf_dir, "documents")
    scores = {
        lang: sum((_occ(F.col("text"), p) for p in pats[1:]),
                  _occ(F.col("text"), pats[0]))
        for lang, pats in NGRAM_SIGNALS.items()
    }
    scored = docs.select(
        "doc_id",
        *[scores[lg].alias(f"ng_{lg}") for lg in LANG_ORDER])
    best = F.greatest(*[F.col(f"ng_{lg}") for lg in LANG_ORDER])
    pred = None
    for lang in LANG_ORDER:
        cond = F.col(f"ng_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return (scored.withColumn("predicted_lang", pred)
            .orderBy("doc_id"))


def _occ_sql(pat: str) -> str:
    return (f"CAST((length(text) - length(replace(text, '{pat}', '')))"
            f" / {len(pat)} AS BIGINT)")


def _ng_sql(lang: str) -> str:
    return " + ".join(_occ_sql(p) for p in NGRAM_SIGNALS[lang])


ORACLE_LANG_NGRAM = f"""
WITH scored AS (
  SELECT doc_id,
         {_ng_sql('en')} AS ng_en, {_ng_sql('fr')} AS ng_fr,
         {_ng_sql('es')} AS ng_es, {_ng_sql('de')} AS ng_de
  FROM documents
)
SELECT doc_id, ng_en, ng_fr, ng_es, ng_de,
       CASE WHEN ng_en >= greatest(ng_fr, ng_es, ng_de) THEN 'en'
            WHEN ng_fr >= greatest(ng_es, ng_de) THEN 'fr'
            WHEN ng_es >= ng_de THEN 'es'
            ELSE 'de' END AS predicted_lang
FROM scored ORDER BY doc_id
"""


HOLDOUT_K = 5   # exact eval docs per language


def q_eval_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size per-language eval holdout: within each language the
    K documents with the smallest md5(doc_id) rank — a deterministic
    stand-in for random sampling that is engine/run/cluster-size
    stable AND exact-k per stratum (where ``hash_split`` is
    proportional-in-expectation; an eval set needs a fixed size).

    Scale shape: ``row_number() <= K`` over (lang, md5-rank) compiles
    to a Partial WindowGroupLimit BELOW the lang exchange — every
    input partition ships at most K rows per language, so a
    one-language corpus (the skew adversary) shuffles K rows per
    partition, not the corpus (the domain_cap rule applied to eval
    splitting)."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (docs.select("doc_id", "lang", h.alias("h"))
            .withColumn("holdout_rank", F.row_number().over(w)
                        .cast("long"))
            .filter(F.col("holdout_rank") <= HOLDOUT_K)
            .select("doc_id", "lang", "holdout_rank")
            .orderBy("lang", "holdout_rank"))


ORACLE_EVAL_HOLDOUT = f"""
WITH h AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM documents
), r AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
              AS BIGINT) AS holdout_rank
  FROM h
)
SELECT doc_id, lang, holdout_rank FROM r
WHERE holdout_rank <= {HOLDOUT_K} ORDER BY lang, holdout_rank
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling / train-eval split: bucket each doc
    by an md5-derived hash of its id (stable across engines, runs, and
    cluster sizes — unlike TABLESAMPLE, which is random), assign
    train/val/test 8:1:1, and report per-source split sizes. This is
    how a 100 TB corpus gets reproducible held-out sets."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    split = (F.when(h % 10 < 8, "train")
             .when(h % 10 == 8, "val")
             .otherwise("test"))
    return (
        docs.withColumn("split", split)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"),
             F.min("doc_id").alias("min_doc_id"))
        .orderBy("source", "split")
    )


ORACLE_HASH_SPLIT = """
WITH assigned AS (
  SELECT source, doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 10 AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM assigned
GROUP BY source, CASE WHEN bucket < 8 THEN 'train'
                      WHEN bucket = 8 THEN 'val' ELSE 'test' END
ORDER BY source, split
"""


# --- PII scrubbing ---------------------------------------------------------

# Deterministic PII injection, the derived-column trick (same literal
# expression evaluated by Spark's F.expr AND embedded in the DuckDB
# oracle — the word-soup corpus contains no real PII, so both engines
# plant identical emails/phones on every 3rd doc). No backslashes: the
# fragment must parse identically in both SQL dialects.
PII_EXPR = ("CASE WHEN doc_id % 3 = 0 THEN text || ' Contact alice"
            "' || CAST(doc_id AS STRING) || '@mail.example.com or "
            "+1-202-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') "
            "ELSE text END")
# Redaction patterns: character classes only — no backslash escapes, no
# backrefs, no lookaround — so Java regex and RE2 agree by construction.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_RE = "[+]1-[0-9]{3}-[0-9]{4}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training corpus runs before
    anything ships: emails → [EMAIL], phone numbers → [PHONE], with
    per-doc redaction counts. Pure JVM regexp (one projection, no
    shuffle except the final order); clean documents pass through
    byte-identical."""
    docs = _t(spark, sf_dir, "documents") \
        .withColumn("pii_text", F.expr(PII_EXPR))
    scrub = F.regexp_replace(
        F.regexp_replace(F.col("pii_text"), EMAIL_RE, "[EMAIL]"),
        PHONE_RE, "[PHONE]")
    return (docs.select(
        "doc_id",
        F.regexp_count(F.col("pii_text"), F.lit(EMAIL_RE)).cast("long")
         .alias("n_emails"),
        F.regexp_count(F.col("pii_text"), F.lit(PHONE_RE)).cast("long")
         .alias("n_phones"),
        scrub.alias("scrubbed"))
        .orderBy("doc_id"))


ORACLE_PII = f"""
WITH pii AS (
  SELECT doc_id, {PII_EXPR} AS pii_text FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(pii_text, '{PHONE_RE}')) AS BIGINT)
         AS n_phones,
       regexp_replace(regexp_replace(pii_text, '{EMAIL_RE}', '[EMAIL]',
                                     'g'),
                      '{PHONE_RE}', '[PHONE]', 'g') AS scrubbed
FROM pii ORDER BY doc_id
"""


# --- end-to-end corpus curation ---------------------------------------------

CURATION_QUALITY_MIN = 6000  # basis points; below this a doc is rejected


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_verdicts(_t(spark, sf_dir, "documents")) \
        .orderBy("doc_id")


def curation_verdicts(docs: DataFrame) -> DataFrame:
    """The full C4-style curation verdict — the pipeline this engine
    exists to run, composed from the individual oracle-checked passes:
    benchmark holdout → exact-dedup keep/reject → contamination check →
    quality floor → intra-document repetition cap. One row per document
    with the FIRST failing rule as its verdict (rule order fixed), so
    downstream `WHERE verdict = 'kept'` is the training corpus.

    Plan shape at 100 TB: quality and dedup are each one keyed
    aggregate; contamination probes a broadcast shingle set; the
    repetition signal is a zero-shuffle projection (the
    ``ngram_repetition`` fold) computed in the same scan that anchors
    the assembly; the final assembly joins on doc_id (co-partitioned).
    Nothing here is new machinery — it is the composition that
    matters. Any DataFrame with (doc_id, text) in; callers add any
    sort."""
    from . import dedup as ddp
    from .curation import _BG_EXPR, _W_EXPR

    hashes = docs.select(F.md5("text").alias("h"), "doc_id")
    keep_min = hashes.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    dup = (hashes.join(keep_min, "h")
           .select("doc_id",
                   (F.col("doc_id") != F.col("keep_id"))
                   .alias("is_duplicate")))
    contam = ddp.benchmark_contamination(docs) \
        .select("doc_id", "contaminated")
    # quality_bp is a doc-LOCAL fold (the q_quality_score formula), so
    # it rides the SAME projection as the repetition fold — the first
    # cut materialized the quality query and joined it back on doc_id,
    # one avoidable full-corpus shuffle (the nb_train/select-CLI rule)
    base = (docs.select("doc_id", F.expr(_W_EXPR).alias("w"))
            .withColumn("bg", F.expr(_BG_EXPR))
            .select("doc_id", F.expr(
                "IF(size(bg) = 0, CAST(0 AS BIGINT), "
                "(10000 * (CAST(size(bg) AS BIGINT) "
                "- CAST(size(array_distinct(bg)) AS BIGINT))) "
                "div CAST(size(bg) AS BIGINT))").alias("rep_bp"),
                F.expr(f"""IF(size(w) = 0, CAST(0 AS BIGINT), CAST(
                    80 * least(size(w), 50)
                    + least(3000, (15000 * size(filter(w, x ->
                          x in ({_in_list('en')})))) div size(w))
                    + 3000 - least(3000, (3000 * abs(
                          aggregate(w, 0L, (acc, x) -> acc + length(x))
                          - 5 * size(w))) div (5 * CAST(size(w)
                          AS BIGINT))) AS BIGINT))""")
                .alias("quality_bp")))
    out = (base
           .join(dup, "doc_id", "left")
           .join(contam, "doc_id", "left")
           .select(
               "doc_id", "quality_bp",
               "is_duplicate",
               F.coalesce("contaminated", F.lit(False))
                .alias("contaminated"),
               "rep_bp"))
    from .curation import DUP_BG_MAX_BP
    verdict = (
        F.when((F.col("doc_id") % ddp.BENCHMARK_MOD) == 0, "benchmark")
        .when(F.col("is_duplicate"), "duplicate")
        .when(F.col("contaminated"), "contaminated")
        .when(F.col("quality_bp") < CURATION_QUALITY_MIN, "low_quality")
        .when(F.col("rep_bp") >= DUP_BG_MAX_BP, "repetition")
        .otherwise("kept"))
    return out.withColumn("verdict", verdict)


ORACLE_CURATION = _WORDS_CTE + f""",
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_words, SUM(length(word)) AS sum_len,
         SUM(CASE WHEN word IN ({_EN_LIST}) THEN 1 ELSE 0 END) AS n_stop
  FROM words GROUP BY doc_id
), qual AS (
  SELECT doc_id,
         CAST(80 * least(n_words, 50)
              + least(3000, (15000 * n_stop) // n_words)
              + 3000 - least(3000, (3000 * abs(sum_len - 5 * n_words))
                                   // (5 * n_words))
              AS BIGINT) AS quality_bp
  FROM per_doc
), keepmin AS (
  SELECT md5(text) AS h, MIN(doc_id) AS keep_id
  FROM documents GROUP BY md5(text)
), dup AS (
  SELECT d.doc_id, d.doc_id <> k.keep_id AS is_duplicate
  FROM documents d JOIN keepmin k ON md5(d.text) = k.h
), arr AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1] || ' ' ||
                                      ws[i+2]), 1, 14)) AS BIGINT)
           AS shingle
  FROM arr, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
), contam AS (
  SELECT c.doc_id, COUNT(*) > 0 AS contaminated
  FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0) c
  JOIN bench USING (shingle) GROUP BY c.doc_id
), rep AS (
  SELECT doc_id,
         CAST(CASE WHEN len(bg) = 0 THEN 0
              ELSE (10000 * (len(bg) - len(list_distinct(bg)))) // len(bg)
              END AS BIGINT) AS rep_bp
  FROM (SELECT doc_id,
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                 AS bg
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM documents))
)
SELECT d.doc_id,
       COALESCE(q.quality_bp, 0) AS quality_bp,
       dup.is_duplicate,
       COALESCE(co.contaminated, FALSE) AS contaminated,
       r.rep_bp,
       CASE WHEN d.doc_id % 97 = 0 THEN 'benchmark'
            WHEN dup.is_duplicate THEN 'duplicate'
            WHEN COALESCE(co.contaminated, FALSE) THEN 'contaminated'
            WHEN COALESCE(q.quality_bp, 0) < {CURATION_QUALITY_MIN}
              THEN 'low_quality'
            WHEN r.rep_bp >= {_REP_CAP} THEN 'repetition'
            ELSE 'kept' END AS verdict
FROM documents d
LEFT JOIN qual q ON q.doc_id = d.doc_id
LEFT JOIN dup ON dup.doc_id = d.doc_id
LEFT JOIN contam co ON co.doc_id = d.doc_id
LEFT JOIN rep r ON r.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality signal: score every document by
    its average negative log-likelihood under a bigram language model
    trained on the corpus itself (high ⇒ improbable word sequences —
    gibberish, OCR noise, keyword stuffing; the perplexity-filter
    signal of the CCNet pipeline).

    LM: maximum-likelihood conditionals p(w2|w1) = c(w1 w2) / c(w1 ·)
    over bigram EVENTS (the head count is the sum of its bigram
    counts, so probabilities sum to exactly 1 per head and the
    self-trained score has no unseen-bigram case). Scoring: each
    bigram contributes −ln p as an INTEGER in micro-nats, computed
    once per LM ENTRY (not per occurrence) — integer sums are
    partition-order independent, where a double sum would make the
    result bytes depend on the partitioning (the repo's decimal-exact
    aggregate rule applied to logs).

    Scale shape: training shuffles one row per bigram occurrence
    (map-side combined) — inherent, done once; SCORING joins doc
    bigrams against the LM (a broadcast in the deployed train-once
    configuration) and the per-doc aggregate partial-combines to ~one
    shuffled row per document. Bigrams travel as 56-bit md5 ints.
    The bigram text is assembled by a transform lambda ⇒ the word
    array is STAGED (the staged-split rule)."""
    docs = (_t(spark, sf_dir, "documents")
            .filter(F.trim(F.col("text")) != "")
            .select("doc_id", F.expr(_W_ARR).alias("w")))
    h56 = lambda col: F.conv(F.substring(F.md5(col), 1, 14), 16, 10) \
        .cast("long")
    bg = (docs
          .select("doc_id", F.explode(F.expr(
              "CASE WHEN size(w) >= 2 THEN"
              " transform(sequence(0, size(w)-2),"
              " i -> struct(w[i] as head, concat_ws(' ', w[i], w[i+1])"
              " as bgt)) ELSE"
              " cast(array() as array<struct<head:string,bgt:string>>)"
              " END")).alias("p"))
          .select("doc_id", h56(F.col("p.head")).alias("head_h"),
                  h56(F.col("p.bgt")).alias("bg_h")))
    c12 = bg.groupBy("head_h", "bg_h").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("head_h").agg(F.sum("c12").alias("c1"))
    lm = (c12.join(c1, "head_h")
          .select("bg_h",
                  F.round(F.log(F.col("c1").cast("double")
                                / F.col("c12")) * 1000000)
                  .cast("long").alias("logp_u")))
    scored = (bg.join(lm, "bg_h")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum("logp_u").alias("s")))
    base = _t(spark, sf_dir, "documents").select("doc_id")
    out = (base.join(scored, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                   F.coalesce(F.floor(F.col("s")
                                      / F.col("n_bigrams")), F.lit(0))
                   .cast("long").alias("avg_neg_ln_u")))
    return out.orderBy("doc_id")


ORACLE_BIGRAM_LM = """
WITH wa AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents WHERE trim(text) <> ''
), bg AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(ws[i]), 1, 14)) AS BIGINT) AS head_h,
         CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i+1]), 1, 14))
              AS BIGINT) AS bg_h
  FROM wa, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i)
  WHERE len(ws) >= 2
), c12 AS (
  SELECT head_h, bg_h, COUNT(*) AS c12 FROM bg GROUP BY head_h, bg_h
), c1 AS (
  SELECT head_h, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY head_h
), lm AS (
  SELECT bg_h,
         CAST(ROUND(ln(CAST(c1 AS DOUBLE) / c12) * 1000000) AS BIGINT)
           AS logp_u
  FROM c12 JOIN c1 USING (head_h)
), scored AS (
  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(logp_u) AS BIGINT) AS s
  FROM bg b JOIN lm USING (bg_h) GROUP BY b.doc_id
)
SELECT d.doc_id,
       COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       CAST(COALESCE(FLOOR(CAST(sc.s AS DOUBLE) / sc.n_bigrams), 0)
            AS BIGINT) AS avg_neg_ln_u
FROM documents d LEFT JOIN scored sc ON d.doc_id = sc.doc_id
ORDER BY d.doc_id
"""


# dict order = registry order: the driver's correctness gate covers the
# FIRST 50 registry entries, so queries without a prior driver-green
# CORRECTNESS row must lead (the r02-green tail re-verifies via
# tools/check_oracles.py each round)
JSD_BUCKETS = 512  # hashed feature space, same constant-size trick as DSIR


def q_split_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val distribution-shift audit: per-bucket Jensen-Shannon
    divergence between the hashed-unigram distributions of the md5
    train and val splits (the ``hash_split`` rule). A healthy random
    split has near-zero JSD everywhere; a bucket with an outsized
    contribution names the vocabulary region where the held-out set
    stopped representing training — the standard pre-flight check
    before trusting a validation loss at 100 TB.

    Determinism: the ln pair runs once per BUCKET on the ≤512-row
    count table and is frozen to integer micro-nats
    (``round(1e6 · ½(p·ln(p/m) + q·ln(q/m)))``, add-one smoothing);
    every corpus-scale aggregate is an int64 count.

    Scale shape: ONE token-stream aggregate onto ≤512 keys (map-side
    combine ⇒ the exchange carries ≤512 rows per partition regardless
    of corpus size); everything after is a ≤512-row computation."""
    docs = _t(spark, sf_dir, "documents")
    split_h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10).cast("long") % 10
    cnt = (docs
           .filter(F.trim(F.col("text")) != "")
           .withColumn("sh", split_h)
           .filter(F.col("sh") <= 8)              # train (0-7) + val (8)
           .select((F.col("sh") < 8).alias("tr"),
                   F.explode(F.expr(_W_ARR)).alias("word"))
           .select("tr", (F.conv(F.substring(F.md5("word"), 1, 14),
                                 16, 10).cast("long")
                          % JSD_BUCKETS).alias("b"))
           .groupBy("b")
           .agg(F.sum(F.col("tr").cast("long")).alias("t_cnt"),
                F.sum((~F.col("tr")).cast("long")).alias("v_cnt")))
    tot = cnt.agg(F.sum("t_cnt").alias("tt"), F.sum("v_cnt").alias("vt"))
    pt = ((F.col("t_cnt") + 1).cast("double")
          / (F.col("tt") + JSD_BUCKETS).cast("double"))
    pv = ((F.col("v_cnt") + 1).cast("double")
          / (F.col("vt") + JSD_BUCKETS).cast("double"))
    m = (pt + pv) / F.lit(2.0)
    return (cnt.crossJoin(F.broadcast(tot))
            .select("b", "t_cnt", "v_cnt",
                    F.round((pt * F.log(pt / m) + pv * F.log(pv / m))
                            * 500000).cast("long").alias("jsd_u"))
            .orderBy("b"))


ORACLE_SPLIT_DIVERGENCE = f"""
WITH tok AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 10 AS sh,
         CAST(concat('0x', substr(md5(unnest(
             list_filter(string_split(text, ' '), x -> x <> ''))),
             1, 14)) AS BIGINT) % {JSD_BUCKETS} AS b
  FROM documents WHERE trim(text) <> ''
), cnt AS (
  SELECT b,
         CAST(SUM(CASE WHEN sh < 8 THEN 1 ELSE 0 END) AS BIGINT)
           AS t_cnt,
         CAST(SUM(CASE WHEN sh = 8 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_cnt
  FROM tok WHERE sh <= 8 GROUP BY b
), tot AS (
  SELECT SUM(t_cnt) AS tt, SUM(v_cnt) AS vt FROM cnt
)
SELECT b, t_cnt, v_cnt,
       CAST(ROUND((
         (CAST(t_cnt + 1 AS DOUBLE) / (tt + {JSD_BUCKETS}))
           * ln((CAST(t_cnt + 1 AS DOUBLE) / (tt + {JSD_BUCKETS}))
                / (((CAST(t_cnt + 1 AS DOUBLE) / (tt + {JSD_BUCKETS}))
                    + (CAST(v_cnt + 1 AS DOUBLE) / (vt + {JSD_BUCKETS})))
                   / 2.0))
         + (CAST(v_cnt + 1 AS DOUBLE) / (vt + {JSD_BUCKETS}))
           * ln((CAST(v_cnt + 1 AS DOUBLE) / (vt + {JSD_BUCKETS}))
                / (((CAST(t_cnt + 1 AS DOUBLE) / (tt + {JSD_BUCKETS}))
                    + (CAST(v_cnt + 1 AS DOUBLE) / (vt + {JSD_BUCKETS})))
                   / 2.0))
       ) * 500000) AS BIGINT) AS jsd_u
FROM cnt, tot ORDER BY b
"""


QUERIES = {
    "split_divergence": (q_split_divergence, ORACLE_SPLIT_DIVERGENCE),
    "bigram_logprob": (q_bigram_logprob, ORACLE_BIGRAM_LM),
    "pii_scrub": (q_pii_scrub, ORACLE_PII),
    "curation_pipeline": (q_curation_pipeline, ORACLE_CURATION),
    "lang_id": (q_lang_id, ORACLE_LANG),
    "lang_id_ngram": (q_lang_id_ngram, ORACLE_LANG_NGRAM),
    "hash_split": (q_hash_split, ORACLE_HASH_SPLIT),
    "eval_holdout": (q_eval_holdout, ORACLE_EVAL_HOLDOUT),
    "doc_winnow": (q_doc_winnow, ORACLE_WINNOW),
    "quality_score": (q_quality_score, ORACLE_QUALITY),
    "token_count": (q_token_count, ORACLE_TOKENS),
    "doc_fingerprint": (q_doc_fingerprint, ORACLE_FINGERPRINT),
}

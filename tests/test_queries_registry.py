"""Driver-contract surface: registry sanity + oracle parity on a fast
subset at sf0.001 (the full 26-query sweep runs via
tools/check_oracles.py at sf0.01 — this keeps pytest quick)."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_oracles import TABLES, value_hash

SF_DIR = "/root/testdata/sf0.001"

# fast, shape-diverse subset: agg, window, sessionize, joins, dedup,
# similarity, text stats, multimodal
SUBSET = [
    "pricing_summary", "events_sessionize", "top_orders_per_customer",
    "word_semi_join", "dedup_exact", "minhash_signatures",
    "dedup_minhash_lsh", "dedup_incremental", "lsh_recall_audit",
    "simhash_signatures", "lsh_buckets", "quality_score",
    "multimodal_decode", "ngram_repetition", "pack_sequences",
    "temperature_sample",
]


def test_registry_shape():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 25
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {missing}"
    # only kernel-semantics ops (golden/unit-tested, not SQL) are rows-only
    rows_only = set(qs) - set(oracles)
    assert rows_only == {"extract_docs_stats", "validation_report",
                         "md_errors_kernel", "fixed_docs",
                         "ann_bruteforce_numpy"}


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"lang", "docs", "failures"} <= set(df.columns)
    assert sum(r.failures for r in rows) == 0


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_parity(spark, duck, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.execute(sql)
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert value_hash(sdf.columns, srows) == value_hash(ocols, orows)


class TestCurationProperties:
    def test_pii_scrub_is_idempotent_and_clean(self, spark):
        """Scrubbing twice equals scrubbing once, and no email/phone
        pattern survives a scrub — the properties a redaction pass must
        hold before anything ships."""
        import re

        from pdf_extractor_spark.queries import textstats as ts
        rows = ts.q_pii_scrub(spark, "/root/testdata/sf0.001").collect()
        email = re.compile(ts.EMAIL_RE)
        phone = re.compile(ts.PHONE_RE)
        injected = [r for r in rows if r.n_emails or r.n_phones]
        assert injected, "PII injection produced nothing"
        for r in rows:
            assert not email.search(r.scrubbed), r.doc_id
            assert not phone.search(r.scrubbed), r.doc_id
            # idempotence: a second pass changes nothing
            again = phone.sub("[PHONE]", email.sub("[EMAIL]", r.scrubbed))
            assert again == r.scrubbed, r.doc_id

    def test_curation_verdict_consistent_with_flags(self, spark):
        """Each doc gets exactly one verdict, and the verdict agrees
        with its component flags under the fixed rule order."""
        from pdf_extractor_spark.queries import curation as cu
        from pdf_extractor_spark.queries import dedup as ddp
        from pdf_extractor_spark.queries import textstats as ts
        rows = ts.q_curation_pipeline(
            spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == len({r.doc_id for r in rows})
        for r in rows:
            if r.doc_id % ddp.BENCHMARK_MOD == 0:
                assert r.verdict == "benchmark"
            elif r.is_duplicate:
                assert r.verdict == "duplicate"
            elif r.contaminated:
                assert r.verdict == "contaminated"
            elif r.quality_bp < ts.CURATION_QUALITY_MIN:
                assert r.verdict == "low_quality"
            elif r.rep_bp >= cu.DUP_BG_MAX_BP:
                assert r.verdict == "repetition"
            else:
                assert r.verdict == "kept"


class TestCurationOperators:
    """The round-3 corpus-curation additions: repetition stats,
    composite quality filter, sequence packing, temperature sampling,
    semantic dedup."""

    SF = "/root/testdata/sf0.001"

    def test_pack_sequences_matches_global_cumsum(self, spark):
        """The hierarchical (bucket → superbucket) prefix sum must
        equal the plain global running sum it replaces."""
        from pdf_extractor_spark.queries import curation as cu
        rows = sorted(cu.q_pack_sequences(spark, self.SF).collect(),
                      key=lambda r: r.doc_id)
        run = 0
        for r in rows:
            assert r.start_offset == run, r.doc_id
            assert r.seq_id == run // cu.SEQ_LEN
            expect_span = (run // cu.SEQ_LEN
                           != (run + r.n_tokens - 1) // cu.SEQ_LEN)
            assert r.spans_boundary == expect_span, r.doc_id
            run += r.n_tokens

    def test_ngram_repetition_matches_python(self, spark):
        """Per-doc bigram/trigram stats agree with a direct Python
        recount on the raw text."""
        from collections import Counter

        from pdf_extractor_spark.queries import curation as cu
        docs = {r.doc_id: r.text for r in spark.read.parquet(
            f"{self.SF}/documents.parquet").collect()}
        got = cu.q_ngram_repetition(spark, self.SF).collect()
        assert got, "no rows"
        for r in got[:200]:
            words = [w for w in docs[r.doc_id].split(" ") if w]
            grams = [" ".join(words[i:i + r.n])
                     for i in range(len(words) - r.n + 1)]
            cnt = Counter(grams)
            total, dist = len(grams), len(cnt)
            assert r.total_ngrams == total
            assert r.distinct_ngrams == dist
            assert r.dup_bp == (10000 * (total - dist)) // total
            top_c = max(cnt.values())
            # tie-break: lexicographically largest among max-count grams
            top_g = max(g for g, c in cnt.items() if c == top_c)
            assert r.top_gram == top_g
            assert r.top_bp == (10000 * top_c) // total

    def test_gopher_verdict_follows_rule_order(self, spark):
        from pdf_extractor_spark.queries import curation as cu
        rows = cu.q_gopher_quality_filter(spark, self.SF).collect()
        assert len(rows) == len({r.doc_id for r in rows})
        seen = set()
        for r in rows:
            if r.n_words < cu.MIN_WORDS:
                expect = "too_few_words"
            elif not (cu.WLEN_MIN_BP <= r.wlen_bp <= cu.WLEN_MAX_BP):
                expect = "word_length"
            elif r.dup_bp >= cu.DUP_BG_MAX_BP:
                expect = "repetition"
            elif r.top_bp >= cu.TOP_BG_MAX_BP:
                expect = "top_ngram"
            else:
                expect = "kept"
            assert r.verdict == expect, r.doc_id
            seen.add(r.verdict)
        assert "kept" in seen  # the filter must not reject everything

    def test_temperature_sample_rates_and_determinism(self, spark):
        import math

        from pdf_extractor_spark.queries import curation as cu
        rows = cu.q_temperature_sample(spark, self.SF).collect()
        min_docs = min(r.n_docs for r in rows)
        for r in rows:
            expect = math.floor(
                cu.SAMPLE_MOD * math.sqrt(min_docs / r.n_docs))
            assert r.rate_bp == expect, r.lang
            assert 0 <= r.n_kept <= r.n_docs
        # the scarcest language is kept whole (rate 10000 ⇒ keep all)
        scarce = [r for r in rows if r.n_docs == min_docs]
        assert all(r.n_kept == r.n_docs for r in scarce)
        again = cu.q_temperature_sample(spark, self.SF).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_semantic_dedup_keeper_is_senior_same_cluster(self, spark):
        from pdf_extractor_spark.queries import curation as cu
        rows = cu.q_semantic_dedup(spark, self.SF).collect()
        cluster_of = {r.vec_id: r.cluster for r in rows}
        dups = [r for r in rows if r.is_semantic_dup]
        keeps = [r for r in rows if not r.is_semantic_dup]
        assert dups and keeps, "threshold must split the corpus"
        for r in dups:
            assert r.keeper_id is not None and r.keeper_id < r.vec_id
            assert cluster_of[r.keeper_id] == r.cluster
            assert r.max_cos >= cu.SEMDEDUP_TAU
            assert r.n_neighbors >= 1
        for r in keeps:
            assert r.keeper_id is None and r.n_neighbors == 0

    def test_boilerplate_strip_semantics(self, spark):
        """Removed words are exactly the source's high-DF vocabulary;
        surviving words keep their original order."""
        from collections import defaultdict

        from pdf_extractor_spark.queries import curation as cu
        docs = spark.read.parquet(
            f"{self.SF}/documents.parquet").collect()
        by_src = defaultdict(list)
        for d in docs:
            by_src[d.source].append(d)
        boiler = {}
        for src, ds in by_src.items():
            df = defaultdict(int)
            for d in ds:
                for w in set(x for x in d.text.split(" ") if x):
                    df[w] += 1
            boiler[src] = {w for w, c in df.items()
                           if c * 100 >= cu.BOILER_DF_PCT * len(ds)}
        expected = {}
        for d in docs:
            words = [w for w in d.text.split(" ") if w]
            kept = [w for w in words if w not in boiler[d.source]]
            expected[d.doc_id] = (len(words), len(words) - len(kept),
                                  " ".join(kept))
        got = cu.q_boilerplate_strip(spark, self.SF).collect()
        assert len(got) == len(docs)
        for r in got:
            n_words, n_removed, cleaned = expected[r.doc_id]
            assert r.n_words == n_words, r.doc_id
            assert r.n_removed == n_removed, r.doc_id
            assert r.cleaned_text == cleaned, r.doc_id

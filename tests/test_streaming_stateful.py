"""applyInPandasWithState sessionization: closed sessions match the
batch gap semantics; held sessions flush on event-time timeout once
the watermark advances."""

import datetime as dt
import os

import pytest

from pdf_extractor_spark.streaming.stateful import streaming_sessionize

pytestmark = pytest.mark.spark

BASE = dt.datetime(2025, 6, 1, 12, 0, 0)
MIN = dt.timedelta(minutes=1)


def _mk(eid, user, t):
    return (eid, t, user, "view", 1.0, None)


def test_stateful_sessionize_closes_on_gap_and_timeout(spark, tmp_path):
    src = str(tmp_path / "events_src")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    # batch 1: user 1 → two sessions separated by a 40-min gap (the
    # first closes in-stream); user 2 → one session
    batch1 = [
        _mk(1, 1, BASE),
        _mk(2, 1, BASE + 5 * MIN),
        _mk(3, 1, BASE + 45 * MIN),   # > 30 min after event 2
        _mk(4, 2, BASE + 10 * MIN),
    ]
    # batch 2: a far-future sentinel pushes the watermark past every
    # open session's gap horizon → timeouts flush them
    batch2 = [_mk(99, 999, BASE + dt.timedelta(days=2))]
    import time

    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    time.sleep(2)  # distinct mod-times → file source processes in order
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    sink = f"stateful_sessions_{os.getpid()}"
    q = (streaming_sessionize(spark, src, watermark="1 minute")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"

    rows = {(r.user_id, r.n_events)
            for r in spark.sql(f"SELECT * FROM {sink}").collect()}
    # user 1: first session (2 events) closed by the gap; second
    # session (1 event) closed by timeout. user 2: closed by timeout.
    assert (1, 2) in rows
    assert (1, 1) in rows
    assert (2, 1) in rows

    got = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
           for r in spark.sql(f"SELECT * FROM {sink}").collect()
           if r.user_id == 1 and r.n_events == 2}
    # exact boundaries for the gap-closed session (ts are naive UTC in
    # the parquet; compare via the same conversion)
    import calendar
    start_us = calendar.timegm(BASE.timetuple()) * 1_000_000
    end_us = calendar.timegm((BASE + 5 * MIN).timetuple()) * 1_000_000
    assert got == {(1, start_us, end_us, 2)}


def test_streaming_dedup_exact_bounded_state(spark, tmp_path):
    """Duplicate texts across micro-batches collapse to one row while
    the hash is inside the watermark horizon."""
    import time

    from pdf_extractor_spark.streaming.windows import \
        streaming_dedup_exact

    src = str(tmp_path / "pages_src")
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    t0 = BASE
    rows1 = [("u1", t0, None, "alpha text", "en"),
             ("u2", t0 + MIN, None, "beta text", "en")]
    # batch 2: u3 duplicates u1's text 2 min later (inside watermark)
    rows2 = [("u3", t0 + 2 * MIN, None, "alpha text", "en"),
             ("u4", t0 + 3 * MIN, None, "gamma text", "en")]
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    time.sleep(2)
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    sink = f"stream_dedup_{os.getpid()}"
    q = (streaming_dedup_exact(spark, src, watermark="30 minutes")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"

    rows = spark.sql(f"SELECT url, text FROM {sink}").collect()
    texts = sorted(r.text for r in rows)
    assert texts == ["alpha text", "beta text", "gamma text"]
    assert sorted(r.url for r in rows) == ["u1", "u2", "u4"]


def test_streaming_dedup_cache_ttl_and_eviction(spark, tmp_path):
    """VERDICT r02 #8: the applyInPandasWithState dedup cache must (a)
    flag re-sightings inside the TTL, (b) re-admit a hash whose TTL
    lapsed, and (c) evict a quiet key's whole cache on event-time
    timeout, emitting the accounting row."""
    import time

    from pdf_extractor_spark.streaming.stateful import (
        streaming_dedup_cache)

    src = str(tmp_path / "pages_src")
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    t0 = BASE
    HOUR = dt.timedelta(hours=1)

    # batch 1: en has a same-batch duplicate; fr seeds one entry then
    # goes quiet forever (the timeout-eviction key)
    b1 = [("a", t0, None, "alpha", "en"),
          ("b", t0 + MIN, None, "alpha", "en"),
          ("f", t0, None, "foxtrot", "fr")]
    # batch 2 (30 min later): inside TTL → dup, refreshes the entry
    b2 = [("c", t0 + 30 * MIN, None, "alpha", "en")]
    # batch 3 (3 h later): entry expired (refresh horizon was
    # t0+30min+1h) → fresh again; also pushes the watermark far past
    # fr's timeout → fr evicts
    b3 = [("d", t0 + 3 * HOUR, None, "alpha", "en")]

    for b in (b1, b2, b3):
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        time.sleep(2)  # distinct mod-times → in-order file batches

    sink = f"dedup_cache_{os.getpid()}"
    q = (streaming_dedup_cache(spark, src, watermark="1 minute")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"

    rows = spark.sql(f"SELECT * FROM {sink}").collect()
    verdicts = {r.url: r.is_dup for r in rows if r.url is not None}
    assert verdicts == {"a": False, "b": True, "f": False,
                       "c": True, "d": False}
    # the whole-key timeout eviction row for fr
    evicted = [r for r in rows if r.url is None]
    assert len(evicted) == 1
    assert evicted[0].key == "fr" and evicted[0].evicted == 1
    # state stayed hash-only and bounded: cache never exceeded 1 entry
    assert max(r.cache_size for r in rows if r.url is not None) == 1


def test_streaming_domain_cap_first_k_admitted_across_batches(spark,
                                                              tmp_path):
    """The per-host admission quota: at most k kept per canonical host
    over the stream's LIFETIME — a host that exhausts its quota in
    batch 1 gets only rejections in batch 2; host spellings that
    canonicalize together share one counter."""
    import time

    from pdf_extractor_spark.streaming.stateful import \
        streaming_domain_cap

    src = str(tmp_path / "pages_src")
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    t0 = BASE

    # batch 1: big.com posts 4 docs (quota 3) across THREE url
    # spellings that canonicalize to one host; small.org posts 1
    b1 = [("https://big.com/p1", t0, None, "t", "en"),
          ("https://WWW.Big.com/p2", t0 + 1 * MIN, None, "t", "en"),
          ("https://big.com:443/p3", t0 + 2 * MIN, None, "t", "en"),
          ("https://big.com/p4", t0 + 3 * MIN, None, "t", "en"),
          ("http://small.org/a", t0, None, "t", "en")]
    # batch 2: big.com is over quota forever; small.org still has room
    b2 = [("https://big.com/p5", t0 + 10 * MIN, None, "t", "en"),
          ("http://small.org/b", t0 + 10 * MIN, None, "t", "en")]

    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        time.sleep(2)

    sink = f"domain_cap_{os.getpid()}"
    q = (streaming_domain_cap(spark, src, k=3)
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"

    rows = spark.sql(f"SELECT * FROM {sink}").collect()
    assert len(rows) == 7  # every document verdicts, none dropped
    by_url = {r.url: r for r in rows}
    # all three spellings share the big.com counter
    assert all(r.host == "big.com" for r in rows if "big" in r.url.lower())
    # first-3-arrivals kept (event-time order), then rejected forever
    assert by_url["https://big.com/p1"].kept
    assert by_url["https://WWW.Big.com/p2"].kept
    assert by_url["https://big.com:443/p3"].kept
    assert not by_url["https://big.com/p4"].kept
    assert not by_url["https://big.com/p5"].kept
    # the counter persisted across batches: p5 is the 5th sighting
    assert by_url["https://big.com/p5"].host_seq == 5
    # small.org unaffected by big.com's quota
    assert by_url["http://small.org/a"].kept
    assert by_url["http://small.org/b"].kept
    assert by_url["http://small.org/b"].host_seq == 2


def test_streaming_crawl_dedup_collapses_unchanged_recaptures(
        spark, tmp_path):
    """The live recrawl filter keeps first sightings and changed
    bodies, drops unchanged recaptures — and dedups on the CANONICAL
    url, so www./utm noise cannot split a page's identity."""
    import time

    from pdf_extractor_spark.streaming.windows import \
        streaming_crawl_dedup

    src = str(tmp_path / "pages_src")
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    t0 = BASE
    # the three capture URLs canonicalize to the SAME page
    b1 = [("https://www.x.com/p?utm_source=a", t0, None, "body A", "en"),
          ("https://other.com/q", t0 + MIN, None, "other", "en")]
    # unchanged recapture (dropped) + changed body (kept)
    b2 = [("https://x.com/p", t0 + 2 * MIN, None, "body A", "en"),
          ("HTTPS://x.com:443/p", t0 + 4 * MIN, None, "body B", "en")]
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    time.sleep(2)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    sink = f"stream_crawl_{os.getpid()}"
    q = (streaming_crawl_dedup(spark, src, watermark="30 minutes")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"

    rows = spark.sql(
        f"SELECT canonical_url, text FROM {sink}").collect()
    got = sorted((r.canonical_url, r.text) for r in rows)
    assert got == [("https://other.com/q", "other"),
                   ("https://x.com/p", "body A"),
                   ("https://x.com/p", "body B")]


def test_streaming_crawl_dedup_null_text_matches_batch_hash(
        spark, tmp_path):
    """ADVICE r03: html-only pages (text NULL) must hash like the
    batch curate_pages — md5(coalesce(text, '')) — so two NULL-text
    recaptures of one url collapse instead of both passing on a NULL
    dedup key."""
    import time

    from pdf_extractor_spark.streaming.windows import \
        streaming_crawl_dedup

    src = str(tmp_path / "pages_src")
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    t0 = BASE
    b1 = [("https://x.com/p", t0, bytearray(b"<html>"), None, "en")]
    b2 = [("https://x.com/p", t0 + MIN, bytearray(b"<html>"), None,
           "en")]
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    time.sleep(2)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    sink = f"stream_crawl_null_{os.getpid()}"
    q = (streaming_crawl_dedup(spark, src, watermark="30 minutes")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"
    rows = spark.sql(f"SELECT url, content_hash FROM {sink}").collect()
    assert len(rows) == 1  # the NULL-text recapture was collapsed
    import hashlib
    assert rows[0].content_hash == hashlib.md5(b"").hexdigest()


def test_streaming_crawl_dedup_lag_keeps_reverting_content(
        spark, tmp_path):
    """The lag-based stateful twin reproduces the batch rule exactly:
    A→B→A keeps all three captures (the seen-set variant drops the
    third), and only CONSECUTIVE-unchanged recaptures are flagged."""
    import time

    from pdf_extractor_spark.streaming.stateful import \
        streaming_crawl_dedup_lag

    src = str(tmp_path / "pages_src")
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    t0 = BASE
    b1 = [("https://x.com/p", t0, None, "body A", "en"),
          ("https://x.com/p", t0 + MIN, None, "body B", "en")]
    b2 = [("https://x.com/p", t0 + 2 * MIN, None, "body A", "en"),
          ("https://x.com/p", t0 + 3 * MIN, None, "body A", "en")]
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    time.sleep(2)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    sink = f"stream_crawl_lag_{os.getpid()}"
    q = (streaming_crawl_dedup_lag(spark, src, watermark="30 minutes")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"
    rows = sorted((r.warc_ts_us, r.verdict) for r in
                  spark.sql(f"SELECT * FROM {sink}").collect())
    verdicts = [v for _ts, v in rows]
    # A(kept) B(kept) A(kept — REVERTING, batch keeps it) A(unchanged)
    assert verdicts == ["kept", "kept", "kept", "unchanged_recrawl"]


def test_streaming_crawl_dedup_lag_ttl_eviction_errs_kept_side(
        spark, tmp_path):
    """A canonical url quiet past the TTL horizon has its last-hash
    state evicted; a later unchanged recapture then counts as KEPT —
    the safe direction (the stream may keep extra, it never drops a
    capture the batch keeps)."""
    import time

    from pdf_extractor_spark.streaming.stateful import \
        streaming_crawl_dedup_lag

    src = str(tmp_path / "pages_src")
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    t0 = BASE
    b1 = [("https://x.com/p", t0, None, "body A", "en")]
    # 3 days later (> 1-day TTL): batch 2 advances the watermark past
    # x.com/p's timeout; batch 3 (x absent) fires the event-time
    # timeout and evicts its state; batch 4's unchanged recapture then
    # folds against NO state
    b2 = [("https://far.example/q", t0 + dt.timedelta(days=3), None,
           "other", "en")]
    b3 = [("https://far.example/r", t0 + dt.timedelta(days=3,
                                                      minutes=2),
           None, "other2", "en")]
    b4 = [("https://x.com/p", t0 + dt.timedelta(days=3, minutes=5),
           None, "body A", "en")]
    for i, batch in enumerate((b1, b2, b3, b4)):
        spark.createDataFrame(batch, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        time.sleep(2)

    sink = f"stream_crawl_ttl_{os.getpid()}"
    q = (streaming_crawl_dedup_lag(spark, src, watermark="1 minute")
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish"
    rows = sorted((r.warc_ts_us, r.canonical_url, r.verdict) for r in
                  spark.sql(f"SELECT * FROM {sink}").collect())
    verdicts = [(u, v) for _ts, u, v in rows]
    # the unchanged recapture after eviction is kept, not dropped
    assert verdicts == [("https://x.com/p", "kept"),
                        ("https://far.example/q", "kept"),
                        ("https://far.example/r", "kept"),
                        ("https://x.com/p", "kept")]


def test_streaming_incremental_dedup_state_grows(spark, tmp_path):
    """foreachBatch incremental dedup: batch 1 admits its docs and
    materializes their hash/band rows; batch 2's exact copy of a
    batch-1 doc is caught with the right representative, its near-dup
    (one word changed) is caught via the band tables, and a genuinely
    new doc is admitted. Within-batch copies stay 'new' (the batch
    contract of dedup_incremental)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    import pandas as pd

    from pdf_extractor_spark.streaming.incremental import \
        incremental_dedup_stream

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("upsilon", "psi")  # 1/20 words changed
    schema = "doc_id long, text string"

    def write_file(rows, name):
        df = spark.createDataFrame(pd.DataFrame(
            rows, columns=["doc_id", "text"]), schema=schema)
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        src = str(tmp_path / "src")
        _os.makedirs(src, exist_ok=True)
        _shutil.copy(part, _os.path.join(src, name))

    write_file([(1, base), (2, "totally different text here now"),
                (3, base)], "b1.parquet")   # 3 = within-batch copy of 1
    write_file([(10, base),                 # exact dup of batch-1 doc
                (11, near),                 # near dup (bands)
                (12, "unrelated fresh content words")], "b2.parquet")

    state = str(tmp_path / "state")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "src")))
    q = incremental_dedup_stream(stream, state,
                                 str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    v = {r.doc_id: (r.verdict, r.representative) for r in
         spark.read.parquet(f"{state}/verdicts").collect()}
    # batch 1: empty state -> everything new, incl. the in-batch copy
    assert v[1] == ("new", None) and v[3] == ("new", None)
    assert v[2] == ("new", None)
    # batch 2: exact via the hash table (min doc_id rep), near via
    # the band tables, fresh admitted
    assert v[10] == ("exact_dup", 1)
    assert v[11][0] == "near_dup" and v[11][1] in (1, 3)
    assert v[12] == ("new", None)
    # state grew by exactly the admitted docs
    admitted = {r.doc_id for r in
                spark.read.parquet(f"{state}/hash").collect()}
    assert admitted == {1, 2, 3, 12}


def test_streaming_incremental_dedup_replay_idempotent(spark, tmp_path):
    """foreachBatch retry scenario (ADVICE r04): a prior attempt of
    batch 0 crashed AFTER writing its own hash/band state but BEFORE
    the checkpoint committed, so the replay sees leftover
    ``batch=0`` state containing its own rows. The probe must exclude
    state at-or-after the current batch id — every batch-0 doc is
    still 'new' on replay (not a dup of itself) and the overwritten
    state is identical to a clean run."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    import pandas as pd

    from pdf_extractor_spark.streaming.incremental import (
        band_rows, hash_rows, incremental_dedup_stream)

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    schema = "doc_id long, text string"
    rows = [(1, base), (2, "totally different text here now")]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["doc_id", "text"]), schema=schema)

    src = str(tmp_path / "src")
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    _os.makedirs(src, exist_ok=True)
    _shutil.copy(_glob.glob(_os.path.join(stage, "part-*.parquet"))[0],
                 _os.path.join(src, "b1.parquet"))

    # Simulate the failed attempt's leftover output for batch id 0.
    state = str(tmp_path / "state")
    hash_rows(df).write.mode("overwrite").parquet(
        f"{state}/hash/batch=0")
    band_rows(df).write.mode("overwrite").parquet(
        f"{state}/bands/batch=0")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    q = incremental_dedup_stream(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    v = {r.doc_id: (r.verdict, r.representative) for r in
         spark.read.parquet(f"{state}/verdicts").collect()}
    assert v[1] == ("new", None) and v[2] == ("new", None)
    admitted = {r.doc_id for r in
                spark.read.parquet(f"{state}/hash").collect()}
    assert admitted == {1, 2}


def test_streaming_incremental_dedup_matches_batch_query(spark, tmp_path):
    """Stream ↔ batch parity: streaming the sf0.001 corpus as two files
    — the existing docs (``doc_id % INCR_MOD != 0``), then the incoming
    ones — admits every existing doc in batch 0, so batch 1's verdicts
    are exactly the rows of the batch query ``dedup_incremental``."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from pdf_extractor_spark.queries.dedup import (INCR_MOD,
                                                   q_dedup_incremental)
    from pdf_extractor_spark.streaming.incremental import \
        incremental_dedup_stream

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .select("doc_id", "text")
    src = str(tmp_path / "src")
    _os.makedirs(src)
    for i, part in enumerate([docs.filter(f"doc_id % {INCR_MOD} != 0"),
                              docs.filter(f"doc_id % {INCR_MOD} = 0")]):
        stage = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        dst = _os.path.join(src, f"b{i}.parquet")
        _shutil.copy(_glob.glob(_os.path.join(stage, "part-*.parquet"))[0],
                     dst)
        # the file source takes files in modification-time order
        _os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    state = str(tmp_path / "state")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = incremental_dedup_stream(stream, state, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300), "stream did not finish"

    first = spark.read.parquet(f"{state}/verdicts/batch=0").collect()
    assert {r.verdict for r in first} == {"new"}
    streamed = sorted(tuple(r) for r in spark.read.parquet(
        f"{state}/verdicts/batch=1")
        .select("doc_id", "verdict", "representative").collect())
    batch = [tuple(r) for r in q_dedup_incremental(spark, sf).collect()]
    assert streamed == batch
    assert {v for _d, v, _r in batch} >= {"new", "near_dup"}

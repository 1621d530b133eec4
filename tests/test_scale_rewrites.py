"""Equivalence guarantees behind the round-2 scale rewrites.

The star-edge LSH change and the salted ANN join both claim to be
result-preserving transformations; these tests pin those claims on
real data so a future edit cannot silently break them.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pdf_extractor_spark.queries import dedup, simsearch

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.spark


def _components(edges, nodes):
    """Union-find over an edge list."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: find(n) for n in nodes}


def test_star_edges_preserve_lsh_components(spark):
    """The star-shaped candidate edges must produce EXACTLY the same
    connected components as all-pairs-within-bucket — the property the
    q_dedup_minhash_lsh docstring claims."""
    sigs = dedup._minhash_sigs(spark, SF_DIR) \
        .withColumn("band", F.floor(F.col("j") / dedup.LSH_ROWS)
                    .cast("int"))
    slot = lambda k: F.max(
        F.when(F.col("j") % dedup.LSH_ROWS == k, F.col("sig")))
    bands = (sigs.groupBy("doc_id", "band")
             .agg(F.concat_ws("-", slot(0).cast("string"),
                              slot(1).cast("string"),
                              slot(2).cast("string"),
                              slot(3).cast("string")).alias("band_key")))
    rows = bands.collect()
    buckets = {}
    nodes = set()
    for r in rows:
        buckets.setdefault((r.band, r.band_key), []).append(r.doc_id)
        nodes.add(r.doc_id)
    all_pairs, star = [], []
    for members in buckets.values():
        members = sorted(members)
        rep = members[0]
        for i, a in enumerate(members):
            star.extend((rep, b) for b in members[i + 1:] if a == rep)
            all_pairs.extend((a, b) for b in members[i + 1:])
    assert _components(star, nodes) == _components(all_pairs, nodes)

    # and the query's emitted edges are exactly the star set
    got = {(r.doc_a, r.doc_b)
           for r in dedup.q_dedup_minhash_lsh(spark, SF_DIR).collect()}
    assert got == set(star)


def test_salted_ann_equals_unsalted(spark):
    """Salting the bucket join must not change a single output row."""
    emb = simsearch._emb(spark, SF_DIR).withColumn(
        "bucket", simsearch._bucket_expr_spark(F.col("e")))
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        "bucket")
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("e").alias("ce"), "bucket")
    scored = (q.join(c, "bucket")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cos_sim", F.round(
                  simsearch._cosine(F.col("qe"), F.col("ce")), 4)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    unsalted = (scored.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= 3)
                .select("query_id", "bucket", "neighbor_id", "cos_sim",
                        "rk"))
    a = sorted(map(tuple, unsalted.collect()))
    b = sorted(map(tuple,
                   simsearch.q_ann_lsh_topk(spark, SF_DIR).collect()))
    assert a == b


def test_cluster_rounds_reach_fixpoint(spark):
    """dedup_clusters runs exactly CLUSTER_ROUNDS min-label rounds
    (oracle determinism); this proves that on the test corpus those
    rounds reach the TRUE connected-components fixpoint (union-find
    over the same edges)."""
    edges = [(r.doc_a, r.doc_b) for r in
             dedup.q_dedup_minhash_lsh(spark, SF_DIR).collect()]
    docs = [r.doc_id for r in
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id").collect()]
    comp = _components(edges, set(docs))
    want = {}
    for n, root in comp.items():
        want.setdefault(root, []).append(n)
    # canonical label = min member of each component, sizes > 1
    want_clusters = sorted(
        (min(members), len(members), min(members), max(members))
        for members in want.values() if len(members) > 1)
    got = sorted((r.label, r.cluster_size, r.min_member, r.max_member)
                 for r in dedup.q_dedup_clusters(spark, SF_DIR).collect())
    assert got == want_clusters


def test_numpy_bruteforce_matches_jvm(spark):
    """The vectorized-numpy brute-force path must return the SAME
    top-k rows as the JVM higher-order-function twin (both round to 4
    places before ranking; the per-batch partial top-k uses the same
    tie-break as the global window)."""
    jvm = [tuple(r) for r in
           simsearch.q_ann_bruteforce_topk(spark, SF_DIR).collect()]
    npy = [(r.query_id, r.neighbor_id, r.cos_sim, r.rk) for r in
           simsearch.q_ann_bruteforce_numpy(spark, SF_DIR).collect()]
    assert npy == jvm


def test_converged_propagation_beats_fixed_rounds_on_long_chain(spark):
    """VERDICT r02 #3: a stitching chain longer than CLUSTER_ROUNDS hops
    must fully collapse under rounds=None (run-to-convergence) even
    though the fixed-round contract cannot reach it. 20-node path graph
    → diameter 19 > 6."""
    n = 20
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")

    fixed, ran_fixed = dedup.propagate_min_labels(docs, edges, rounds=6)
    assert ran_fixed == 6
    # six rounds reach only ~6 hops down the chain — not converged
    assert fixed.filter(F.col("label") != 0).count() > 0

    conv, ran_conv = dedup.propagate_min_labels(docs, edges, rounds=None)
    labels = {r.doc_id: r.label for r in conv.collect()}
    assert set(labels.values()) == {0}          # one component, rep = 0
    assert 6 < ran_conv <= dedup.MAX_CLUSTER_ROUNDS

    # matches union-find ground truth
    comp = _components([(i, i + 1) for i in range(n - 1)], range(n))
    want = {v: min(c for c in comp if comp[c] == comp[v]) for v in comp}
    assert labels == want

    # pointer doubling: identical fixpoint in O(log diameter) rounds —
    # the chain needs ~diameter rounds plain (ran_conv ≈ 20) but only
    # a handful with label(label(u)) folded in each round
    dbl, ran_dbl = dedup.propagate_min_labels(docs, edges, rounds=None,
                                              doubling=True)
    assert {r.doc_id: r.label for r in dbl.collect()} == want
    assert ran_dbl <= 7 < ran_conv


def _propagate_py(nodes, edges, rounds):
    """Exactly ``rounds`` rounds of min-label propagation, in Python."""
    lab = {v: v for v in nodes}
    for _ in range(rounds):
        nxt = dict(lab)
        for a, b in edges:
            nxt[a] = min(nxt[a], lab[b])
            nxt[b] = min(nxt[b], lab[a])
        lab = nxt
    return lab


def _jobs_run(spark, group, fn):
    """``fn()`` and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_propagation_stops_at_first_unchanged_round(spark):
    """Two stars and an isolated node: round 1 moves every label to its
    star's centre, round 2 changes nothing. ``rounds=6`` stops there
    with the labels of six full rounds, and ``rounds=None`` runs the
    same two rounds with no extra job for the convergence check (the
    changed-label count rides each round's checkpoint job)."""
    nodes = list(range(8))
    pairs = [(0, 1), (0, 2), (0, 3), (5, 6), (5, 7)]
    docs = spark.createDataFrame([(i,) for i in nodes], "doc_id long")
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    (fixed, ran_fixed), jobs_fixed = _jobs_run(
        spark, "propagate_fixed",
        lambda: dedup.propagate_min_labels(docs, edges, rounds=6))
    assert ran_fixed == 2
    assert {r.doc_id: r.label for r in fixed.collect()} == \
        _propagate_py(nodes, pairs, 6)

    (conv, ran_conv), jobs_conv = _jobs_run(
        spark, "propagate_converged",
        lambda: dedup.propagate_min_labels(docs, edges, rounds=None))
    assert ran_conv == 2
    assert {r.doc_id: r.label for r in conv.collect()} == \
        _propagate_py(nodes, pairs, 6)
    assert jobs_conv == jobs_fixed


def test_trained_ivf_recall_vs_bruteforce(spark):
    """VERDICT r02 #4 recall note: trained-IVF (2 Lloyd rounds, probe-3)
    top-k recall against the exact answer for the same 20-query set.
    Probing 3 of 10 lists caps work at ~30% of the corpus (measured
    curve in simsearch.py: 0.45/0.66/0.72 at probe 2/3/4); the assert
    pins recall from collapsing silently."""
    sf = "/root/testdata/sf0.01"
    ivf = {(r.query_id, r.neighbor_id)
           for r in simsearch.q_ann_ivf_topk(spark, sf).collect()}
    emb = simsearch._emb(spark, sf)
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("e").alias("ce"))
    scored = (q.crossJoin(c)
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cos_sim", F.round(
                  simsearch._cosine(F.col("qe"), F.col("ce")), 4)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    exact = {(r.query_id, r.neighbor_id)
             for r in scored.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= simsearch.TOP_K).collect()}
    recall = len(ivf & exact) / len(exact)
    print(f"\ntrained-IVF probe-{simsearch.IVF_PROBES} recall@"
          f"{simsearch.TOP_K}: {recall:.3f} ({len(ivf & exact)}/{len(exact)})")
    assert recall >= 0.6


def test_quantized_topk_recall_vs_float(spark):
    """int8 ranking vs float ranking: cosine is scale-invariant so
    quantization noise is the only divergence source — recall@5 on the
    5-query set must stay high (collapse here would mean the
    quantizer or the integer dot is wrong, not mere noise)."""
    sf = "/root/testdata/sf0.01"
    quant = {(r.query_id, r.neighbor_id)
             for r in simsearch.q_ann_quantized_topk(spark, sf)
             .collect()}
    exact = {(r.query_id, r.neighbor_id)
             for r in simsearch.q_ann_bruteforce_topk(spark, sf)
             .collect()}
    recall = len(quant & exact) / len(exact)
    assert recall >= 0.8, recall


def test_dedup_pipeline_verdicts_and_closure(spark, tmp_path):
    """All three verdict classes on a constructed corpus, plus the
    closure property: every representative is itself 'kept' (the
    component minimum can never be an exact duplicate)."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base),                      # kept (cluster rep)
        (2, base),                      # exact_dup of 1
        (3, base + " extra"),           # near_dup of 1 (shares shingles)
        (4, "totally different words entirely unrelated content here "
            "with nothing shared at all among these tokens one two"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{sf}/documents.parquet")
    got = {r.doc_id: (r.verdict, r.representative)
           for r in dedup.q_dedup_pipeline(spark, sf).collect()}
    assert got[1] == ("kept", 1)
    assert got[2] == ("exact_dup", 1)
    assert got[3] == ("near_dup", 1)
    assert got[4] == ("kept", 4)
    kept = {d for d, (v, _r) in got.items() if v == "kept"}
    assert all(r in kept for _v, r in got.values())


def test_dedup_incremental_verdicts(spark, tmp_path):
    """Incoming-batch verdicts against the existing corpus: exact
    (byte-identical text), near (shares an LSH bucket), new — and an
    incoming×incoming duplicate pair must BOTH stay 'new' (increments
    dedup against the corpus, not within themselves; the within-batch
    pass is dedup_pipeline's job after admission)."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen")
    rows = [
        # existing corpus: doc_id % 3 != 0
        (1, base),
        (2, other),
        # incoming batch: doc_id % 3 == 0
        (3, base),              # exact_dup of 1
        (6, base + " tail"),    # near_dup of 1
        (9, "completely unrelated fresh document words entirely "
            "novel content here nothing shared with the corpus at"),
        (12, "completely unrelated fresh document words entirely "
             "novel content here nothing shared with the corpus at"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{sf}/documents.parquet")
    got = {r.doc_id: (r.verdict, r.representative)
           for r in dedup.q_dedup_incremental(spark, sf).collect()}
    assert got[3] == ("exact_dup", 1)
    assert got[6] == ("near_dup", 1)
    # 9 and 12 duplicate EACH OTHER but nothing existing -> both new
    assert got[9] == ("new", None)
    assert got[12] == ("new", None)

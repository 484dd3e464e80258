"""Property checks for the non-oracle (approximate / engine-specific)
LLM operators: HLL bounds, MinHash-LSH near-dup behavior, ANN recall
against the exact brute-force baseline (SURVEY.md §5 item 2).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from unity_to_bigquery_spark.llm.dedup import hamming64, minhash_lsh_pairs, simhash32
from unity_to_bigquery_spark.llm.similarity import brute_force_topk, ivf_topk
from unity_to_bigquery_spark.registry import all_queries

QUERIES = all_queries()


def test_approx_count_distinct_bounds(spark, sf_dir):
    rows = QUERIES["a_approx_count_distinct"].spark(spark, sf_dir).collect()
    for r in rows:
        # rsd=0.02; RECORDED max relative error 0.79% (sf0.001) /
        # 0.85% (sf0.01), round-5 measurement — band pinned at 2.5% so
        # a silent estimator regression trips this, not just a gross one
        assert abs(r.approx_customers - r.exact_customers) <= max(
            2, 0.025 * r.exact_customers
        )


def test_minhash_lsh_pairs_properties(spark, sf_dir):
    from unity_to_bigquery_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, max_jaccard_distance=0.6).collect()
    # id ordering + distance range invariants
    for p in pairs:
        assert p.id_a < p.id_b
        assert 0.0 <= p.jaccard_distance <= 0.6
    # determinism for a fixed seed
    pairs2 = minhash_lsh_pairs(docs, max_jaccard_distance=0.6).collect()
    assert sorted((p.id_a, p.id_b) for p in pairs) == sorted(
        (p.id_a, p.id_b) for p in pairs2
    )


def test_exact_duplicates_surface_in_lsh(spark, sf_dir):
    """Any exact duplicate text pair must be an LSH candidate at distance 0."""
    from unity_to_bigquery_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    dup_pairs = (
        docs.alias("a")
        .join(docs.alias("b"), F.expr("a.text = b.text AND a.doc_id < b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .collect()
    )
    if not dup_pairs:
        return  # fixture has no exact dups at this SF — nothing to assert
    lsh = {
        (p.id_a, p.id_b): p.jaccard_distance
        for p in minhash_lsh_pairs(docs, max_jaccard_distance=0.6).collect()
    }
    for d in dup_pairs:
        assert (d.id_a, d.id_b) in lsh
        assert lsh[(d.id_a, d.id_b)] == 0.0


def test_simhash_identical_docs_equal_hash(spark, sf_dir):
    from unity_to_bigquery_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = simhash32(docs)
    joined = (
        docs.alias("a")
        .join(docs.alias("b"), F.expr("a.text = b.text AND a.doc_id < b.doc_id"))
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"))
        .join(sh.alias("sa"), F.col("ia") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("ib") == F.col("sb.doc_id"))
        .select(
            hamming64(F.col("sa.simhash"), F.col("sb.simhash")).alias("ham")
        )
        .collect()
    )
    for r in joined:
        assert r.ham == 0


def _recall_at_k(approx_rows, exact_rows, k=5):
    from collections import defaultdict

    exact = defaultdict(set)
    for r in exact_rows:
        exact[r.query_id].add(r.vec_id)
    approx = defaultdict(set)
    for r in approx_rows:
        approx[r.query_id].add(r.vec_id)
    recalls = [
        len(approx[q] & exact[q]) / max(len(exact[q]), 1) for q in exact
    ]
    return sum(recalls) / len(recalls)


def test_ivf_recall_vs_exact(spark, sf_dir):
    """Trained (seeded-KMeans) centroids — the shipped sim_ivf_topk
    path — must clear the absolute bar AND not trail the legacy
    sampled-centroid baseline they replaced (VERDICT r2 #4). Measured
    at sf0.01/sf0.1: top-k 0.80/0.60 trained vs 0.44/0.60 sampled;
    blocked-neardup 0.92/0.73 trained vs 0.84/0.66 sampled."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.similarity import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5).collect()
    sampled_c = emb.filter(F.col("vec_id") % 31 == 1).limit(16)
    sampled = ivf_topk(emb, queries, sampled_c, k=5, nprobe=4).collect()
    trained_c = kmeans_centroids(emb, 16)
    trained = ivf_topk(emb, queries, trained_c, k=5, nprobe=4).collect()
    r_trained, r_sampled = _recall_at_k(trained, exact), _recall_at_k(sampled, exact)
    assert r_trained >= 0.3  # nprobe=4/16 cells — modest absolute bar
    assert r_trained >= r_sampled, (
        f"trained-centroid recall {r_trained:.2f} trails sampled {r_sampled:.2f}"
    )


def test_lsh_topk_recall_vs_exact(spark, sf_dir):
    rows = QUERIES["sim_lsh_topk"].spark(spark, sf_dir).collect()
    exact = QUERIES["sim_cosine_topk"].spark(spark, sf_dir).collect()
    # L2-LSH ranks by euclidean; on roughly-normalized data overlap with
    # cosine top-k should be well above chance (5 of 500).
    assert _recall_at_k(rows, exact) >= 0.2


def test_ivf_blocked_neardup_containment_and_recall(spark, sf_dir):
    """Blocked pairs are a SUBSET of exact all-pairs (identical scores)
    with usable recall on the fixture: co-cell near-dups survive. Uses
    ivf_blocked_neardup — the SAME helper (same ncells/nassign) the
    declared sim_ivf_neardup_pairs query runs, so this recall bar
    covers the shipped query, not a lookalike."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.similarity import allpairs_cosine6, ivf_blocked_neardup

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = {
        (r.id_a, r.id_b): r.cos6
        for r in ivf_blocked_neardup(emb, min_cos6=300000).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.cos6
        for r in allpairs_cosine6(emb, min_cos6=300000).collect()
    }
    assert set(blocked) <= set(exact)
    for pair, score in blocked.items():
        assert exact[pair] == score  # same math inside the block
    assert len(exact) > 0
    recall = len(blocked) / len(exact)
    # trained centroids: 0.92 at sf0.01 / 0.73 at sf0.1 (sampled were
    # 0.84 / 0.66) — bar raised from the sampled-era 0.55
    assert recall >= 0.65, f"recall {recall:.2f} too low for trained-centroid top-4 blocking"


def test_sq8_rerank_recall_vs_exact(spark, sf_dir):
    """Quantized shortlist + exact rerank must recover (nearly) the
    exact top-k: the int8 grid is fine enough that true neighbors
    survive the shortlist cut."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.similarity import brute_force_topk, sq8_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in sq8_rerank_topk(emb, qs, k=5, shortlist=20).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9
    # reranked scores are EXACT cosine: any overlap pair agrees on rank ordering source
    assert len(approx) == len(exact)


def test_hll_mergeable_rollup_estimate_bounds(spark, sf_dir):
    """The merged weekly HLL estimate must track the exact weekly
    distinct count within the sketch's error envelope (lgConfigK=14
    -> ~0.8% relative standard error; assert a generous 5%), and
    merging day sketches must be consistent: estimate >= any single
    day's exact distinct."""
    import pyspark.sql.functions as F

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.registry import all_queries

    approx = {
        r["week"]: r["approx_users"]
        for r in all_queries()["e_hll_mergeable_rollup"].spark(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exact = {
        r["week"]: r["exact_users"]
        for r in (
            events.groupBy(
                F.date_format(F.date_trunc("WEEK", F.date_trunc("DAY", "ts")), "yyyy-MM-dd").alias("week")
            )
            .agg(F.countDistinct("user_id").alias("exact_users"))
            .collect()
        )
    }
    assert set(approx) == set(exact)
    for wk, est in approx.items():
        # RECORDED: zero error at sf0.001 AND sf0.01 (HLL++ sparse mode
        # is exact at these weekly cardinalities) — band pinned at 1%
        # so any estimator/merge regression is visible
        assert abs(est - exact[wk]) <= max(1, 0.01 * exact[wk]), (
            wk, est, exact[wk]
        )


def test_semdedup_witness_soundness_and_minimality(spark, sf_dir):
    """Every pruned vector has a lower-id same-cell witness with
    cos6 >= tau; every kept vector has none — the two properties that
    fully characterize the min-id-survivor rule."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.similarity import (
        allpairs_cosine6,
        semdedup_prune,
    )

    tau6 = 300000
    emb = load_table(spark, sf_dir, "embeddings")
    res = semdedup_prune(emb, tau6=tau6).persist()
    assert res.count() == emb.count()

    # recompute witnesses exactly from the assignment the op emitted
    withcell = emb.join(res.select("vec_id", "cell_id"), "vec_id")
    pairs = allpairs_cosine6(withcell, min_cos6=tau6, block_col="cell_id")
    witnessed = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    flags = {r.vec_id: r.pruned for r in res.collect()}
    for vid, pruned in flags.items():
        assert pruned == (vid in witnessed), (
            f"vec {vid}: pruned={pruned} but witness={vid in witnessed}"
        )


def test_semdedup_prunes_planted_duplicates(spark, sf_dir):
    """Exact clones (ids offset upward) are always pruned: an identical
    vector lands in the same cell (identical centroid similarities,
    deterministic tiebreak) and scores cos6=1e6 against its original."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.similarity import semdedup_prune

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.select((F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding")
    res = semdedup_prune(emb.unionAll(clones), tau6=999999)
    clone_rows = res.filter(F.col("vec_id") >= 100000).collect()
    assert clone_rows and all(r.pruned for r in clone_rows)
    # originals must never be pruned by their own clone (clone id is higher)
    orig_pruned = res.filter((F.col("vec_id") < 100000) & F.col("pruned")).count()
    assert orig_pruned == 0


def test_kll_mergeable_quantiles_rank_error_bound(spark, sf_dir):
    """The merged-sketch quantile estimates must sit within KLL's
    normalized rank error of their targets (k=200 -> ~1.65%; assert
    2%, the theoretical bound rounded up) — checked against exact
    per-week ranks."""
    from unity_to_bigquery_spark.catalog import load_table

    got = {
        r.week: (r.p50_est, r.p90_est, r.p99_est)
        for r in all_queries()["e_kll_mergeable_quantiles"].spark(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("WEEK", F.date_trunc("DAY", "ts")), "yyyy-MM-dd").alias(
            "week"
        ),
        "value",
    )
    for week, (p50, p90, p99) in got.items():
        vals = sorted(r.value for r in events.filter(F.col("week") == week).collect())
        n = len(vals)
        assert n > 0
        import bisect

        for est, q in ((p50, 0.5), (p90, 0.9), (p99, 0.99)):
            rank = bisect.bisect_right(vals, est) / n
            # RECORDED max rank error: 1.00% (sf0.001) / 0.31% (sf0.01),
            # round-5 measurement; k=200's theoretical bound is ~1.65%.
            # Band pinned AT the theoretical bound rounded up (2%), not
            # at the recorded fixture-specific max: fixtures regenerate
            # across rounds (CLAUDE.md rule 12) and a within-spec sketch
            # must not fail on a new draw (ADVICE r5).
            assert abs(rank - q) <= 0.02, (week, q, est, rank)


def test_theta_audience_overlap_matches_exact(spark, sf_dir):
    """Theta intersection/difference estimates vs exact set algebra on
    user_id (theta is near-exact until sketches saturate at k=4096 —
    far above the fixture's cardinalities, so assert tight bounds)."""
    from unity_to_bigquery_spark.catalog import load_table

    row = all_queries()["e_theta_audience_overlap"].spark(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    p = {r.user_id for r in ev.filter(F.col("event_type") == "purchase").select("user_id").distinct().collect()}
    e = {r.user_id for r in ev.filter(F.col("event_type") == "error").select("user_id").distinct().collect()}

    def close(est, exact):
        # RECORDED: zero error at sf0.001 AND sf0.01 (theta is exact
        # below its k=4096 saturation) — band pinned at 1% / ±1
        return abs(est - exact) <= max(1, 0.01 * exact)

    assert close(row.purchase_users, len(p))
    assert close(row.error_users, len(e))
    assert close(row.both_users, len(p & e))
    assert close(row.purchase_only_users, len(p - e))


def test_ivf2_hierarchical_recall(spark, sf_dir):
    """Two-level IVF: deterministic, plausible recall vs exact, and the
    descent respects the hierarchy (every result vector's fine cell is
    reachable — sanity via result containment in the corpus)."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.similarity import ivf2_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    got = ivf2_topk(emb, queries, k=5)
    rows = {(r.query_id, r.vec_id) for r in got.collect()}
    again = {(r.query_id, r.vec_id) for r in ivf2_topk(emb, queries, k=5).collect()}
    assert rows == again  # seeded end to end

    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    recall = len(rows & exact) / len(exact)
    # round-5 sweep (BASELINE.md §ivf2): defaults (wprobe=3, nprobe=8)
    # measure 0.88 on this 5-query fixture at sf0.001 (0.84 at sf0.01)
    # vs the old (2,4)'s 0.64/0.52; flat IVF at the same probe budget
    # is 0.80/0.84 — the remaining gap is the documented coarse
    # mis-assignment cost of O(N·√C) assignment. Floor has slack only
    # for fixture regeneration across rounds (the pipeline is seeded).
    assert recall >= 0.7, recall
    ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert {v for _, v in rows} <= ids


def test_simhash_band_pairs_exact_vs_brute_force(spark, sf_dir):
    """Pigeonhole exactness: with 4 bands over the 60-bit signature,
    any pair within Hamming distance 3 must agree on at least one
    band, so the banded candidate set is a superset of the true pair
    set and the verify step makes the result EXACTLY equal to brute
    force."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.dedup import simhash_band_pairs, simhash_bits

    docs = load_table(spark, sf_dir, "documents")
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_band_pairs(docs, bits=60, bands=4, max_hamming=3).collect()
    }
    sig = simhash_bits(docs, bits=60)
    a = sig.selectExpr("doc_id AS id_a", "simhash AS sa")
    b = sig.selectExpr("doc_id AS id_b", "simhash AS sb")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("sa"), F.col("sb")).alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute


def test_neardup_witness_chaining_exact_on_planted_clones(spark, sf_dir):
    """VERDICT r6 #2: the witness-chained removal set must EQUAL the
    all-pairs removal set (same min-id-witness rule, fewer Jaccard
    evaluations) — on the fixture corpus AND with a planted 300-clone
    boilerplate cluster (the web-crawl case), where bucket work must
    collapse from occ²/2 to ~occ: the clone bucket's pairs all resolve
    in phase 1 (everyone matches the min-id representative), so
    phase-2 work stays at the fixture's baseline instead of growing
    with the clone count."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.dedup import (
        minhash_lsh_pairs_df,
        neardup_removals_df,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = docs.filter(F.col("doc_id") == 7).select("text").first().text
    clones = spark.createDataFrame(
        [(100000 + i, boiler) for i in range(300)], "doc_id BIGINT, text STRING"
    )
    planted = docs.unionByName(clones)

    def allpairs_removals(d):
        return {
            r.doc_id
            for r in minhash_lsh_pairs_df(d, k=16, bands=4)
            .filter(F.col("jaccard6") >= 850000)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
            .collect()
        }

    # fixture corpus: general path (includes non-clone borderline pairs)
    got_fix = {r.doc_id for r in neardup_removals_df(docs).collect()}
    assert got_fix == allpairs_removals(docs)

    got, metrics = neardup_removals_df(planted, return_metrics=True)
    got = {r.doc_id for r in got.collect()}
    assert got == allpairs_removals(planted)
    # every clone except doc 7 (their min-id witness) must be removed
    assert {100000 + i for i in range(300)} <= got
    assert 7 not in got

    m = {r.band: r for r in metrics.collect()}
    for band, r in m.items():
        # the clone cluster makes the naive all-pairs cost quadratic...
        assert r.naive_pairs >= 300 * 299 // 2
        # ...while chained work stays near-linear: phase 1 is exactly
        # sum(occ-1) and the 300 exact clones all match their rep, so
        # phase 2 never grows with the clone count (fixture-survivor
        # pairs only)
        assert r.phase1_pairs + r.phase2_pairs < 4000, (band, r)


def test_containment_pairs_bounds_and_jaccard_relation(spark, sf_dir):
    """Containment is within [0, 1e6]; for any candidate pair,
    max(containment) >= Jaccard (set identity: J <= |A∩B|/max-denominator
    <= either containment with the smaller denominator)."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.dedup import (
        minhash_containment_pairs_df,
        minhash_lsh_pairs_df,
    )

    docs = load_table(spark, sf_dir, "documents")
    cont = {
        (r.id_a, r.id_b): (r.cont_a_in_b6, r.cont_b_in_a6)
        for r in minhash_containment_pairs_df(docs).collect()
    }
    jacc = {
        (r.id_a, r.id_b): r.jaccard6 for r in minhash_lsh_pairs_df(docs).collect()
    }
    # identical candidate generation → identical pair sets
    assert set(cont) == set(jacc)
    for pair, (cab, cba) in cont.items():
        assert 0 <= cab <= 1000000 and 0 <= cba <= 1000000
        # rounding each to 1e-6 can differ by 1 ulp of the fixed point
        assert max(cab, cba) >= jacc[pair] - 1


def test_pq_rerank_recall_vs_exact(spark, sf_dir):
    """PQ-ADC shortlist + exact rerank must recover most of the true
    top-5 (deterministic seed); reranked scores are exact, so any
    overlapping (query, id) pair carries the identical cos6."""
    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.similarity import pq_adc_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id): r.cos6
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    pq = {
        (r.query_id, r.vec_id): r.cos6
        for r in pq_adc_rerank_topk(emb, queries, k=5, m=8, ksub=32, shortlist=50).collect()
    }
    hits = set(exact) & set(pq)
    recall = len(hits) / len(exact)
    assert recall >= 0.6, f"PQ recall {recall}"
    for key in hits:
        assert exact[key] == pq[key]
    # determinism
    pq2 = {
        (r.query_id, r.vec_id): r.cos6
        for r in pq_adc_rerank_topk(emb, queries, k=5, m=8, ksub=32, shortlist=50).collect()
    }
    assert pq == pq2


def test_textrank_matches_numpy_power_iteration(spark, sf_dir):
    """TextRank ranks must match an exact NumPy implementation of the
    same weighted-PageRank recurrence (same graph, damping, rounds)
    within fixed-point tolerance."""
    import numpy as np

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.retrieval import textrank_keywords

    docs = load_table(spark, sf_dir, "documents")
    got = {r.word: r.rank6 for r in textrank_keywords(docs).collect()}

    # rebuild the graph exactly: adjacent bigrams, symmetric, w >= 2
    texts = [r.text for r in docs.select("text").collect()]
    from collections import Counter

    cnt = Counter()
    for t in texts:
        w = t.split(" ")
        for a, b in zip(w, w[1:]):
            if a != b:
                cnt[(a, b)] += 1
    sym = Counter()
    for (a, b), c in cnt.items():
        sym[(a, b)] += c
        sym[(b, a)] += c
    sym = {e: c for e, c in sym.items() if c >= 2}
    nodes = sorted({u for u, _ in sym})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    outw = np.zeros(n)
    for (u, v), c in sym.items():
        outw[idx[u]] += c
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(10):
        new = np.full(n, (1.0 - d) / n)
        contrib = np.zeros(n)
        for (u, v), c in sym.items():
            contrib[idx[v]] += r[idx[u]] * c / outw[idx[u]]
        r = new + d * contrib
    expect = {u: r[idx[u]] for u in nodes}
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    exp6 = {w: int(np.floor(v * 1e6 + 0.5)) for w, v in top}
    assert set(got) == set(exp6)
    for w in got:
        assert abs(got[w] - exp6[w]) <= 2, (w, got[w], exp6[w])


def test_fpgrowth_size2_matches_exact_pair_counts(spark, sf_dir):
    """pyspark.ml FPGrowth at minSupport s must emit exactly the
    size-2 itemsets whose exact co-occurrence count >= ceil(s * n),
    with identical frequencies — the ML frequent-itemset surface
    validated against the oracle-checked relational computation."""
    import math

    from pyspark.ml.fpm import FPGrowth

    from unity_to_bigquery_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("items")
    )
    n = baskets.count()
    s = 3.0 / n  # support equivalent to "co-ordered in >= 3 baskets"
    model = FPGrowth(itemsCol="items", minSupport=s, minConfidence=0.5).fit(baskets)
    fp2 = {
        (min(r.items), max(r.items)): r.freq
        for r in model.freqItemsets.filter(F.size("items") == 2).collect()
    }
    exact_q = __import__(
        "unity_to_bigquery_spark.registry", fromlist=["all_queries"]
    ).all_queries()["a_basket_pairs"]
    exact = {
        (r.part_a, r.part_b): r.n_baskets
        for r in exact_q.spark(spark, sf_dir).collect()
    }
    thresh = math.ceil(s * n)
    assert thresh == 3
    assert fp2 == exact


def test_prefixspan_length2_matches_exact_sequence_counts(spark, sf_dir):
    """pyspark.ml PrefixSpan at the equivalent minSupport must emit
    exactly the length-2 singleton patterns whose exact ordered-pair
    user support >= 3, with identical frequencies."""
    from pyspark.ml.fpm import PrefixSpan

    from unity_to_bigquery_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    seqs = (
        events.orderBy("ts", "event_id")
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.col("event_type").alias("t")
                        )
                    )
                ),
                lambda s: F.array(s["t"]),
            ).alias("sequence")
        )
    )
    n = seqs.count()
    ps = PrefixSpan(
        minSupport=3.0 / n, maxPatternLength=2, sequenceCol="sequence"
    )
    got = {
        (r.sequence[0][0], r.sequence[1][0]): r.freq
        for r in ps.findFrequentSequentialPatterns(seqs).collect()
        if len(r.sequence) == 2
    }
    exact_q = __import__(
        "unity_to_bigquery_spark.registry", fromlist=["all_queries"]
    ).all_queries()["e_seq_pairs"]
    exact = {
        (r.type_a, r.type_b): r.n_users
        for r in exact_q.spark(spark, sf_dir).collect()
    }
    assert got == exact


def test_skyline_operator_definition_and_duplicates(spark):
    """Skyline invariants on a crafted frame: no output row is
    dominated, every non-dominated input row (including duplicated
    frontier points) survives."""
    from unity_to_bigquery_spark.operators.skyline import skyline

    rows = [
        (1, 1.0, 5), (2, 2.0, 4), (3, 3.0, 3),   # frontier chain
        (4, 3.0, 3),                              # duplicate frontier point
        (5, 2.0, 5), (6, 4.0, 4), (7, 9.0, 9),   # dominated
        (8, 0.5, 9),                              # frontier (cheap, big)
    ]
    df = spark.createDataFrame(rows, "id LONG, price DOUBLE, size INT").repartition(3)
    got = {r.id for r in skyline(df, ["price", "size"]).collect()}
    assert got == {1, 2, 3, 4, 8}


def test_bpe_training_and_tokenization_match_reference(spark, sf_dir):
    """BPE end-to-end differential: the Spark pipeline (distributed
    word-freq -> capped-collect merge loop -> mapInPandas tokenize ->
    top-k) must EXACTLY reproduce a pure-Python reference trainer and
    tokenizer — merge lists equal (deterministic count-desc/
    lexicographic tiebreaks), token counts equal. The all-cluster
    trainer variant learns the identical merges."""
    from collections import Counter

    from unity_to_bigquery_spark.catalog import load_table
    from unity_to_bigquery_spark.llm.bpe import (
        END,
        apply_bpe,
        train_bpe,
        train_bpe_distributed,
        train_bpe_reference,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    texts = [r.text for r in docs.collect()]
    merges = train_bpe(docs, n_merges=30)
    assert merges == train_bpe_reference(texts, n_merges=30)
    assert len(merges) == 30

    sub = docs.limit(80)
    assert train_bpe_distributed(sub, n_merges=8) == train_bpe_reference(
        [r.text for r in sub.collect()], n_merges=8
    )

    # local reference tokenization of the whole corpus
    ref = Counter()
    for t in texts:
        for w in t.split(" "):
            if not w:
                continue
            s = list(w) + [END]
            for left, right in merges:
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            ref.update(s)
    got = {
        r.token: r.n
        for r in apply_bpe(docs, merges)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == dict(ref)

    # and the declared query returns the reference's top-20 exactly
    top = all_queries()["t_bpe_tokenize_topk"].spark(spark, sf_dir).collect()
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r.token, r.n) for r in top] == want


def test_fp16_codec_bit_exact_vs_numpy():
    """The from-scratch IEEE-754 binary16 codec agrees bit-for-bit
    with numpy.float16 across randoms, subnormals, overflow, and every
    rounding edge; decode is exact."""
    import numpy as np

    from unity_to_bigquery_spark.llm.similarity import fp16_decode, fp16_encode

    rng = np.random.default_rng(42)
    xs = np.concatenate(
        [
            rng.normal(0, 1, 20000).astype(np.float32),
            rng.normal(0, 1e-5, 5000).astype(np.float32),  # subnormals
            rng.uniform(-70000, 70000, 5000).astype(np.float32),  # overflow
            np.array(
                [0.0, -0.0, np.inf, -np.inf, np.nan, 65504.0,
                 2.0**-14, 2.0**-15, 2.0**-24, 2.0**-25,
                 1.0009765625, 1.00048828125, -1.00048828125],
                dtype=np.float32,
            ),
        ]
    )
    ours = fp16_encode(xs)
    with np.errstate(over="ignore"):  # the overflow rows cast to ±inf
        ref = xs.astype(np.float16).view(np.uint16)
    neq = ours != ref
    nan_ok = np.isnan(xs) & ((ours & 0x7C00) == 0x7C00) & ((ours & 0x3FF) != 0)
    assert not (neq & ~nan_ok).any()
    # RNE specifically: 1 + 2^-11 is the exact tie -> rounds to EVEN
    tie = np.float32(1.0 + 2.0**-11)
    assert fp16_encode([tie])[0] == np.float16(tie).view(np.uint16)
    # decode inverts numpy's representation exactly (NaN excepted)
    dec = fp16_decode(ref)
    ref_dec = ref.view(np.float16).astype(np.float32)
    ok = (dec == ref_dec) | (np.isnan(dec) & np.isnan(ref_dec))
    assert ok.all()
    # signed zero and max-finite survive the round trip
    assert fp16_decode(fp16_encode([-0.0]))[0] == 0.0
    assert fp16_decode(fp16_encode([65504.0]))[0] == 65504.0


def test_myers_diff_minimality_vs_lcs_dp():
    """Myers O(ND) D equals the textbook LCS dynamic program's
    len(a)+len(b)-2*LCS over random sequences; edge cases exact."""
    import random

    from unity_to_bigquery_spark.llm.revisions import (
        diff_counts,
        make_revision,
        myers_distance,
    )

    def lcs_dp(a, b):
        n, m = len(a), len(b)
        dp = [[0] * (m + 1) for _ in range(n + 1)]
        for i in range(n):
            for j in range(m):
                dp[i + 1][j + 1] = (
                    dp[i][j] + 1 if a[i] == b[j] else max(dp[i][j + 1], dp[i + 1][j])
                )
        return dp[n][m]

    random.seed(11)
    for _ in range(500):
        a = [random.randrange(6) for _ in range(random.randrange(0, 14))]
        b = [random.randrange(6) for _ in range(random.randrange(0, 14))]
        assert myers_distance(a, b) == len(a) + len(b) - 2 * lcs_dp(a, b)

    assert myers_distance([], []) == 0
    assert myers_distance([1, 2], []) == 2
    assert myers_distance([1, 2], [1, 2]) == 0
    assert myers_distance([1, 2, 3], [3, 2, 1]) == 4  # LCS = 1

    base, rev = make_revision(3, 100)
    c = diff_counts(base, rev)
    assert c["n_del"] + c["lcs_len"] == len(base)
    assert c["n_ins"] + c["lcs_len"] == len(rev)

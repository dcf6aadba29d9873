"""Property-style invariants of the corpus-curation operators
(functions/curation.py) beyond the DuckDB oracle equality checks:

  * stratified_sample — deterministic membership (rerun == rerun), and
    monotone in the rate: raising a stratum's fraction only ADDS documents
    (hash-mod sampling's key operational property: growing a training mix
    never resamples what was already in it).
  * pack_sequences — partition correctness: every doc lands in exactly one
    bin; bins respect the budget in the next-fit sense (a bin's content
    minus its last doc fits the budget); bin ids are dense per shard.
  * decontaminate — sound and complete: no surviving doc shares a content
    fingerprint with the eval set; every dropped doc does.
"""

from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.functions import curation
from kafka_cdc_redshift_spark.sources import load_table


def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_stratified_sample_deterministic_and_monotone(spark, sf_dir):
    d = docs(spark, sf_dir)
    a1 = curation.stratified_sample(d, {"en": 0.5}, strata_col="lang",
                                    default_fraction=0.25)
    a2 = curation.stratified_sample(d, {"en": 0.5}, strata_col="lang",
                                    default_fraction=0.25)
    ids1 = {r.doc_id for r in a1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in a2.select("doc_id").collect()}
    assert ids1 == ids2  # same membership on every run

    bigger = curation.stratified_sample(d, {"en": 0.75}, strata_col="lang",
                                        default_fraction=0.25)
    ids_big = {r.doc_id for r in bigger.select("doc_id").collect()}
    assert ids1 <= ids_big  # raising a rate only adds documents

    # per-stratum rates land near their targets
    n_en = d.filter(F.col("lang") == "en").count()
    got_en = a1.filter(F.col("lang") == "en").count()
    assert abs(got_en / n_en - 0.5) < 0.15


def test_pack_sequences_partitions_and_respects_budget(spark, sf_dir):
    d = docs(spark, sf_dir)
    budget = 512
    packed = curation.pack_sequences(d, budget=budget, n_shards=8)
    rows = packed.collect()
    assert len(rows) == d.count()  # every doc in exactly one bin
    assert len({r.doc_id for r in rows}) == len(rows)

    by_bin: dict[int, list] = {}
    for r in rows:
        by_bin.setdefault(r.bin, []).append(r)
    for binned in by_bin.values():
        binned.sort(key=lambda r: r.doc_id)
        # next-fit guarantee: everything except the bin's last doc fits
        assert sum(r.n_tokens for r in binned[:-1]) <= budget

    # bin ids are dense (0..max) within each shard
    shards: dict[int, set] = {}
    for r in rows:
        shards.setdefault(r.shard, set()).add(r.bin_id)
    for bin_ids in shards.values():
        assert bin_ids == set(range(max(bin_ids) + 1))


def test_decontaminate_sound_and_complete(spark, sf_dir):
    d = docs(spark, sf_dir)
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    kept = {r.doc_id for r in curation.decontaminate(d, eval_df).collect()}

    fp = {r.doc_id: r.fingerprint for r in curation.content_fingerprint(d).collect()}
    eval_fps = {f for i, f in fp.items() if i % 97 == 0}
    expected = {i for i, f in fp.items() if f not in eval_fps}
    assert kept == expected


def test_salted_join_matches_plain_join(spark, sf_dir):
    from kafka_cdc_redshift_spark.operators.skew import salted_join
    from kafka_cdc_redshift_spark.sources import load_table
    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events")
    # synthesize a skewed key: 80% of rows map to key 0
    left = ev.select(
        "event_id",
        F.when(F.pmod("event_id", F.lit(10)) < 8, 0)
        .otherwise(F.pmod("event_id", F.lit(10)))
        .cast("int")
        .alias("k"),
        "value",
    )
    right = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(10)], ["k", "label"]
    )
    plain = left.join(right, "k").select("event_id", "k", "label")
    salted = salted_join(left, right, ["k"]).select("event_id", "k", "label")
    assert sorted(plain.collect()) == sorted(salted.collect())

    plain_l = left.join(right.filter("k < 5"), "k", "left").select(
        "event_id", "k", "label"
    )
    salted_l = salted_join(left, right.filter("k < 5"), ["k"], how="left").select(
        "event_id", "k", "label"
    )
    assert sorted(plain_l.collect()) == sorted(salted_l.collect())


def test_jaccard_stop_shingle_cut_preserves_recall(spark, sf_dir):
    """The default stop-shingle df cut (jaccard_pairs max_df) bounds the
    quadratic pair blowup at scale; on the synthetic corpus it must not
    change WHICH pairs are found — near-dup overlap does not ride on
    corpus-hot shingles."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import dedup_text

    sets_ = dedup_text.shingle_sketches(docs(spark, sf_dir))
    exact = {(r.doc_a, r.doc_b)
             for r in dedup_text.jaccard_pairs(sets_, max_df=None).collect()}
    assert exact  # corpus contains synthetic near-dups

    default = {(r.doc_a, r.doc_b)
               for r in dedup_text.jaccard_pairs(sets_).collect()}
    assert default == exact

    # an aggressive cut that provably DROPS shingles still finds every pair
    df_counts = (
        sets_.select(F.explode("sh_set").alias("sh"))
        .groupBy("sh").count()
    )
    n_cut = df_counts.filter(F.col("count") > 8).count()
    assert n_cut > 0, "test corpus has no shingle with df > 8; pick a lower cut"
    active = {(r.doc_a, r.doc_b)
              for r in dedup_text.jaccard_pairs(sets_, max_df=8).collect()}
    assert active == exact


def test_chunk_documents_covers_every_token_with_overlap(spark, sf_dir):
    """Partition properties of the chunker: concatenating each doc's chunks
    at stride offsets reconstructs the token sequence exactly (full
    coverage, correct overlap), chunk indexes are dense, and only the last
    chunk may be short."""
    from kafka_cdc_redshift_spark.functions.curation import chunk_documents

    d = docs(spark, sf_dir).limit(100)
    chunk_tokens, stride = 16, 10
    out = chunk_documents(
        d, chunk_tokens=chunk_tokens, stride=stride
    ).collect()
    originals = {
        r.doc_id: r.text.strip().lower().split()
        for r in d.collect()
    }
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    assert set(by_doc) == {k for k, v in originals.items() if v}
    for doc_id, chunks in by_doc.items():
        toks = originals[doc_id]
        assert sorted(chunks) == list(range(len(chunks)))  # dense indexes
        for idx, r in chunks.items():
            start = idx * stride
            expect = toks[start:start + chunk_tokens]
            assert r.chunk_text.split() == expect, (doc_id, idx)
            assert r.n_chunk_tokens == len(expect)
            if idx < len(chunks) - 1:
                assert r.n_chunk_tokens == chunk_tokens  # only last is short
        # last chunk reaches the end of the doc
        last = chunks[len(chunks) - 1]
        assert (len(chunks) - 1) * stride + last.n_chunk_tokens == len(toks)


# ---------------------------------------------------------------------------
# round-3 late additions: budget_mix / chunk_dedup / contamination_score /
# semantic_dedup invariants beyond the oracle equality checks
# ---------------------------------------------------------------------------

def test_budget_mix_respects_budget_and_keeps_first(spark, sf_dir):
    d = docs(spark, sf_dir)
    out = curation.budget_mix(d, base_budget=300).collect()
    per_src: dict[str, int] = {}
    for r in out:
        per_src[r.source] = per_src.get(r.source, 0) + r.n_tokens
    n_docs = {r.source: 0 for r in out}
    for r in out:
        n_docs[r.source] += 1
    max_doc = max(r.n_tokens for r in out)
    for src, total in per_src.items():
        # greedy fill: the PRE-doc running total is under budget, so the
        # overshoot is bounded by one document
        assert total < 300 + max_doc
        assert n_docs[src] >= 1  # the first doc always survives
    # deterministic membership
    again = {(r.doc_id) for r in curation.budget_mix(d, base_budget=300).collect()}
    assert {r.doc_id for r in out} == again

    # a boosted source keeps at least as many tokens as unboosted
    boosted = curation.budget_mix(d, base_budget=300, boosts={"src0": 900}).collect()
    b_src0 = sum(r.n_tokens for r in boosted if r.source == "src0")
    assert b_src0 >= per_src.get("src0", 0)


def test_chunk_dedup_flags_verbatim_copies(spark):
    rows = [
        (1, " ".join(f"w{i}" for i in range(200))),          # original
        (2, " ".join(f"w{i}" for i in range(200))),          # full copy
        (3, " ".join(f"x{i}" for i in range(200))),          # unique
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in curation.chunk_dedup(d).collect()}
    assert out[1].n_kept == out[1].n_chunks          # first occurrence keeps all
    assert out[2].n_kept == 0                        # verbatim copy keeps none
    assert out[3].n_kept == out[3].n_chunks          # unique doc untouched


def test_contamination_score_bounds_and_eval_self_hit(spark, sf_dir):
    d = docs(spark, sf_dir)
    ev = d.filter(F.col("doc_id") % 97 == 0)
    out = curation.contamination_score(
        curation.doc_shingle_hashes(d), curation.eval_shingle_hashes(ev)
    ).collect()
    eval_ids = {r.doc_id for r in ev.select("doc_id").collect()}
    for r in out:
        assert 0 <= r.n_matched <= r.n_shingles
        assert abs(r.contamination - r.n_matched / r.n_shingles) < 1e-12
        if r.doc_id in eval_ids:
            # an eval doc's shingles are all in the eval set by construction
            assert r.contamination == 1.0


def test_semantic_dedup_keeps_cell_minimum(spark, sf_dir):
    from kafka_cdc_redshift_spark.functions.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    out = semantic_dedup(emb, cent, threshold=0.3).collect()
    assert len(out) == emb.count()  # every vector classified exactly once
    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, rows in by_cell.items():
        lowest = min(rows, key=lambda r: r.vec_id)
        # the greedy keep-lowest-id rule can never mark a cell's lowest id
        # as duplicate (no lower-id neighbor exists in the cell)
        assert not lowest.is_dup


def test_budget_mix_prune_equals_single_window(spark, sf_dir):
    """The scale path (per-(stratum, partition) budget prefix, then the
    global stratum window over the remnant) must select the EXACT same
    rows as the single-window path, for any input partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    want = sorted(
        (r.doc_id, r.source, r.n_tokens)
        for r in curation.budget_mix(
            docs, base_budget=300, boosts={"src0": 900},
            prepartition_prune=False,
        ).collect()
    )
    for nparts in (1, 3, 16):
        got = sorted(
            (r.doc_id, r.source, r.n_tokens)
            for r in curation.budget_mix(
                docs.repartition(nparts), base_budget=300,
                boosts={"src0": 900},
            ).collect()
        )
        assert got == want, f"nparts={nparts}"


def test_sample_k_prune_equals_single_window(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    want = sorted(
        (r.doc_id, r.source)
        for r in curation.sample_k_per_stratum(
            docs, 7, prepartition_prune=False
        ).select("doc_id", "source").collect()
    )
    for nparts in (1, 3, 16):
        got = sorted(
            (r.doc_id, r.source)
            for r in curation.sample_k_per_stratum(
                docs.repartition(nparts), 7
            ).select("doc_id", "source").collect()
        )
        assert got == want, f"nparts={nparts}"
    # exactly k where the stratum is big enough
    sizes = {r.source: r.n for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    got_sizes = {r.source: r.n for r in curation.sample_k_per_stratum(docs, 7)
                 .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for s, n in sizes.items():
        assert got_sizes.get(s, 0) == min(7, n)


def test_sample_k_duplicate_ids(spark):
    """ADVICE-low regression: duplicate (stratum, id) rows. The scale
    path samples k DISTINCT ids and returns every copy of each (set
    semantics), and a duplicated low-ranked id must never push a genuine
    winner past the local prune cut (dense_rank, not row_number)."""
    # stratum s: ids 1..10, with id 1 present 8 times (a hot duplicate)
    rows = [("s", 1, f"copy{j}") for j in range(8)]
    rows += [("s", i, "x") for i in range(2, 11)]
    df = spark.createDataFrame(rows, "source string, doc_id long, payload string")
    for nparts in (1, 2, 8):
        got = curation.sample_k_per_stratum(
            df.repartition(nparts), 5, strata_col="source", id_col="doc_id"
        ).collect()
        ids = {r.doc_id for r in got}
        assert len(ids) == 5, f"nparts={nparts}: {sorted(ids)}"
        # the sampled distinct-id set equals the single-window set over
        # DEDUPLICATED input (the well-defined reference semantics)
        want = {
            r.doc_id
            for r in curation.sample_k_per_stratum(
                df.dropDuplicates(["source", "doc_id"]), 5,
                strata_col="source", id_col="doc_id",
                prepartition_prune=False,
            ).collect()
        }
        assert ids == want
        # every copy of a sampled id comes back
        if 1 in ids:
            assert sum(1 for r in got if r.doc_id == 1) == 8


def test_stratum_selection_scale_plan_shapes(spark, sf_dir):
    """Plan guards for the 100 TB shape: the pre-prune stage is present
    (spark_partition_id feeds the first window) and sample_k's winners
    return via a broadcast semi-join — full rows never hash-shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    mix_plan = curation.budget_mix(docs, base_budget=300)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "SPARK_PARTITION_ID" in mix_plan.upper()
    assert mix_plan.count("Window") >= 2

    sk = curation.sample_k_per_stratum(docs, 7)
    sk_plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "SPARK_PARTITION_ID" in sk_plan.upper()
    assert "BroadcastHashJoin" in sk_plan and "LeftSemi" in sk_plan


def test_incremental_lsh_bucketed_index_no_index_shuffle(spark, sf_dir, tmp_path):
    """The 100 TB contract of minhash_lsh_incremental: with the standing
    corpus's band index STORED bucketed on the join keys (band, bkey),
    an ingest batch joins it with NO exchange on the index side — only
    the batch's own (tiny) band relation moves. Also pins result
    equality between the stored-index path and the recompute path."""
    from kafka_cdc_redshift_spark.functions import dedup_text

    docs = load_table(spark, sf_dir, "documents")
    new = dedup_text.shingle_sketches(docs.filter(F.col("doc_id") % 10 == 0))
    corpus = dedup_text.shingle_sketches(docs.filter(F.col("doc_id") % 10 != 0))

    idx = dedup_text.lsh_band_index(corpus)
    name = "lsh_idx_bucketed_test"
    (
        idx.write.mode("overwrite")
        .option("path", str(tmp_path / "lsh_idx"))
        .bucketBy(8, "band", "bkey")
        .saveAsTable(name, format="parquet")
    )
    try:
        stored = spark.table(name)
        got = dedup_text.minhash_lsh_incremental(new, stored, corpus)
        want = dedup_text.minhash_lsh_incremental(new, idx, corpus)
        key = lambda r: (r.doc_new, r.doc_old, round(r.jaccard, 9))  # noqa: E731
        assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))

        # plan shape, small-batch regime: Spark (rightly) broadcasts the
        # batch's band relation — the index side scans in place with no
        # exchange at all
        cand = (
            dedup_text.lsh_band_index(new).alias("a")
            .join(stored.alias("b"), ["band", "bkey"])
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        scan_part = plan[plan.index(name):] if name in plan else ""
        assert scan_part and "Exchange" not in scan_part, plan

        # plan shape, at-scale regime (batch too big to broadcast,
        # emulated by disabling auto-broadcast): the bucketed index scan
        # engages and STILL joins without an exchange on the index side —
        # only the batch's bands shuffle to the index's bucketing
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            # rebuild: a DataFrame caches its QueryExecution, so the plan
            # must be re-derived under the new conf
            cand2 = (
                dedup_text.lsh_band_index(new).alias("a")
                .join(spark.table(name).alias("b"), ["band", "bkey"])
            )
            plan2 = cand2._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        scan_part2 = plan2[plan2.index(name):] if name in plan2 else ""
        assert "Bucketed: true" in scan_part2, plan2
        assert "Exchange" not in scan_part2, plan2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_lsh_hot_bucket_cap_recall_and_degenerate(spark, sf_dir):
    """max_bucket is the LSH analog of the jaccard stop-shingle cut: a
    generous cap must not change the pair set on this corpus (no bucket
    is hot at test SF), and a degenerate cap of 1 kills every candidate."""
    from kafka_cdc_redshift_spark.functions import dedup_text

    sets_ = dedup_text.shingle_sketches(load_table(spark, sf_dir, "documents"))
    key = lambda r: (r.doc_a, r.doc_b, round(r.jaccard, 9))  # noqa: E731
    base = sorted(map(key, dedup_text.minhash_lsh_pairs(sets_).collect()))
    capped = sorted(map(key, dedup_text.minhash_lsh_pairs(
        sets_, max_bucket=1000).collect()))
    assert capped == base and base  # generous cap: pair set unchanged
    assert dedup_text.minhash_lsh_pairs(sets_, max_bucket=1).count() == 0


def test_pq_trained_codebooks(spark, sf_dir):
    """PQ serving pipeline with per-subspace k-means codebooks (the
    production trainer): (1) every vector encodes to exactly n_sub codes
    within codebook range; (2) the ADC shortlist->exact-rerank top-3
    captures a solid majority of the exact L2 top-3 even on this
    worst-case corpus (isotropic random vectors — no cluster structure
    for the quantizer to exploit); (3) re-ranked distances are exact,
    i.e. equal to the brute-force distance for the same pair."""
    from functools import reduce

    from pyspark.sql import Window

    from kafka_cdc_redshift_spark.functions import clustering
    from kafka_cdc_redshift_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    n_sub, sub = 8, 8
    parts = []
    for s in range(n_sub):
        sl = emb.select(
            "vec_id", F.slice(F.col("embedding"), s * sub + 1, sub).alias("embedding")
        )
        parts.append(
            clustering.kmeans_centroids(sl, k=16, iters=2).select(
                F.lit(s).alias("sub"),
                F.col("cent_id").alias("code"),
                F.col("c_emb").alias("cvec"),
            )
        )
    cb = reduce(lambda a, b: a.unionByName(b), parts)
    codes = S.pq_encode(emb, cb, n_sub=n_sub)
    enc = codes.collect()
    assert all(len(r["codes"]) == n_sub for r in enc)
    assert all(0 <= c < 16 for r in enc for c in r["codes"])
    assert len(enc) == emb.count()

    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    got = S.pq_shortlist_rerank(codes, emb, q, cb, k=3, shortlist=100)
    pairs = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))
    l2 = S._sq_l2(S._dbl(F.col("embedding")), S._dbl(F.col("q_emb")))
    w = Window.partitionBy("q_id").orderBy("l2_dist", "en")
    exact = (
        pairs.select("q_id", F.col("vec_id").alias("en"), l2.alias("l2_dist"))
        .withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
    )
    ex = {(r["q_id"], r["en"]): r["l2_dist"] for r in exact.collect()}
    got_rows = {(r["q_id"], r["neighbor_id"]): r["l2_dist"] for r in got.collect()}
    hits = set(got_rows) & set(ex)
    assert len(hits) >= len(ex) // 2, (len(hits), len(ex))
    for pair in hits:  # re-ranked distance IS the exact distance
        assert got_rows[pair] == ex[pair]


def test_dsir_weights_separates_target_like_docs(spark):
    """Docs sharing the target's bigram distribution must out-weight
    docs from a disjoint vocabulary, and the weight must be the
    hand-computed smoothed likelihood ratio for a 1-bucket-per-doc
    corpus shape."""
    from kafka_cdc_redshift_spark.functions import curation

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta alpha beta") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "beta gamma delta alpha"),
         (2, "zig zag zog zug"), (3, "zag zog zug zig")],
        "doc_id long, text string",
    )
    w = {
        r["doc_id"]: r["weight"]
        for r in curation.dsir_weights(raw, target, n_buckets=16).collect()
    }
    assert set(w) == {0, 1, 2, 3}
    assert min(w[0], w[1]) > max(w[2], w[3])


def test_dsir_weights_plan_no_python_no_window(spark):
    from kafka_cdc_redshift_spark.functions import curation

    docs = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(8)], "doc_id long, text string"
    )
    df = curation.dsir_weights(docs, docs.limit(2), n_buckets=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


def test_importance_resample_deterministic_and_proportional(spark):
    """Selection is a deterministic function of (id, weight, rate):
    reruns agree exactly; higher weights keep more docs; rate=0 keeps
    nothing and a huge rate keeps everything (u < 1 always)."""
    from kafka_cdc_redshift_spark.functions import curation

    w = spark.createDataFrame(
        [(i, 0.25 if i % 2 else 1.5) for i in range(200)],
        "doc_id long, weight double",
    )
    kept1 = {r["doc_id"] for r in curation.importance_resample(w, rate=0.5).collect()}
    kept2 = {r["doc_id"] for r in curation.importance_resample(w, rate=0.5).collect()}
    assert kept1 == kept2
    hi = sum(1 for d in kept1 if d % 2 == 0) / 100  # weight 1.5 -> p = .75
    lo = sum(1 for d in kept1 if d % 2 == 1) / 100  # weight .25 -> p = .125
    assert hi > lo
    assert 0.5 < hi <= 1.0 and 0.0 < lo < 0.35
    assert curation.importance_resample(w, rate=0.0).count() == 0
    assert curation.importance_resample(w, rate=100.0).count() == 200


def test_containment_pairs_catches_embedded_doc(spark):
    """A short document embedded verbatim in a long one: Jaccard stays
    below any useful threshold (union dominated by the long doc) but
    containment on the short side is ~1 — the asymmetric near-dup case
    jaccard_pairs structurally misses."""
    from kafka_cdc_redshift_spark.functions import dedup_text

    short = "alpha beta gamma delta epsilon zeta"
    long_ = (
        "one two three four five six seven eight nine ten eleven twelve "
        + short
        + " thirteen fourteen fifteen sixteen seventeen eighteen nineteen"
    )
    sets_ = dedup_text.shingle_sketches(spark.createDataFrame(
        [(1, short), (2, long_), (3, "unrelated words entirely different here")],
        "doc_id long, text string",
    ))
    got = {(r.doc_a, r.doc_b): r
           for r in dedup_text.containment_pairs(sets_, threshold=0.8).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.containment_a == 1.0          # every shingle of 1 is in 2
    assert r.containment_b < 0.5           # but 2 is mostly NOT 1
    assert r.jaccard < 0.5                 # jaccard would have missed it
    # and jaccard_pairs at its default threshold indeed reports nothing
    assert dedup_text.jaccard_pairs(sets_, threshold=0.5).count() == 0


def test_temperature_mix_flattens_sources(spark):
    """alpha=0.5 mixing: weights sum to 1, small sources are boosted
    above their natural rate, large ones damped — and the exact values
    replay sqrt(n)/sum(sqrt(n)) in sorted-source fold order."""
    import math

    from kafka_cdc_redshift_spark.functions import curation

    rows = [(i, "x", "big") for i in range(90)] + [
        (100 + i, "x", "small") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in curation.temperature_mix(docs).collect()}
    z = math.sqrt(90.0) + math.sqrt(10.0)  # 'big' < 'small' sort order
    assert got["big"].weight == math.sqrt(90.0) / z
    assert got["small"].weight == math.sqrt(10.0) / z
    assert abs(got["big"].weight + got["small"].weight - 1.0) < 1e-12
    assert got["small"].boost > 1.0 > got["big"].boost
    assert got["big"].p == 0.9 and got["small"].p == 0.1

"""BM25 retrieval: semantics, determinism contract, plan hygiene."""

import math

import pytest
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.functions import retrieval


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "spark shuffles data between stages"),
        (1, "broadcast joins avoid the shuffle entirely"),
        (2, "shuffle shuffle shuffle partitions everywhere"),
        (3, "catalyst optimizes the logical plan"),
        (4, "a tiny doc"),
        (5, "broadcast broadcast broadcast broadcast broadcast plan"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _topk(spark, corpus, q_text, **kw):
    q = spark.createDataFrame([(0, q_text)], "q_id int, q_text string")
    return retrieval.bm25_topk(corpus, q, **kw)


def test_bm25_matches_handrolled_score(spark, corpus):
    """Single-term query: score must equal the BM25 formula computed
    by hand from exact counts, and ranking must follow tf saturation
    (doc 2 with tf=3 beats doc 0 with tf=1) with length normalization."""
    got = {
        r["doc_id"]: r
        for r in _topk(spark, corpus, "shuffle", k=10).collect()
    }
    # corpus facts: N=6, docs with 'shuffle': {0? no - 'shuffles'} ->
    # doc 1 (tf=1, dl=6), doc 2 (tf=3, dl=5); sum_dl = 5+6+5+5+3+6 = 30
    n_docs, sum_dl, df = 6, 30, 2
    avgdl = sum_dl / n_docs
    idf = (n_docs - df + 0.5) / (df + 0.5)

    def sat(tf, dl):
        return (2.2 * tf) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))

    assert set(got) == {1, 2}
    assert got[2]["rnk"] == 1 and got[1]["rnk"] == 2
    assert got[2]["score"] == pytest.approx(idf * sat(3, 5), abs=0, rel=1e-15)
    assert got[1]["score"] == pytest.approx(idf * sat(1, 6), abs=0, rel=1e-15)
    assert got[2]["n_terms"] == 1


def test_bm25_multi_term_and_tiebreak(spark, corpus):
    """Multi-term scores are the sum of per-term scores; n_terms counts
    matched DISTINCT query terms; k truncates per query."""
    multi = {
        r["doc_id"]: r
        for r in _topk(spark, corpus, "shuffle plan", k=10).collect()
    }
    single_sh = {
        r["doc_id"]: r["score"]
        for r in _topk(spark, corpus, "shuffle", k=10).collect()
    }
    single_pl = {
        r["doc_id"]: r["score"]
        for r in _topk(spark, corpus, "plan", k=10).collect()
    }
    assert set(multi) == {1, 2, 3, 5}
    for d, row in multi.items():
        expect = single_sh.get(d, 0.0) + single_pl.get(d, 0.0)
        assert row["score"] == pytest.approx(expect, rel=1e-15)
        # 'shuffle' matches {1, 2}, 'plan' matches {3, 5} — disjoint,
        # so every survivor matched exactly one distinct query term
        assert row["n_terms"] == 1
    ks = _topk(spark, corpus, "shuffle plan", k=2).collect()
    assert len(ks) == 2 and [r["rnk"] for r in sorted(ks, key=lambda r: r["rnk"])] == [1, 2]


def test_bm25_lucene_idf_is_log_of_raw(spark, corpus):
    """idf_mode='lucene' applies ln(1 + raw_idf) per term — for a
    single-term query every doc's score is the raw-mode score rescaled
    by the same factor, so the ranking is identical."""
    raw = {r["doc_id"]: r for r in _topk(spark, corpus, "broadcast", k=10).collect()}
    ln = {
        r["doc_id"]: r
        for r in _topk(
            spark, corpus, "broadcast", k=10, idf_mode="lucene"
        ).collect()
    }
    assert set(raw) == set(ln)
    n_docs, df = 6, 2
    raw_idf = (n_docs - df + 0.5) / (df + 0.5)
    factor = math.log(1.0 + raw_idf) / raw_idf
    for d in raw:
        assert ln[d]["score"] == pytest.approx(raw[d]["score"] * factor, rel=1e-12)
        assert ln[d]["rnk"] == raw[d]["rnk"]


def test_bm25_unknown_idf_mode_rejected(spark, corpus):
    with pytest.raises(ValueError, match="idf_mode"):
        _topk(spark, corpus, "x", idf_mode="bm25plus")


def test_bm25_plan_no_python_and_broadcast_pruning(spark, corpus):
    """The corpus side must stay JVM-native, and the query-term joins
    must be broadcast (the corpus is pruned before scoring, never
    shuffled on the term key for the join)."""
    df = _topk(spark, corpus, "shuffle plan", k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_single_postings_census(spark, corpus):
    """r12/r13 optimization pin: the (doc, term) postings census — the
    corpus explode + shuffle that dominates BM25 — must compute ONCE.
    Since r13 the pruned postings are localCheckpoint'ed (the census runs
    once, into the checkpoint job) and df is a partial-agg groupBy
    broadcast back, so the FINAL plan shows NO corpus tokenize explode at
    all and NO per-term window over the postings (the r12 window-df shape
    had corpus-bounded skew: all df(term) rows of one hot term in one
    window partition). The corpus constants still come from the one docs
    scan (corpus_stats_docs)."""
    df = _topk(spark, corpus, "shuffle plan", k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the census lineage lives in the checkpoint, not the final plan; a
    # regression back to an in-plan census (once or twice) shows up here
    assert plan.count("explode(split(trim(lower(text") == 0
    # the checkpointed pruned postings feed both the df aggregation and
    # the scorer as plain RDD scans
    assert "Scan ExistingRDD" in plan
    # no skew-prone per-term window over postings: the only window is the
    # per-query rank (partitioned by q_id)
    assert "windowspecdefinition(term" not in plan


def test_corpus_stats_docs_equals_census_derivation(spark):
    """corpus_stats_docs must reproduce corpus_stats(term_freqs(docs))
    exactly — including null text (absent from the postings), empty text
    (one empty-string token after split), and duplicate doc ids (counted
    once)."""
    df = spark.createDataFrame(
        [(1, "a b a"), (2, None), (3, ""), (4, "x y"), (4, "y z")],
        "doc_id long, text string",
    )
    a = retrieval.corpus_stats(retrieval.term_freqs(df)).collect()[0]
    b = retrieval.corpus_stats_docs(df).collect()[0]
    assert (a.n_docs, a.sum_dl) == (b.n_docs, b.sum_dl) == (3, 6)


# ---------------------------------------------------------------------------
# Streaming index (streaming/retrieval_ingest.RetrievalIngest)
# ---------------------------------------------------------------------------

def _score_key(r):
    return (r.q_id, r.doc_id, r.n_terms, r.score, r.rnk)


@pytest.fixture(scope="module")
def sf_docs(spark, sf_dir):
    from kafka_cdc_redshift_spark.sources import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def sf_queries(spark):
    return spark.createDataFrame(
        [(0, "hash join"), (1, "window agg stream")],
        "q_id int, q_text string",
    )


def test_streamed_index_equals_batch_bm25(spark, sf_docs, sf_queries, tmp_path):
    """Batch-by-batch ingest then serve == one-shot bm25_topk over the
    concatenated corpus, EXACTLY (same relations, same scoring path)."""
    from kafka_cdc_redshift_spark.streaming.retrieval_ingest import RetrievalIngest
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    ing = RetrievalIngest(AppendLog(str(tmp_path / "state")), name="docs")
    for b in range(3):
        ing.process_batch(sf_docs.filter(F.col("doc_id") % 3 == b), b)
    got = sorted(map(_score_key, ing.topk(sf_queries, k=10).collect()))
    want = sorted(
        map(_score_key, retrieval.bm25_topk(sf_docs, sf_queries, k=10).collect())
    )
    assert got == want and len(want) == 20


def test_streamed_index_replay_is_noop(spark, sf_docs, sf_queries, tmp_path):
    from kafka_cdc_redshift_spark.streaming.retrieval_ingest import RetrievalIngest
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    ing = RetrievalIngest(AppendLog(str(tmp_path / "state")), name="docs")
    ing.process_batch(sf_docs.filter(F.col("doc_id") % 3 == 0), 0)
    before = sorted(map(_score_key, ing.topk(sf_queries, k=5).collect()))
    n_postings = ing.postings(spark).count()
    # at-least-once redelivery, possibly with a perturbed batch plan
    ing.process_batch(sf_docs.filter(F.col("doc_id") % 3 == 0).limit(3), 0)
    assert ing.postings(spark).count() == n_postings
    assert sorted(map(_score_key, ing.topk(sf_queries, k=5).collect())) == before


def test_streamed_index_empty_raises(spark, sf_queries, tmp_path):
    from kafka_cdc_redshift_spark.streaming.retrieval_ingest import RetrievalIngest
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    ing = RetrievalIngest(AppendLog(str(tmp_path / "state")), name="docs")
    with pytest.raises(ValueError, match="no ingested batches"):
        ing.topk(sf_queries)


def test_e2e_cdc_stream_bm25_ingest(spark, sf_dir, tmp_path, sf_queries):
    """Per-rule bm25_ingest flag on a real file-backed stream: the index
    built by the CDC shell serves the same top-k as batch bm25_topk."""
    from kafka_cdc_redshift_spark.config import SyncRule
    from kafka_cdc_redshift_spark.sources import load_table
    from kafka_cdc_redshift_spark.streaming import (
        CdcBatchProcessor,
        ParquetTargetStore,
        run_file_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    env = docs.select(
        F.to_json(
            F.struct(
                F.lit(None).cast("string").alias("before"),
                F.struct("doc_id", "text", "lang", "source", "n_chars").alias("after"),
                F.struct(
                    F.lit("corpus").alias("db"),
                    F.lit("documents").alias("table"),
                    (F.col("doc_id") + 1000).alias("ts_ms"),
                ).alias("source"),
                F.lit("c").alias("op"),
                (F.col("doc_id") + 1000).alias("ts_ms"),
            )
        ).alias("value"),
        (F.col("doc_id") % 2).alias("half"),
    )
    src = tmp_path / "topic"
    src.mkdir()
    for half in (0, 1):
        with open(src / f"b{half}.json", "w") as f:
            rows = env.filter(F.col("half") == half).select("value").collect()
            f.write("\n".join(r.value for r in rows) + "\n")

    store = ParquetTargetStore(str(tmp_path / "store"))
    rules = [
        SyncRule(
            db="corpus", table="documents", primary_key=("doc_id",),
            bm25_ingest=True,
        )
    ]
    proc = CdcBatchProcessor(
        spark, rules, store, payload_schemas={"documents": docs.schema},
    )
    q = run_file_stream(
        spark, str(src), proc, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(180)

    ing = proc._ingestor(rules[0], "bm25_ingest")
    got = sorted(map(_score_key, ing.topk(sf_queries, k=10).collect()))
    want = sorted(
        map(
            _score_key,
            retrieval.bm25_topk(
                docs.select("doc_id", "text"), sf_queries, k=10
            ).collect(),
        )
    )
    assert got == want and want
    # the index rides alongside the normal merge, it doesn't replace it
    assert store.read(spark, "documents").count() == docs.count()


# ---------------------------------------------------------------------------
# phrase_match
# ---------------------------------------------------------------------------

def test_phrase_match_semantics(spark):
    """Counts every start position, handles repeated-term phrases
    exactly, misses non-adjacent and reordered term pairs."""
    docs = spark.createDataFrame(
        [
            (0, "hash join beats sort merge join"),
            (1, "join hash is not hash join order"),
            (2, "hash then a join far apart"),
            (3, "the the the"),
            (4, "hash join hash join"),
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(0, "hash join"), (1, "the the"), (2, "join hash")],
        "phrase_id int, phrase string",
    )
    got = {
        (r["phrase_id"], r["doc_id"]): r["n_occurrences"]
        for r in retrieval.phrase_match(docs, phrases).collect()
    }
    assert got == {
        (0, 0): 1,   # one adjacent occurrence
        (0, 1): 1,   # "not hash join order" -> one; leading "join hash" no
        (0, 4): 2,   # two occurrences
        (1, 3): 2,   # "the the the" contains "the the" at starts 0 and 1
        (2, 1): 1,   # reversed phrase matches doc 1's opening only
        (2, 4): 1,   # "... join hash ..." interior occurrence
    }
    # doc 2 never matches: terms present but not adjacent


def test_phrase_match_plan_broadcast_pruned(spark):
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(8)], "doc_id long, text string"
    )
    phrases = spark.createDataFrame([(0, "a b")], "phrase_id int, phrase string")
    df = retrieval.phrase_match(docs, phrases)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------

def test_rrf_fuse_hand_values_and_union_semantics(spark):
    """rrf = sum over contributing sources of 1/(c + rank); docs in one
    source only still fuse; ties break on doc_id; k truncates."""
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "q_id int, doc_id int, rnk int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)], "q_id int, doc_id int, rnk int"
    )
    got = {
        r["doc_id"]: r for r in retrieval.rrf_fuse([a, b], k=10, c=60).collect()
    }
    assert got[11]["rrf"] == (0.0 + 1.0 / 62.0) + 1.0 / 61.0  # both sources
    assert got[10]["rrf"] == 1.0 / 61.0  # a only
    assert got[13]["rrf"] == 1.0 / 62.0  # b only
    assert got[11]["rnk"] == 1  # consensus doc wins
    assert got[11]["r0"] == 2 and got[11]["r1"] == 1
    assert got[13]["r0"] is None
    # equal-rrf tie (10 from a, 13 from b at 1/61 vs 1/62): check order
    order = sorted(got.values(), key=lambda r: r["rnk"])
    assert [r["doc_id"] for r in order] == [11, 10, 12, 13] or [
        r["doc_id"] for r in order
    ] == [11, 10, 13, 12]
    assert retrieval.rrf_fuse([a, b], k=2).count() == 2
    import pytest as _pt

    with _pt.raises(ValueError, match="at least one"):
        retrieval.rrf_fuse([])


def test_streamed_index_compaction_preserves_serving(spark, sf_docs, sf_queries, tmp_path):
    """Segment-merging the postings mid-stream changes nothing the
    server can see: top-k identical, replays still skipped."""
    from kafka_cdc_redshift_spark.streaming.retrieval_ingest import RetrievalIngest
    from kafka_cdc_redshift_spark.streaming.store import AppendLog

    ing = RetrievalIngest(AppendLog(str(tmp_path / "state")), name="docs")
    for b in range(3):
        ing.process_batch(sf_docs.filter(F.col("doc_id") % 3 == b), b)
    before = sorted(map(_score_key, ing.topk(sf_queries, k=10).collect()))
    ing.compact_state(spark, min_segments=2)
    assert len(ing.log.segments(ing.tf_table)) == 1
    assert sorted(map(_score_key, ing.topk(sf_queries, k=10).collect())) == before
    n = ing.postings(spark).count()
    ing.process_batch(sf_docs.filter(F.col("doc_id") % 3 == 1), 1)  # replay
    assert ing.postings(spark).count() == n


def test_hybrid_ann_fusion_recall_floor(spark, sf_dir):
    """The ANN-shortlist hybrid (sim_hybrid_rrf_ann: BM25 + PQ
    shortlist/re-rank fused by RRF) must recall most of what the exact
    dense hybrid (sim_hybrid_rrf) returns — the recall audit pattern
    (sim_ivf_recall), since PQ ranks are approximate by design while the
    fusion operator itself is rank-agnostic."""
    from kafka_cdc_redshift_spark.plans import SPECS

    exact = {
        (r.q_id, r.doc_id)
        for r in SPECS["sim_hybrid_rrf"].spark(spark, sf_dir).collect()
    }
    ann = {
        (r.q_id, r.doc_id)
        for r in SPECS["sim_hybrid_rrf_ann"].spark(spark, sf_dir).collect()
    }
    assert exact and ann
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.5, f"hybrid ANN recall {recall:.2f} below floor"


def test_ranking_metrics_edges(spark):
    """recall@k / MRR contract: ratios of exact integers, judged-but-
    unretrieved queries score 0.0 (right-anchored on qrels), hits
    outside the top k don't count, MRR uses the FIRST relevant rank."""
    from kafka_cdc_redshift_spark.functions.retrieval import ranking_metrics

    ranking = spark.createDataFrame(
        # q0: relevant at ranks 2 and 3; q1: relevant only at rank 11
        # (outside k=10); q2 never retrieved anything relevant
        [(0, 10, 1), (0, 11, 2), (0, 12, 3),
         (1, 20, 1), (1, 21, 11),
         (2, 30, 1)],
        "q_id long, doc_id long, rnk int",
    )
    qrels = spark.createDataFrame(
        [(0, 11), (0, 12), (0, 99),   # 3 judged, 2 hit
         (1, 21),                     # 1 judged, hit outside k
         (2, 77), (2, 78)],           # 2 judged, 0 hit
        "q_id long, doc_id long",
    )
    rows = {r.q_id: r for r in
            ranking_metrics(ranking, qrels, k=10).collect()}
    assert rows[0].n_rel == 3 and rows[0].n_hits == 2
    assert rows[0].recall_at_k == 2 / 3 and rows[0].mrr == 0.5
    assert rows[1].n_hits == 0 and rows[1].mrr == 0.0
    assert rows[2].n_hits == 0 and rows[2].recall_at_k == 0.0
    assert set(rows) == {0, 1, 2}


def test_shell_migrate_bm25_positions_config_flip(spark, sf_dir, tmp_path):
    """The config-flip workflow through the CDC shell: stream with
    bm25_positions=false, restart with the flag flipped (the next batch
    would refuse), run migrate_bm25_positions — the shell rebuilds from
    the live TARGET TABLE it already publishes — and phrase serving
    plus continued positional ingest both work."""
    import pytest

    from kafka_cdc_redshift_spark.config import SyncRule
    from kafka_cdc_redshift_spark.sources import load_table
    from kafka_cdc_redshift_spark.streaming import (
        CdcBatchProcessor,
        ParquetTargetStore,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 30
    )

    def env_batch(df, op="c"):
        return df.select(
            F.to_json(
                F.struct(
                    F.lit(None).cast("string").alias("before"),
                    F.struct(
                        "doc_id", "text", "lang", "source", "n_chars"
                    ).alias("after"),
                    F.struct(
                        F.lit("corpus").alias("db"),
                        F.lit("documents").alias("table"),
                        (F.col("doc_id") + 1000).alias("ts_ms"),
                    ).alias("source"),
                    F.lit(op).alias("op"),
                    (F.col("doc_id") + 1000).alias("ts_ms"),
                )
            ).alias("value")
        )

    store = ParquetTargetStore(str(tmp_path / "store"))
    flat_rule = SyncRule(
        db="corpus", table="documents", primary_key=("doc_id",),
        bm25_ingest=True,
    )
    proc = CdcBatchProcessor(
        spark, [flat_rule], store, payload_schemas={"documents": docs.schema}
    )
    proc.process_batch(env_batch(docs.filter(F.col("doc_id") % 2 == 0)), 0)
    proc.process_batch(env_batch(docs.filter(F.col("doc_id") % 2 == 1)), 1)

    # restart with the flag flipped: ingest refuses, naming the path
    pos_rule = SyncRule(
        db="corpus", table="documents", primary_key=("doc_id",),
        bm25_ingest=True, bm25_positions=True,
    )
    proc2 = CdcBatchProcessor(
        spark, [pos_rule], store, payload_schemas={"documents": docs.schema}
    )
    extra = docs.limit(1).select(
        (F.col("doc_id") + 500).alias("doc_id"),
        F.lit("wholly new migrated document").alias("text"),
        "lang", "source", "n_chars",
    )
    with pytest.raises(Exception, match="migrate_positions"):
        proc2._ingestor(pos_rule, "bm25_ingest").process_batch(
            store.read(spark, "documents").limit(0), 99
        )
    proc2.migrate_bm25_positions("documents")

    t = {r.doc_id: r.text for r in docs.collect()}
    phrases = spark.createDataFrame(
        [(0, " ".join(t[11].split()[:2]))], "phrase_id int, phrase string"
    )
    ing = proc2._ingestor(pos_rule, "bm25_ingest")
    want = {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in retrieval.phrase_match(
            docs.select("doc_id", "text"), phrases
        ).collect()
    }
    assert {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in ing.phrase_match(phrases).collect()
    } == want and want
    # the stream continues positional through the shell
    proc2.process_batch(env_batch(extra), 2)
    newp = spark.createDataFrame(
        [(9, "new migrated document")], "phrase_id int, phrase string"
    )
    assert {
        (r.phrase_id, r.doc_id)
        for r in ing.phrase_match(newp).collect()
    } == {(9, 500)}
    # unknown target refuses loudly
    with pytest.raises(ValueError, match="no sync rule"):
        proc2.migrate_bm25_positions("nope")

"""Update/delete (tombstone) support for the streaming ingest family
(streaming/tombstones.py) — the r6 VERDICT top item: the CDC shell these
ingests ride exists to process updates and deletes, so the standing
index state must track the LIVE corpus, not the append history.

Contract under test, for each of RetrievalIngest / DedupIngest /
AnnIngest: stream batches carrying inserts, UPDATES (tombstone + new
image in one batch) and DELETES, then

  * serving == the one-shot batch operator over the FINAL corpus,
  * `compact_state` physically drops the dead rows and truncates the
    fully-applied tombstones WITHOUT changing serving,
  * a replay of any batch after the fold is still a no-op.
"""

import pytest
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.functions import dedup_text, retrieval, similarity
from kafka_cdc_redshift_spark.sources import load_table
from kafka_cdc_redshift_spark.streaming.ann_ingest import AnnIngest
from kafka_cdc_redshift_spark.streaming.dedup_ingest import DedupIngest
from kafka_cdc_redshift_spark.streaming.retrieval_ingest import RetrievalIngest
from kafka_cdc_redshift_spark.streaming.store import AppendLog


def _oneshot_pairs(docs, **kw):
    """One-shot minhash_lsh_pairs over raw (doc_id, text) rows."""
    return dedup_text.minhash_lsh_pairs(dedup_text.shingle_sketches(docs), **kw)


# multi-minute churn/e2e module: marked slow, but it runs in the default
# suite like every test; deselect it for a quick loop with -m "not slow"
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
        .localCheckpoint()
    )


def _texts(docs):
    return {r.doc_id: r.text for r in docs.collect()}


def _mk(spark, items):
    return spark.createDataFrame(list(items), "doc_id long, text string")


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _topk_key(r):
    return (r.q_id, r.doc_id, r.n_terms, round(r.score, 9), r.rnk)


def _pair_key(r):
    return (r.doc_a, r.doc_b, round(r.jaccard, 9))


def test_retrieval_ingest_tracks_updates_and_deletes(spark, docs, tmp_path):
    t = _texts(docs)
    queries = spark.createDataFrame(
        [(0, t[1].split()[0] + " " + t[2].split()[-1]),
         (1, " ".join(t[11].split()[:3]))],
        "q_id int, q_text string",
    )
    ing = RetrievalIngest(AppendLog(str(tmp_path / "state")), name="docs")
    # b0/b1: initial corpus split in two
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    # b2: update doc 2 (doc 11's text), delete doc 5, insert doc 100
    ing.process_batch(
        _mk(spark, [(2, t[11]), (100, t[7] + " zyzzyx")]),
        2, tombstones=_keys(spark, [2, 5]),
    )
    # b3: update doc 2 again, delete doc 100, delete doc 11
    ing.process_batch(
        _mk(spark, [(2, "one lonely sentence of new text here")]),
        3, tombstones=_keys(spark, [2, 100, 11]),
    )
    final = {k: v for k, v in t.items() if k not in (2, 5, 11)}
    final[2] = "one lonely sentence of new text here"
    final_df = _mk(spark, final.items())
    want = sorted(map(_topk_key,
                      retrieval.bm25_topk(final_df, queries, k=5).collect()))
    assert want
    got = sorted(map(_topk_key, ing.topk(queries, k=5).collect()))
    assert got == want

    # the per-doc stats fold to the final corpus exactly
    st = ing.log.read(spark, ing.stats_table).agg(
        F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s")
    ).collect()[0]
    assert st.n == len(final)

    # maintenance: dead postings physically drop, tombstones truncate,
    # serving unchanged
    n_before = ing.log.read(spark, ing.tf_table).count()
    ing.compact_state(spark, min_segments=2)
    n_after = ing.log.read(spark, ing.tf_table).count()
    assert n_after < n_before  # doc 5/11/100 + doc 2's old postings gone
    dead = ing.log.read(spark, ing.dead_table)
    assert dead is not None and dead.count() == 0
    assert sorted(map(_topk_key, ing.topk(queries, k=5).collect())) == want

    # replay across the fold: every batch id is still skipped
    for bid, frame in ((2, _mk(spark, [(2, t[11])])), (0, docs.limit(3))):
        ing.process_batch(frame, bid, tombstones=_keys(spark, [2, 5]))
    assert ing.log.read(spark, ing.tf_table).count() == n_after
    assert sorted(map(_topk_key, ing.topk(queries, k=5).collect())) == want


def test_dedup_ingest_tracks_updates_and_deletes(spark, docs, tmp_path):
    t = _texts(docs)
    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="docs")
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    # b2: update doc 2 := doc 11's text (forges a {2,11} near-dup pair),
    # and delete doc 3
    ing.process_batch(
        _mk(spark, [(2, t[11])]), 2, tombstones=_keys(spark, [2, 3])
    )
    mid = {k: v for k, v in t.items() if k != 3}
    mid[2] = t[11]
    got2 = {(r.doc_a, r.doc_b) for r in ing.pairs(spark).collect()}
    assert (2, 11) in got2
    want2 = sorted(map(_pair_key,
                       _oneshot_pairs(_mk(spark, mid.items()))
                       .collect()))
    assert sorted(map(_pair_key, ing.pairs(spark).collect())) == want2

    # b3: delete doc 11 (kills the {2,11} pair), update doc 2 to a text
    # with no neighbors
    ing.process_batch(
        _mk(spark, [(2, "qqq www eee rrr ttt unique island")]),
        3, tombstones=_keys(spark, [2, 11]),
    )
    final = {k: v for k, v in mid.items() if k != 11}
    final[2] = "qqq www eee rrr ttt unique island"
    want = sorted(map(_pair_key,
                      _oneshot_pairs(_mk(spark, final.items()))
                      .collect()))
    got = sorted(map(_pair_key, ing.pairs(spark).collect()))
    assert got == want
    assert not any(11 in (a, b) for a, b, _ in got)

    # maintenance folds the tombstones; serving unchanged, dead truncated
    ing.compact_state(spark, min_segments=2)
    assert sorted(map(_pair_key, ing.pairs(spark).collect())) == want
    live_bands = {r.doc_id for r in
                  ing.log.read(spark, ing.bands_table).select("doc_id")
                  .distinct().collect()}
    assert 3 not in live_bands and 11 not in live_bands
    assert ing.log.read(spark, ing.dead_table).count() == 0

    # replay across the fold: no-op
    ing.process_batch(_mk(spark, [(2, t[11])]), 2,
                      tombstones=_keys(spark, [2, 3]))
    assert sorted(map(_pair_key, ing.pairs(spark).collect())) == want


def test_ann_ingest_tracks_updates_and_deletes(spark, sf_dir, tmp_path):
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 60)
        .localCheckpoint()
    )
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    centroids = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )

    def mk(items):
        # same element type as embeddings.parquet (array<float>) so the
        # per-batch state dirs stay schema-homogeneous
        return spark.createDataFrame(
            list(items), "vec_id long, embedding array<float>"
        )

    def keys(ids):
        return spark.createDataFrame([(i,) for i in ids], "vec_id long")

    ann = AnnIngest(AppendLog(str(tmp_path / "state")), centroids=centroids)
    ann.process_batch(emb.filter(F.col("vec_id") % 2 == 0), 0)
    ann.process_batch(emb.filter(F.col("vec_id") % 2 == 1), 1)
    # b2: update vec 7 := vec 40's embedding, delete vecs 9 and 40
    ann.process_batch(
        mk([(7, vecs[40])]), 2, tombstones=keys([7, 9, 40])
    )
    final = {k: v for k, v in vecs.items() if k not in (9, 40)}
    final[7] = vecs[40]
    final_df = mk(final.items())

    def key(r):
        return (r.q_id, r.rnk, r.neighbor_id, round(r.cos_sim, 9))

    want = sorted(map(key, similarity.ivf_topk(
        final_df, queries, centroids, k=3, nprobe=2).collect()))
    got = sorted(map(key, ann.topk(queries, k=3, nprobe=2).collect()))
    assert got == want and got

    # maintenance: dead vectors physically drop, serving unchanged
    ann.compact_state(spark, min_segments=2)
    live = {r.vec_id for r in
            ann.log.read(spark, ann.cells_table).select("vec_id")
            .distinct().collect()}
    assert 9 not in live and live == set(final)
    assert ann.log.read(spark, ann.dead_table).count() == 0
    assert sorted(map(key, ann.topk(queries, k=3, nprobe=2).collect())) == want

    # replay across the fold: no-op
    n = ann.log.read(spark, ann.cells_table).count()
    ann.process_batch(mk([(7, vecs[40])]), 2, tombstones=keys([7, 9, 40]))
    assert ann.log.read(spark, ann.cells_table).count() == n

    # drift is measured over live rows only (doc 9/40's dead vectors
    # cannot pull the means): just assert it computes post-churn
    assert -1.0 <= ann.weighted_drift(spark) <= 1.0 + 1e-9


def test_versioned_ann_rebuild_excludes_tombstoned_vectors(
    spark, sf_dir, tmp_path
):
    """A drift rebuild snapshots the LIVE corpus: deleted/superseded
    vectors must not be resurrected into the new version."""
    from kafka_cdc_redshift_spark.streaming.ann_ingest import VersionedAnnIndex

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 30)
        .localCheckpoint()
    )
    idx = VersionedAnnIndex(
        AppendLog(str(tmp_path / "state")), name="vt",
        n_centroids=3, drift_floor=1.1,  # floor > max sim -> always rebuild
    )
    idx.process_batch(emb, 0)
    idx.process_batch(
        emb.limit(0), 1,
        tombstones=spark.createDataFrame([(4,), (8,)], "vec_id long"),
    )
    assert idx.maintain(spark) is True
    assert idx.current_version() == 1
    cells = idx.log.read(spark, idx.current().cells_table)
    ids = {r.vec_id for r in cells.select("vec_id").collect()}
    want = {r.vec_id for r in emb.select("vec_id").collect()} - {4, 8}
    assert ids == want


def test_tombstone_resolve_join_is_broadcast(spark, docs, tmp_path):
    """The serving read's tombstone resolution must PIN the broadcast
    (tombstones are churn-sized by construction between folds), not
    hope AQE's stats estimate notices — the lm_surprisal_flags
    broadcast_lm pattern applied to streaming/tombstones.resolve."""
    ing = RetrievalIngest(AppendLog(str(tmp_path / "state")), name="docs")
    ing.process_batch(docs, 0)
    ing.process_batch(
        _mk(spark, [(1, "replacement text body")]),
        1, tombstones=_keys(spark, [1, 3]),
    )
    plan = (
        ing.postings(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_pair_resolution_joins_are_broadcast(spark, tmp_path):
    """_resolve_pairs joins the per-id tombstone max against BOTH pair
    sides — each join must carry the explicit broadcast pin."""
    pairs = spark.createDataFrame(
        [(1, 2, 0.9, 0), (3, 4, 0.8, 1)],
        "doc_a long, doc_b long, jaccard double, __seq long",
    )
    tombs = spark.createDataFrame([(2, 1)], "doc_id long, __seq long")
    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="d")
    plan = (
        ing._resolve_pairs(pairs, tombs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_tombstone_broadcast_degrades_to_shuffle_when_oversized(spark):
    """The broadcast pin is size-gated (r9 advisor): when the tombstone
    relation's estimate outgrows the broadcast budget — here simulated
    by disabling autoBroadcastJoinThreshold, which the gate honors —
    resolve must degrade to a shuffle join instead of OOMing the
    executors, with no caller changes."""
    from kafka_cdc_redshift_spark.streaming.tombstones import resolve

    state = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "doc_id long, __seq long"
    )
    tombs = spark.createDataFrame([(2, 1)], "doc_id long, __seq long")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            resolve(state, tombs, "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # default conf: churn-sized tombstones keep the pinned broadcast
    plan = (
        resolve(state, tombs, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_retrieval_ingest_serves_phrases_through_churn(spark, docs, tmp_path):
    """positions=True: ONE standing table serves BM25 *and* exact phrase
    queries, both tracking the live corpus through updates/deletes and
    surviving the compact fold (VERDICT r7 item #3)."""
    t = _texts(docs)
    ing = RetrievalIngest(
        AppendLog(str(tmp_path / "state")), name="docs", positions=True
    )
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    # b2: update doc 2 (gets doc 11's text + a marker), delete doc 5
    marked = t[11] + " zz phrase marker here"
    ing.process_batch(
        _mk(spark, [(2, marked)]), 2, tombstones=_keys(spark, [2, 5]),
    )
    final = {k: v for k, v in t.items() if k not in (2, 5)}
    final[2] = marked
    final_df = _mk(spark, final.items())
    phrases = spark.createDataFrame(
        [(0, " ".join(t[11].split()[:2])),   # in doc 11 AND updated doc 2
         (1, "zz phrase marker"),            # only in the updated image
         (2, " ".join(t[5].split()[:3]))],   # the deleted doc's opener
        "phrase_id int, phrase string",
    )
    expected = {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in retrieval.phrase_match(final_df, phrases).collect()
    }
    assert any(p == 1 for p, _, _ in expected)  # marker phrase does hit
    got = {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in ing.phrase_match(phrases).collect()
    }
    assert got == expected
    # doc 5 is dead: its opener must not resolve to doc 5 anymore
    assert not any(p == 2 and d == 5 for p, d, _ in got)
    # the same standing table still serves BM25 over the live corpus
    queries = spark.createDataFrame(
        [(0, " ".join(t[11].split()[:3]))], "q_id int, q_text string"
    )
    want_topk = {
        _topk_key(r)
        for r in retrieval.bm25_topk(final_df, queries, k=5).collect()
    }
    assert {_topk_key(r) for r in ing.topk(queries, k=5).collect()} \
        == want_topk
    # fold: physically drop dead posting lists; serving unchanged
    ing.compact_state(spark, min_segments=2)
    assert {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in ing.phrase_match(phrases).collect()
    } == expected


def test_retrieval_ingest_without_positions_rejects_phrase_serving(
    spark, docs, tmp_path
):
    ing = RetrievalIngest(AppendLog(str(tmp_path / "state")), name="docs")
    ing.process_batch(docs, 0)
    phrases = spark.createDataFrame(
        [(0, "any phrase")], "phrase_id int, phrase string"
    )
    with pytest.raises(ValueError, match="positions"):
        ing.phrase_match(phrases)


def test_retrieval_ingest_rejects_positions_toggle_on_standing_index(
    spark, docs, tmp_path
):
    """Toggling positions on an index whose earlier batches used the
    other layout would mix posting schemas in one tf table (the
    AppendLog scan has no mergeSchema): earlier docs silently vanish
    from phrase_match while staying BM25-visible. The ingest must
    refuse at process_batch, in both directions."""
    log = AppendLog(str(tmp_path / "state"))
    ing = RetrievalIngest(log, name="docs")
    ing.process_batch(docs, 0)
    flipped = RetrievalIngest(log, name="docs", positions=True)
    with pytest.raises(ValueError, match="positions"):
        flipped.process_batch(docs, 1)

    log2 = AppendLog(str(tmp_path / "state2"))
    ing2 = RetrievalIngest(log2, name="docs", positions=True)
    ing2.process_batch(docs, 0)
    flipped2 = RetrievalIngest(log2, name="docs")
    with pytest.raises(ValueError, match="positions"):
        flipped2.process_batch(docs, 1)
    # the matching layout keeps ingesting fine
    ing2.process_batch(docs.limit(0), 1)


def test_dedup_ingest_serves_containment_through_churn(spark, docs, tmp_path):
    """DedupIngest.containment: the standing verification sketches serve
    the asymmetric containment relation of the LIVE corpus — equal to
    one-shot containment_pairs over the final corpus, through updates
    and deletes, before AND after the compact fold."""
    t = _texts(docs)
    ing = DedupIngest(AppendLog(str(tmp_path / "state")), name="docs")
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    # b2: doc 2 becomes a strict prefix of doc 11 (containment ~1 on the
    # short side), doc 5 deleted
    quote = " ".join(t[11].split()[: max(4, len(t[11].split()) // 2)])
    ing.process_batch(
        _mk(spark, [(2, quote)]), 2, tombstones=_keys(spark, [2, 5]),
    )
    final = {k: v for k, v in t.items() if k not in (2, 5)}
    final[2] = quote
    final_df = _mk(spark, final.items())

    def key(r):
        return (r.doc_a, r.doc_b, round(r.containment_a, 9),
                round(r.containment_b, 9), round(r.jaccard, 9))

    expected = {
        key(r)
        for r in dedup_text.containment_pairs(
            dedup_text.shingle_sketches(final_df), threshold=0.5
        ).collect()
    }
    assert any(a == 2 or b == 2 for a, b, *_ in expected)  # quote found
    got = {
        key(r) for r in ing.containment(spark, threshold=0.5).collect()
    }
    assert got == expected
    ing.compact_state(spark, min_segments=2)
    assert {
        key(r) for r in ing.containment(spark, threshold=0.5).collect()
    } == expected


def test_ann_ingest_serves_semantic_dedup_through_churn(spark, sf_dir, tmp_path):
    """AnnIngest.semantic_dups: the standing (id, vec, cell) relation
    serves SemDeDup against the live corpus — equal to one-shot
    semantic_dedup over the final corpus with the same persisted
    centroids, through updates and deletes, and a dup whose lower-id
    twin is deleted becomes unique."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"))
        .filter(F.col("vec_id") < 60)
        .localCheckpoint()
    )
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    ing = AnnIngest(AppendLog(str(tmp_path / "state")), centroids=cents)
    ing.process_batch(emb.filter(F.col("vec_id") % 2 == 0), 0)
    ing.process_batch(emb.filter(F.col("vec_id") % 2 == 1), 1)
    # b2: duplicate vec 7's embedding onto vec 40 (same cell, cos=1),
    # delete vec 9
    v7 = emb.filter(F.col("vec_id") == 7).select(
        F.lit(40).cast("long").alias("vec_id"), "embedding"
    )
    ing.process_batch(v7, 2, tombstones=_keys_vec(spark, [40, 9]))
    final = emb.filter(~F.col("vec_id").isin(9, 40)).unionByName(v7)
    want = {
        (r.vec_id, r.cell, r.is_dup)
        for r in similarity.semantic_dedup(
            final, cents, threshold=0.3
        ).collect()
    }
    got = {
        (r.vec_id, r.cell, r.is_dup)
        for r in ing.semantic_dups(spark, threshold=0.3).collect()
    }
    assert got == want
    assert (40, *[c for v, c, d in want if v == 7][:1], True) in {
        (v, c, d) for v, c, d in got if v == 40
    } or any(v == 40 and d for v, c, d in got)  # the clone is flagged
    # b3: delete vec 7 — the clone's lower-id twin; 40 may become unique
    ing.process_batch(
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        3, tombstones=_keys_vec(spark, [7]),
    )
    final2 = final.filter(F.col("vec_id") != 7)
    want2 = {
        (r.vec_id, r.cell, r.is_dup)
        for r in similarity.semantic_dedup(
            final2, cents, threshold=0.3
        ).collect()
    }
    ing.compact_state(spark, min_segments=2)
    got2 = {
        (r.vec_id, r.cell, r.is_dup)
        for r in ing.semantic_dups(spark, threshold=0.3).collect()
    }
    assert got2 == want2


def _keys_vec(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "vec_id long")


def test_phrase_serving_prunes_terms_before_position_explode(
    spark, docs, tmp_path
):
    """The standing index's phrase serving must broadcast-prune posting
    lists by phrase term BEFORE exploding positions — an un-pruned
    corpus-wide position explode is the avoidable cost at scale. Two
    broadcast joins: the pre-explode term prune plus the reduction's
    phrase-term join."""
    ing = RetrievalIngest(
        AppendLog(str(tmp_path / "state")), name="docs", positions=True
    )
    ing.process_batch(docs, 0)
    phrases = spark.createDataFrame(
        [(0, "alpha beta")], "phrase_id int, phrase string"
    )
    plan = (
        ing.phrase_match(phrases)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in plan


def test_retrieval_ingest_migrate_positions_live(spark, docs, tmp_path):
    """Standing-index schema migration (r9 VERDICT missing #3): build a
    tf-only index through churn, `migrate_positions(corpus)`, and the
    upgraded index must serve phrases exactly like one built with
    positions=True from batch 0 — with batch ids, replay guards, BM25
    serving, and subsequent positional ingest all intact."""
    t = _texts(docs)
    log = AppendLog(str(tmp_path / "state"))
    ing = RetrievalIngest(log, name="docs")
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    marked = t[11] + " zz phrase marker here"
    ing.process_batch(
        _mk(spark, [(2, marked)]), 2, tombstones=_keys(spark, [2, 5]),
    )
    final = {k: v for k, v in t.items() if k not in (2, 5)}
    final[2] = marked
    final_df = _mk(spark, final.items())

    # a corpus missing live docs must refuse BEFORE rewriting anything
    partial = {k: v for k, v in final.items() if k != 3}
    with pytest.raises(ValueError, match="missing 1 live doc"):
        ing.migrate_positions(_mk(spark, partial.items()))
    # a drifted corpus (same ids, different text) must refuse too
    drifted = dict(final)
    drifted[3] = final[3] + " extra drift token"
    with pytest.raises(ValueError, match="re-tokenizes"):
        ing.migrate_positions(_mk(spark, drifted.items()))
    # refusals left the standing layout untouched
    assert "positions" not in log.read(spark, ing.tf_table).columns

    ing.migrate_positions(final_df)
    assert ing.positions is True

    phrases = spark.createDataFrame(
        [(0, " ".join(t[11].split()[:2])),
         (1, "zz phrase marker"),
         (2, " ".join(t[5].split()[:3]))],
        "phrase_id int, phrase string",
    )
    expected = {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in retrieval.phrase_match(final_df, phrases).collect()
    }
    got = {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in ing.phrase_match(phrases).collect()
    }
    assert got == expected  # == a fresh positional build's serving
    # BM25 serving unchanged by the migration
    queries = spark.createDataFrame(
        [(0, " ".join(t[11].split()[:3]))], "q_id int, q_text string"
    )
    want_topk = {
        _topk_key(r)
        for r in retrieval.bm25_topk(final_df, queries, k=5).collect()
    }
    assert {_topk_key(r) for r in ing.topk(queries, k=5).collect()} \
        == want_topk
    # committed batch ids survive: post-migration replays are no-ops
    for b in (0, 1, 2):
        assert log.has_batch(ing.stats_table, b)
    ing.process_batch(docs.filter(F.col("doc_id") < 10), 1)  # replay
    assert {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in ing.phrase_match(phrases).collect()
    } == expected
    # the upgraded index keeps ingesting POSITIONAL batches (both via
    # the migrated instance and a fresh positions=True reopen)
    reopened = RetrievalIngest(log, name="docs", positions=True)
    reopened.process_batch(
        _mk(spark, [(100, "brand new migrated document body")]), 3
    )
    newp = spark.createDataFrame(
        [(9, "new migrated document")], "phrase_id int, phrase string"
    )
    assert {
        (r.phrase_id, r.doc_id) for r in ing.phrase_match(newp).collect()
    } == {(9, 100)}
    # migrating an already-positional index is a no-op upgrade
    reopened.migrate_positions(final_df)


def test_positions_toggle_refusal_points_at_migration(spark, docs, tmp_path):
    log = AppendLog(str(tmp_path / "state"))
    RetrievalIngest(log, name="docs").process_batch(docs, 0)
    flipped = RetrievalIngest(log, name="docs", positions=True)
    with pytest.raises(ValueError, match="migrate_positions"):
        flipped.process_batch(docs, 1)


def test_retrieval_ingest_drop_positions_downgrade(spark, docs, tmp_path):
    """The corpus-free downgrade: positional -> tf-only is a projection,
    so BM25 serving is unchanged, phrase serving returns its refusal,
    and batch ids survive for replay skipping."""
    t = _texts(docs)
    log = AppendLog(str(tmp_path / "state"))
    ing = RetrievalIngest(log, name="docs", positions=True)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    queries = spark.createDataFrame(
        [(0, " ".join(t[11].split()[:3]))], "q_id int, q_text string"
    )
    want = {_topk_key(r) for r in ing.topk(queries, k=5).collect()}

    ing.drop_positions(spark)
    assert ing.positions is False
    assert "positions" not in log.read(spark, ing.tf_table).columns
    assert {_topk_key(r) for r in ing.topk(queries, k=5).collect()} == want
    phrases = spark.createDataFrame(
        [(0, "any phrase")], "phrase_id int, phrase string"
    )
    with pytest.raises(ValueError, match="positions"):
        ing.phrase_match(phrases)
    for b in (0, 1):
        assert log.has_batch(ing.stats_table, b)
    # tf-only ingest continues; a positional reopen gets the refusal
    # that names the upgrade path
    RetrievalIngest(log, name="docs").process_batch(
        _mk(spark, [(200, "post downgrade doc")]), 2
    )
    with pytest.raises(ValueError, match="migrate_positions"):
        RetrievalIngest(log, name="docs", positions=True).process_batch(
            docs, 3
        )


def test_dedup_ingest_refuses_param_mismatch(spark, docs, tmp_path):
    """Nothing in the band schema betrays the LSH parameters, so a
    mismatched reopen must refuse via the persisted params manifest
    (silently mixing band layouts breaks the candidate join), pointing
    at migrate_lsh."""
    log = AppendLog(str(tmp_path / "state"))
    DedupIngest(log, name="docs").process_batch(docs, 0)
    retuned = DedupIngest(log, name="docs", num_hashes=24, band_size=3)
    with pytest.raises(ValueError, match="migrate_lsh"):
        retuned.process_batch(docs, 1)
    # a replay of a committed batch stays a silent no-op either way
    retuned.process_batch(docs, 0)
    # matching parameters keep ingesting fine
    DedupIngest(log, name="docs").process_batch(docs.limit(0), 1)


def test_dedup_ingest_migrate_lsh_live(spark, docs, tmp_path):
    """LSH re-tuning migration: build through churn with the default
    parameters, migrate_lsh to a different (num_hashes, band_size,
    threshold), and the standing pairs must equal a one-shot
    minhash_lsh_pairs over the live corpus under the NEW parameters —
    with batch ids, per-doc seqs, and subsequent churn all intact."""
    t = _texts(docs)
    log = AppendLog(str(tmp_path / "state"))
    ing = DedupIngest(log, name="docs")
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 0), 0)
    ing.process_batch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    ing.process_batch(
        _mk(spark, [(2, t[11])]), 2, tombstones=_keys(spark, [2, 3])
    )
    live = {k: v for k, v in t.items() if k != 3}
    live[2] = t[11]
    live_df = _mk(spark, live.items())

    with pytest.raises(ValueError, match="missing 1 live doc"):
        ing.migrate_lsh(
            _mk(spark, [(k, v) for k, v in live.items() if k != 7]),
            num_hashes=18,
        )
    drifted = dict(live)
    drifted[7] = live[7] + " drift token"
    with pytest.raises(ValueError, match="re-shingles"):
        ing.migrate_lsh(_mk(spark, drifted.items()), num_hashes=18)

    new_kw = dict(num_hashes=18, band_size=3, threshold=0.4)
    ing.migrate_lsh(live_df, **new_kw)
    want = sorted(map(_pair_key,
                      _oneshot_pairs(live_df, **new_kw)
                      .collect()))
    assert sorted(map(_pair_key, ing.pairs(spark).collect())) == want
    # the manifest now records the new tuning: the OLD parameters refuse
    with pytest.raises(ValueError, match="migrate_lsh"):
        DedupIngest(log, name="docs").process_batch(docs, 3)
    for b in (0, 1, 2):
        assert log.has_batch(ing.sketches_table, b)

    # churn continues under the new parameters: streamed == one-shot
    reopened = DedupIngest(log, name="docs", **new_kw)
    reopened.process_batch(
        _mk(spark, [(5, t[20])]), 3, tombstones=_keys(spark, [5])
    )
    final = dict(live)
    final[5] = t[20]
    want2 = sorted(map(_pair_key,
                       _oneshot_pairs(_mk(spark, final.items()), **new_kw)
                       .collect()))
    assert sorted(map(_pair_key, reopened.pairs(spark).collect())) == want2


def test_dedup_migrate_lsh_rejects_duplicate_corpus_rows(spark, docs, tmp_path):
    log = AppendLog(str(tmp_path / "state"))
    ing = DedupIngest(log, name="docs")
    ing.process_batch(docs, 0)
    t = _texts(docs)
    duped = _mk(spark, list(t.items()) + [(1, t[1])])
    with pytest.raises(ValueError, match="duplicate row"):
        ing.migrate_lsh(duped, n=4)  # n change: no sketch invariant


def test_dedup_migrate_lsh_retry_heals_crash_window(spark, docs, tmp_path):
    """Every migration step is rebuild + atomic swap with the params
    manifest written LAST, so (a) re-running with the same arguments is
    idempotent and (b) a crash that swapped the tables but never landed
    the manifest heals the same way — while a reopen inside that window
    refuses on the stale manifest (the safe direction)."""
    import os

    log = AppendLog(str(tmp_path / "state"))
    ing = DedupIngest(log, name="docs")
    ing.process_batch(docs, 0)
    t = _texts(docs)
    live_df = _mk(spark, t.items())
    new_kw = dict(num_hashes=18, band_size=3, threshold=0.4)

    ing.migrate_lsh(live_df, **new_kw)
    want = sorted(map(_pair_key, ing.pairs(spark).collect()))

    # (b) crash window: tables swapped, manifest not written — replica
    # by deleting the manifest the completed migration wrote. A
    # default-params reopen of the manifest-less state ADOPTS the
    # defaults (writes a defaults manifest); that step must SUCCEED —
    # it is the adoption the subsequent refusal is checked against.
    os.remove(ing._params_path())
    DedupIngest(log, name="docs").process_batch(docs.limit(0), 1)
    assert os.path.exists(ing._params_path())
    # ...and only the retuned reopen refuses, against that manifest
    with pytest.raises(ValueError, match="migrate_lsh"):
        DedupIngest(log, name="docs", **new_kw).process_batch(docs, 2)

    # the retry with the same arguments heals: same pairs, manifest back
    retry = DedupIngest(log, name="docs")
    retry.migrate_lsh(live_df, **new_kw)
    assert sorted(map(_pair_key, retry.pairs(spark).collect())) == want
    assert os.path.exists(retry._params_path())
    # (a) and a further identical re-run is a no-op on the results
    retry.migrate_lsh(live_df, **new_kw)
    assert sorted(map(_pair_key, retry.pairs(spark).collect())) == want


def test_dedup_migrate_lsh_manifests_old_params_before_any_swap(
    spark, docs, tmp_path
):
    """A PRE-manifest index (built before the params guard existed) must
    get a manifest of its CURRENT params at the TOP of migrate_lsh — a
    crash after the first table swap but before the final params write
    would otherwise leave migrated state with no manifest at all, and
    the next reopen would silently ADOPT whatever parameters it was
    configured with: the exact layout mix the guard exists to prevent."""
    import json
    import os

    log = AppendLog(str(tmp_path / "state"))
    ing = DedupIngest(log, name="docs")
    ing.process_batch(docs, 0)
    old_params = ing._params()
    t = _texts(docs)
    # simulate the legacy pre-manifest index
    os.remove(ing._params_path())

    # a migration that refuses AFTER the manifest step but BEFORE any
    # swap (corpus missing a live doc) must leave the OLD params
    # manifested — the crash window now refuses instead of adopting
    drop = next(iter(t))
    partial = _mk(spark, [(k, v) for k, v in t.items() if k != drop])
    with pytest.raises(ValueError, match="missing"):
        ing.migrate_lsh(partial, num_hashes=18)
    assert os.path.exists(ing._params_path())
    with open(ing._params_path()) as f:
        assert json.load(f) == old_params
    with pytest.raises(ValueError, match="migrate_lsh"):
        DedupIngest(log, name="docs", num_hashes=18).process_batch(docs, 1)

    # the migration itself still completes from here and flips the
    # manifest to the new tuning
    ing.migrate_lsh(_mk(spark, t.items()), num_hashes=18)
    with open(ing._params_path()) as f:
        assert json.load(f)["num_hashes"] == 18


def test_migration_single_writer_guard_dedup(spark, docs, tmp_path, monkeypatch):
    """r10 verdict item #4, live: interleave ingest mid-migration.

    (a) A marker-honoring process_batch REFUSES while migrate_lsh is in
    flight (the maintenance marker), so well-behaved concurrency
    serializes by failing loudly. (b) A writer that ignores the marker
    and lands a real batch mid-rebuild makes the migration ABORT before
    ANY swap (the committed-batch fence): the interleaved batch keeps
    its data AND its replay-guard id, the params manifest stays old (no
    mixed-params window), and re-running the migration over the now-
    complete corpus heals — streamed pairs == one-shot under the new
    tuning, interleaved doc included."""
    import json
    import os

    import kafka_cdc_redshift_spark.streaming.dedup_ingest as di

    log = AppendLog(str(tmp_path / "state"))
    ing = DedupIngest(log, name="docs")
    ing.process_batch(docs, 0)
    t = _texts(docs)
    rogue_text = t[next(iter(t))] + " interleaved mid-migration"
    new_kw = dict(num_hashes=18, band_size=3, threshold=0.4)

    real = dedup_text.lsh_band_index
    seen = {}

    def hooked(*a, **k):
        # one-shot: fire only on the migration's own rebuild call
        if not seen:
            seen["fired"] = True
            # (a) a marker-honoring writer refuses mid-migration
            with pytest.raises(RuntimeError, match="maintenance"):
                DedupIngest(log, name="docs").process_batch(
                    _mk(spark, [(98, "honors the marker")]), 9
                )
            # (b) a marker-IGNORING writer lands a real batch: simulate
            # by lifting the marker FILE around a genuine process_batch
            # (the race window where the append began before the marker)
            # and restoring it VERBATIM — the migration still owns its
            # nonce, exactly as in the real race
            mp = log._maintenance_path("docs")
            with open(mp) as f:
                saved_marker = f.read()
            os.remove(mp)
            DedupIngest(log, name="docs").process_batch(
                _mk(spark, [(99, rogue_text)]), 5
            )
            with open(mp, "w") as f:
                f.write(saved_marker)
        return real(*a, **k)

    monkeypatch.setattr(di, "lsh_band_index", hooked)
    with pytest.raises(RuntimeError, match="concurrent batch"):
        ing.migrate_lsh(_mk(spark, t.items()), **new_kw)
    monkeypatch.setattr(di, "lsh_band_index", real)

    # no lost batch: data and replay-guard id both survive the abort
    assert log.has_batch(ing.sketches_table, 5)
    assert any(
        r.doc_id == 99 for r in log.read(spark, ing.sketches_table).collect()
    )
    # no mixed-params window: manifest still records the OLD tuning, the
    # marker is cleared (zero tables swapped), and old-params ingest
    # continues
    with open(ing._params_path()) as f:
        assert json.load(f)["num_hashes"] == DedupIngest(log, name="x").num_hashes
    assert log.active_maintenance("docs") is None
    DedupIngest(log, name="docs").process_batch(
        _mk(spark, [(98, "post-abort ingest works")]), 6
    )

    # heal: re-run over the now-complete corpus under the new tuning
    final = dict(t)
    final[99] = rogue_text
    final[98] = "post-abort ingest works"
    healed = DedupIngest(log, name="docs")
    healed.migrate_lsh(_mk(spark, final.items()), **new_kw)
    want = sorted(map(_pair_key,
                      _oneshot_pairs(
                          _mk(spark, final.items()), **new_kw).collect()))
    assert sorted(map(_pair_key, healed.pairs(spark).collect())) == want
    assert log.active_maintenance("docs") is None


def test_migration_single_writer_guard_retrieval(spark, docs, tmp_path, monkeypatch):
    """The retrieval twin of the dedup interleave test: a batch landing
    mid-migrate_positions aborts the swap with state unchanged (still
    tf-only, still serving), the interleaved batch survives, and the
    re-run over the complete corpus upgrades to positional serving."""
    import kafka_cdc_redshift_spark.streaming.retrieval_ingest as ri

    log = AppendLog(str(tmp_path / "state"))
    ing = RetrievalIngest(log, name="docs")  # tf-only
    ing.process_batch(docs, 0)
    t = _texts(docs)
    rogue_text = "brand new interleaved document text"

    real = ri.positional_postings
    seen = {}

    def hooked(*a, **k):
        if not seen:
            seen["fired"] = True
            with pytest.raises(RuntimeError, match="maintenance"):
                RetrievalIngest(log, name="docs").process_batch(
                    _mk(spark, [(98, "honors the marker")]), 9
                )
            # lift/restore the marker FILE verbatim (nonce ownership
            # stays with the migration, as in the real race window)
            import os

            mp = log._maintenance_path("docs")
            with open(mp) as f:
                saved_marker = f.read()
            os.remove(mp)
            RetrievalIngest(log, name="docs").process_batch(
                _mk(spark, [(99, rogue_text)]), 5
            )
            with open(mp, "w") as f:
                f.write(saved_marker)
        return real(*a, **k)

    monkeypatch.setattr(ri, "positional_postings", hooked)
    with pytest.raises(RuntimeError, match="concurrent batch"):
        ing.migrate_positions(_mk(spark, t.items()))
    monkeypatch.setattr(ri, "positional_postings", real)

    # the interleaved batch survives with its replay guard; the index is
    # still tf-only (no partial positional segment) and still serves
    assert log.has_batch(ing.tf_table, 5)
    assert ing.positions is False
    assert "positions" not in log.read(spark, ing.tf_table).columns
    assert log.active_maintenance("docs") is None
    queries = spark.createDataFrame(
        [(0, "interleaved document text")], "q_id int, q_text string"
    )
    assert ing.topk(queries, k=3).count() > 0

    # heal: re-run over the corpus incl. the interleaved doc
    final = dict(t)
    final[99] = rogue_text
    final_df = _mk(spark, final.items())
    healed = RetrievalIngest(log, name="docs")
    healed.migrate_positions(final_df)
    assert healed.positions is True
    phrases = spark.createDataFrame(
        [(0, "interleaved document"), (1, " ".join(t[next(iter(t))].split()[:2]))],
        "phrase_id int, phrase string",
    )
    served = {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in healed.phrase_match(phrases).collect()
    }
    batch = {
        (r.phrase_id, r.doc_id, r.n_occurrences)
        for r in retrieval.phrase_match(final_df, phrases).collect()
    }
    assert served == batch and any(d == 99 for _, d, _n in served)


def test_migration_crash_takeover_requires_force(spark, docs, tmp_path):
    """r11 ADVICE: a standing marker refuses a plain re-run of the SAME
    op — without owner identity, a crashed run's retry and a second LIVE
    run are indistinguishable, and two live runs both proceeding is the
    clobber the marker prevents. Crash recovery is explicit: confirm the
    prior run is dead, re-run with force=True — the takeover mints a new
    owner, heals state, and clears the marker; ingest stays refused for
    the whole window in between."""
    log = AppendLog(str(tmp_path / "state"))
    ing = DedupIngest(log, name="docs")
    ing.process_batch(docs, 0)
    t = _texts(docs)
    live_df = _mk(spark, t.items())
    new_kw = dict(num_hashes=18, band_size=3, threshold=0.4)

    # simulate a crash inside the swap region: the marker survives
    log.begin_maintenance("docs", "migrate_lsh")

    # ingest refuses while the marker stands
    with pytest.raises(RuntimeError, match="maintenance"):
        DedupIngest(log, name="docs").process_batch(
            _mk(spark, [(98, "refused")]), 1
        )
    # a plain re-run refuses too: it cannot know the prior run is dead
    with pytest.raises(RuntimeError, match="force=True"):
        ing.migrate_lsh(live_df, **new_kw)
    # the explicit takeover completes the migration and clears the marker
    ing.migrate_lsh(live_df, force=True, **new_kw)
    assert log.active_maintenance("docs") is None
    want = sorted(map(_pair_key,
                      _oneshot_pairs(live_df, **new_kw)
                      .collect()))
    assert sorted(map(_pair_key, ing.pairs(spark).collect())) == want
    # ingest resumes under the new tuning
    DedupIngest(log, name="docs", **new_kw).process_batch(
        _mk(spark, [(98, "post-heal ingest works")]), 2
    )


def test_migrate_lsh_holds_marker_after_partial_swap(
    spark, docs, tmp_path, monkeypatch
):
    """The one failure that must leave the maintenance marker standing:
    migrate_lsh swaps three tables one by one, so a crash after the
    FIRST swap leaves the state mixing old and new parameters. Ingest
    must stay refused until a force=True re-run heals it to the
    one-shot pairs under the new tuning and clears the marker."""
    log = AppendLog(str(tmp_path / "state"))
    ing = DedupIngest(log, name="docs")
    ing.process_batch(docs, 0)
    live_df = _mk(spark, _texts(docs).items())
    new_kw = dict(num_hashes=18, band_size=3, threshold=0.4)
    sketch_segs = log.segments(ing.sketches_table)
    band_segs = log.segments(ing.bands_table)

    real = AppendLog.compact

    def crash_on_bands_swap(self, spark_, table, **kw):
        if table == ing.bands_table and kw.get("expect_batches") is not None:
            raise RuntimeError("simulated crash mid-migration")
        return real(self, spark_, table, **kw)

    monkeypatch.setattr(AppendLog, "compact", crash_on_bands_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ing.migrate_lsh(live_df, **new_kw)
    monkeypatch.setattr(AppendLog, "compact", real)

    # the sketches swapped, the bands did not: the marker stands
    assert log.segments(ing.sketches_table) != sketch_segs
    assert log.segments(ing.bands_table) == band_segs
    assert log.active_maintenance("docs") == "migrate_lsh"
    with pytest.raises(RuntimeError, match="maintenance"):
        DedupIngest(log, name="docs").process_batch(
            _mk(spark, [(98, "refused")]), 1
        )

    # the takeover re-run heals to the one-shot pairs and clears it
    DedupIngest(log, name="docs").migrate_lsh(live_df, force=True, **new_kw)
    assert log.active_maintenance("docs") is None
    healed = DedupIngest(log, name="docs", **new_kw)
    want = sorted(map(_pair_key,
                      _oneshot_pairs(live_df, **new_kw)
                      .collect()))
    assert sorted(map(_pair_key, healed.pairs(spark).collect())) == want

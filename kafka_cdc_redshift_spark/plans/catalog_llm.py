"""Catalog section 2: large-scale training-data pipeline operators
(dedup / similarity search / text analysis / multimodal) over the
`documents` and `embeddings` tables.

Every oracle replays the identical deterministic algorithm in DuckDB —
including MinHash signatures (portable 60-bit md5-prefix hash), so even the
LSH candidate-generation step is verified, not just end results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import curation, dedup_text, multimodal, retrieval, similarity, text
from ..sources import load_table
from .catalog import _spec

# ---------------------------------------------------------------------------
# shared DuckDB fragments
# ---------------------------------------------------------------------------

_TOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"

_TOKENIZED = f"tokenized AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)"

_SH_SETS = f"""sh_sets AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in generate_series(1, len(t)-2)]) AS sh_set
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents) _tok
  WHERE len(t) >= 3
)"""

_HASH60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# Replays jaccard_pairs() INCLUDING its default stop-shingle cut
# (functions/dedup_text.py DEFAULT_MAX_DF): explode the shingle sets, drop
# shingles with df > max_df, count intersections over surviving shingles
# against PRE-cut set sizes. Produces CTEs ending in `pe(doc_a, doc_b)` /
# `pj(doc_a, doc_b, jaccard)`.
_JACCARD_CUT = f"""{_SH_SETS},
    ex AS (SELECT doc_id, len(sh_set) AS sz, unnest(sh_set) AS sh FROM sh_sets),
    kept AS (SELECT sh FROM ex GROUP BY sh
             HAVING count(*) <= {dedup_text.DEFAULT_MAX_DF}),
    exk AS (SELECT ex.doc_id, ex.sz, ex.sh FROM ex JOIN kept USING (sh)),
    pc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
           FROM exk a JOIN exk b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
    pj AS (SELECT doc_a, doc_b,
                  CAST(inter AS DOUBLE)
                    / CAST(sz_a + sz_b - inter AS DOUBLE) AS jaccard
           FROM pc),
    pe AS (SELECT doc_a, doc_b FROM pj WHERE jaccard >= 0.5)"""

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@_spec(
    "text_token_stats",
    "token counting: whitespace tokens, distinct tokens, BPE-ish estimate",
    f"""WITH {_TOKENIZED}
    SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM tokenized""",
)
def q_text_token_stats(spark, sf_dir):
    return text.token_stats(load_table(spark, sf_dir, "documents"))


@_spec(
    "text_quality",
    "quality scoring: stopword ratio + alphabetic ratio -> [0,1] score",
    f"""WITH {_TOKENIZED}, r AS (
      SELECT doc_id,
             CAST(len(list_filter(t, x -> x IN ({_STOPWORDS_SQL}))) AS DOUBLE)
               / CAST(len(t) AS DOUBLE) AS stop_ratio,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio
      FROM tokenized)
    SELECT doc_id, stop_ratio, alpha_ratio,
           alpha_ratio * 0.5 + (1.0 - stop_ratio) * 0.5 AS quality
    FROM r""",
)
def q_text_quality(spark, sf_dir):
    return text.quality_score(load_table(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    hits = ",\n             ".join(
        f"len(list_filter(t, x -> x IN ({', '.join(repr(w) for w in words)}))) AS {lang}_hits"
        for lang, words in text.LANG_MARKERS.items()
    )
    langs = list(text.LANG_MARKERS)
    best = f"greatest({', '.join(f'{lang}_hits' for lang in langs)})"
    cases = " ".join(
        f"WHEN {lang}_hits = best AND best > 0 THEN '{lang}'" for lang in langs
    )
    return f"""WITH {_TOKENIZED}, h AS (
      SELECT doc_id,
             {hits}
      FROM tokenized), g AS (
      SELECT *, {best} AS best FROM h)
    SELECT doc_id, CASE {cases} ELSE 'und' END AS lang_pred,
           {', '.join(f'{lang}_hits' for lang in langs)}
    FROM g"""


@_spec(
    "text_langid",
    "marker-token language ID with fixed-priority argmax",
    _langid_oracle(),
)
def q_text_langid(spark, sf_dir):
    return text.lang_id(load_table(spark, sf_dir, "documents"))


@_spec(
    "text_fingerprint",
    "document fingerprinting: md5 of sorted distinct token set, clustered",
    f"""WITH {_TOKENIZED}
    SELECT md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint,
           count(*) AS n_docs, min(doc_id) AS canonical_doc_id
    FROM tokenized GROUP BY 1""",
)
def q_text_fingerprint(spark, sf_dir):
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


@_spec(
    "doc_sample_stratified",
    "reproducible training-mix sampling: hash-mod per-language rates "
    "(en 0.5, zh 0.75, rest 0.25) — map-side filter, no shuffle, identical "
    "membership on every run/engine",
    f"""SELECT doc_id, lang, source FROM documents
    WHERE {_HASH60.format(x="lang || ':' || CAST(doc_id AS VARCHAR)")} % 1000000
          < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.75
                  ELSE 0.25 END) * 1000000 AS BIGINT)""",
)
def q_doc_sample_stratified(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return curation.stratified_sample(
        docs, {"en": 0.5, "zh": 0.75}, strata_col="lang", default_fraction=0.25
    ).select("doc_id", "lang", "source")


@_spec(
    "doc_pack_sequences",
    "sequence packing: next-fit documents into 512-token training bins, "
    "per hash shard (no global sort; one window per shard)",
    f"""WITH t AS (
      SELECT doc_id, len({_TOKS}) AS n_tokens,
             CAST({_HASH60.format(x="CAST(doc_id AS VARCHAR)")} % 32 AS INT) AS shard
      FROM documents)
    SELECT doc_id, n_tokens, shard,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                       - n_tokens) / 512) AS BIGINT) AS bin_id,
           CAST(shard AS BIGINT) * 4294967296 + bin_id AS bin
    FROM t""",
)
def q_doc_pack_sequences(spark, sf_dir):
    return curation.pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=512, n_shards=32
    )


@_spec(
    "doc_decontaminate",
    "train/eval decontamination: drop training docs whose order-insensitive "
    "content fingerprint appears in the benchmark slice (doc_id % 97 = 0); "
    "broadcast anti-join",
    f"""WITH {_TOKENIZED},
    fp AS (SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS f
           FROM tokenized)
    SELECT doc_id FROM fp
    WHERE f NOT IN (SELECT DISTINCT f FROM fp WHERE doc_id % 97 = 0)""",
)
def q_doc_decontaminate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return curation.decontaminate(docs, eval_df)


_WINNOW = f"""t AS (SELECT doc_id, trim(lower(text)) AS s FROM documents),
    g AS (SELECT doc_id,
           [{_HASH60.format(x="substr(s, i, 8)")}
            for i in generate_series(1, greatest(length(s) - 7, 0))] AS grams
          FROM t),
    m AS (SELECT doc_id,
           list_distinct([list_min(grams[j:j+3])
                          for j in generate_series(1, greatest(len(grams) - 3, 1))]) AS fps
          FROM g WHERE len(grams) >= 1),
    e0 AS (SELECT doc_id, unnest(fps) AS fp FROM m),
    hot AS (SELECT fp FROM e0 GROUP BY fp HAVING count(*) > 20),
    e AS (SELECT * FROM e0 WHERE fp NOT IN (SELECT fp FROM hot))"""


@_spec(
    "text_winnow_pairs",
    "winnowing (MOSS rolling-hash) fingerprints: 8-gram hashes, window-4 "
    "minima, stop-fingerprint cut (df>20), pairs sharing >= 5 fingerprints",
    f"""WITH {_WINNOW}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 5""",
)
def q_text_winnow_pairs(spark, sf_dir):
    return text.winnow_match_pairs(load_table(spark, sf_dir, "documents"))


@_spec(
    "text_curation_pipeline",
    "composition: token stats + quality gate + language filter + exact-dedup "
    "keeper selection -> curated corpus slice (the end-to-end shape of a "
    "training-data curation job)",
    f"""WITH {_TOKENIZED}, stats AS (
      SELECT doc_id, len(t) AS n_tokens FROM tokenized),
    q AS (
      SELECT doc_id,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) * 0.5
             + (1.0 - CAST(len(list_filter(t, x -> x IN ({_STOPWORDS_SQL}))) AS DOUBLE)
               / CAST(len(t) AS DOUBLE)) * 0.5 AS quality
      FROM tokenized),
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
    SELECT s.doc_id, s.n_tokens, q.quality
    FROM stats s
    JOIN q USING (doc_id)
    JOIN keepers USING (doc_id)
    WHERE q.quality >= 0.5 AND s.n_tokens >= 20""",
)
def q_text_curation_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    stats = text.token_stats(docs).select("doc_id", "n_tokens")
    quality = text.quality_score(docs).select("doc_id", "quality")
    keepers = (
        dedup_text.exact_dedup(docs)
        .select(F.col("keep_doc_id").alias("doc_id"))
    )
    return (
        stats.join(quality, "doc_id")
        .join(keepers, "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20))
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@_spec(
    "dedup_exact",
    "exact dedup by content hash (hash-groupBy, map-side partial agg)",
    """SELECT md5(text) AS text_hash, count(*) AS n_copies,
              min(doc_id) AS keep_doc_id
       FROM documents GROUP BY 1""",
)
def q_dedup_exact(spark, sf_dir):
    return dedup_text.exact_dedup(load_table(spark, sf_dir, "documents"))


@_spec(
    "dedup_ngram_jaccard",
    "near-dup pairs: 3-gram shingle sets, Jaccard >= 0.5, default "
    "stop-shingle df cut active (shingle-keyed self-join; oracle replays "
    "the cut via the same exploded-join formulation)",
    f"""WITH {_JACCARD_CUT}
    SELECT doc_a, doc_b, jaccard FROM pj WHERE jaccard >= 0.5""",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_text.jaccard_pairs(dedup_text.shingle_sketches(docs))


@_spec(
    "dedup_clusters",
    "near-dup clustering: connected components over the Jaccard>=0.5 pair "
    "graph via iterative min-label propagation; cluster_id = min doc_id; "
    "oracle replays with a recursive CTE reachability closure",
    f"""WITH RECURSIVE {_JACCARD_CUT},
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pe
          UNION ALL SELECT doc_b, doc_a FROM pe),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""",
)
def q_dedup_clusters(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_text.jaccard_pairs(dedup_text.shingle_sketches(docs))
    return dedup_text.duplicate_clusters(docs, pairs)


def _minhash_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    """Replays minhash_signatures()/minhash_lsh_pairs() exactly: one 60-bit
    md5-prefix hash per shingle, k universal hashes (a*h30+b mod P), banded
    candidate join, exact-Jaccard verification."""
    from ..functions.dedup_text import _MH_H30, _MH_P, _mh_params

    mins = ",\n              ".join(
        f"min(({a} * h30 + {b}) % {_MH_P}) AS mh{s}"
        for s, (a, b) in ((s, _mh_params(s)) for s in range(num_hashes))
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            b=bi,
            key=" || ',' || ".join(
                f"mh{bi * band_size + r}::VARCHAR" for r in range(band_size)
            ),
        )
        for bi in range(num_hashes // band_size)
    )
    return f"""WITH {_SH_SETS},
ex AS (SELECT doc_id, {_HASH60.format(x="sh")} % {_MH_H30} AS h30
       FROM (SELECT doc_id, unnest(sh_set) AS sh FROM sh_sets) u),
sig AS (SELECT doc_id,
              {mins}
        FROM ex GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
j AS (SELECT doc_a, doc_b,
             CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
               / CAST(len(sa.sh_set) + len(sb.sh_set)
                      - len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) AS jaccard
      FROM cand
      JOIN sh_sets sa ON sa.doc_id = cand.doc_a
      JOIN sh_sets sb ON sb.doc_id = cand.doc_b)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5"""


_MINHASH_ORACLE = _minhash_oracle()


@_spec(
    "dedup_minhash_lsh",
    "MinHash(12 hashes) + banded LSH(6 bands x 2) candidates, exact-Jaccard "
    "verified; oracle replays the identical signature computation",
    _MINHASH_ORACLE,
)
def q_dedup_minhash_lsh(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # two consumers read the sets (signatures, candidate verification):
    # materialize them once instead of re-shingling the corpus
    sets_ = dedup_text.shingle_sketches(docs).localCheckpoint(eager=False)
    return dedup_text.minhash_lsh_pairs(sets_)


def _minhash_incremental_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    """Replays minhash_lsh_incremental(): same signatures/bands as
    _minhash_oracle, candidates restricted to new-batch x standing-corpus
    (the oracle signs everything — only the RESULT must match; the Spark
    side demonstrates the incremental cost shape)."""
    from ..functions.dedup_text import _MH_H30, _MH_P, _mh_params

    mins = ",\n              ".join(
        f"min(({a} * h30 + {b}) % {_MH_P}) AS mh{s}"
        for s, (a, b) in ((s, _mh_params(s)) for s in range(num_hashes))
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            b=bi,
            key=" || ',' || ".join(
                f"mh{bi * band_size + r}::VARCHAR" for r in range(band_size)
            ),
        )
        for bi in range(num_hashes // band_size)
    )
    return f"""WITH {_SH_SETS},
ex AS (SELECT doc_id, {_HASH60.format(x="sh")} % {_MH_H30} AS h30
       FROM (SELECT doc_id, unnest(sh_set) AS sh FROM sh_sets) u),
sig AS (SELECT doc_id,
              {mins}
        FROM ex GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey
         WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
j AS (SELECT doc_new, doc_old,
             CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
               / CAST(len(sa.sh_set) + len(sb.sh_set)
                      - len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) AS jaccard
      FROM cand
      JOIN sh_sets sa ON sa.doc_id = cand.doc_new
      JOIN sh_sets sb ON sb.doc_id = cand.doc_old)
SELECT doc_new, doc_old, jaccard FROM j WHERE jaccard >= 0.5"""


@_spec(
    "dedup_lsh_incremental",
    "crawl-ingest dedup: a new batch (doc_id % 10 = 0) near-dup-checked "
    "against the standing corpus through its prebuilt banded LSH index — "
    "the corpus is never re-signed; signatures are computed for the batch "
    "only, candidates join the stored (band, bkey) index, and exact-"
    "Jaccard verification touches only matched docs",
    _minhash_incremental_oracle(),
)
def q_dedup_lsh_incremental(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    new = dedup_text.shingle_sketches(docs.filter(F.col("doc_id") % 10 == 0))
    # the index build and the candidate verification both read the corpus
    # sets: materialize them once. The batch side is small enough that
    # re-shingling it costs less than a checkpoint (measured at sf0.1)
    corpus = dedup_text.shingle_sketches(
        docs.filter(F.col("doc_id") % 10 != 0)
    ).localCheckpoint(eager=False)
    return dedup_text.minhash_lsh_incremental(
        new, dedup_text.lsh_band_index(corpus), corpus
    )


def _simhash_oracle(bits: int = 16) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sketch = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, {_HASH60.format(x='tok')} AS h FROM tok),
    b AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({sketch} AS BIGINT) AS simhash FROM b"""


@_spec(
    "dedup_simhash",
    "16-bit frequency-weighted SimHash sketch per document",
    _simhash_oracle(),
)
def q_dedup_simhash(spark, sf_dir):
    return dedup_text.simhash(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_COS = (
    "list_dot_product(qe, e) / "
    "(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))"
)


@_spec(
    "sim_cosine_topk",
    "exact brute-force cosine top-5 per query vector (broadcast query set)",
    f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS q_id, e AS qe FROM c WHERE vec_id % 50 = 0),
    p AS (SELECT q_id, c.vec_id AS neighbor_id, {_COS} AS cos_sim
          FROM c, q WHERE c.vec_id != q.q_id)
    SELECT q_id, neighbor_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM p) t WHERE rnk <= 5""",
)
def q_sim_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return similarity.cosine_topk(emb, queries, k=5)


def _bucket_sql(col: str, planes: int = 8) -> str:
    return " + ".join(
        f"CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(planes)
    )


@_spec(
    "sim_lsh_bucket",
    "sign-bit LSH bucketed ANN: bucket equi-join replaces the cross join",
    f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                          {_bucket_sql("embedding")} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM c WHERE vec_id % 50 = 0),
    p AS (SELECT q_id, c.vec_id AS neighbor_id, {_COS} AS cos_sim
          FROM c JOIN q USING (bucket) WHERE c.vec_id != q.q_id)
    SELECT q_id, neighbor_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM p) t WHERE rnk <= 3""",
)
def q_sim_lsh_bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return similarity.signbit_lsh_topk(emb, queries, k=3, planes=8)


@_spec(
    "dedup_embedding",
    "embedding-cosine near-dup pairs: sign-bit bucket candidates, exact "
    "cosine verify (threshold calibrated to the synthetic corpus)",
    f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    b AS (SELECT vec_id, e, {_bucket_sql("e")} AS bucket FROM c),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))) AS cos_sim
          FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.3""",
)
def q_dedup_embedding(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.3, planes=8)


def _ivf_oracle(nlist: int = 8, nprobe: int = 2, k: int = 3) -> str:
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    return f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id < {nlist}),
    asn AS (SELECT vec_id, e, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY c_sim DESC, cent_id) AS c_rnk
            FROM (SELECT c.vec_id, c.e, cent.cent_id,
                         {cos.format(a="c.e", b="cent.ce")} AS c_sim
                  FROM c CROSS JOIN cent) s),
    cells AS (SELECT vec_id, e, cent_id AS cell FROM asn WHERE c_rnk = 1),
    q AS (SELECT vec_id, e FROM c WHERE vec_id % 50 = 0),
    probes AS (SELECT vec_id AS q_id, e AS qe, cent_id AS cell
               FROM (SELECT q.vec_id, q.e, cent.cent_id,
                            row_number() OVER (PARTITION BY q.vec_id
                                               ORDER BY {cos.format(a="q.e", b="cent.ce")} DESC,
                                                        cent_id) AS c_rnk
                     FROM q CROSS JOIN cent) s WHERE c_rnk <= {nprobe}),
    p AS (SELECT q_id, cells.vec_id AS neighbor_id,
                 {cos.format(a="cells.e", b="probes.qe")} AS cos_sim
          FROM cells JOIN probes USING (cell) WHERE cells.vec_id != q_id)
    SELECT q_id, neighbor_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM p) t WHERE rnk <= {k}"""


@_spec(
    "sim_ivf_topk",
    "IVF ANN: corpus binned to nearest of 8 deterministic centroids, queries "
    "probe 2 cells; oracle replays assignment + probe + top-k exactly",
    _ivf_oracle(),
)
def q_sim_ivf_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return similarity.ivf_topk(emb, queries, centroids, k=3, nprobe=2)


def _ivf_recall_oracle(nlist: int = 8, nprobe: int = 2, k: int = 3) -> str:
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    return f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id < {nlist}),
    asn AS (SELECT vec_id, e, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY c_sim DESC, cent_id) AS c_rnk
            FROM (SELECT c.vec_id, c.e, cent.cent_id,
                         {cos.format(a="c.e", b="cent.ce")} AS c_sim
                  FROM c CROSS JOIN cent) s),
    cells AS (SELECT vec_id, e, cent_id AS cell FROM asn WHERE c_rnk = 1),
    q AS (SELECT vec_id, e FROM c WHERE vec_id % 50 = 0),
    probes AS (SELECT vec_id AS q_id, e AS qe, cent_id AS cell
               FROM (SELECT q.vec_id, q.e, cent.cent_id,
                            row_number() OVER (PARTITION BY q.vec_id
                                               ORDER BY {cos.format(a="q.e", b="cent.ce")} DESC,
                                                        cent_id) AS c_rnk
                     FROM q CROSS JOIN cent) s WHERE c_rnk <= {nprobe}),
    ivf AS (SELECT q_id, neighbor_id FROM (
      SELECT q_id, cells.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY {cos.format(a="cells.e", b="probes.qe")} DESC,
                                         cells.vec_id) AS rnk
      FROM cells JOIN probes USING (cell) WHERE cells.vec_id != q_id) t
      WHERE rnk <= {k}),
    exq AS (SELECT vec_id AS q_id, e AS qe FROM c WHERE vec_id % 50 = 0),
    ex AS (SELECT q_id, neighbor_id FROM (
      SELECT q_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY {cos.format(a="c.e", b="exq.qe")} DESC,
                                         c.vec_id) AS rnk
      FROM c, exq WHERE c.vec_id != exq.q_id) t WHERE rnk <= {k})
    SELECT ivf.q_id, CAST(count(ex.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(ex.neighbor_id) AS DOUBLE) / {k}.0 AS recall_at_k
    FROM ivf LEFT JOIN ex
      ON ivf.q_id = ex.q_id AND ivf.neighbor_id = ex.neighbor_id
    GROUP BY ivf.q_id"""


@_spec(
    "sim_ivf_recall",
    "ANN quality audit: per-query recall@3 of the IVF index (8 cells, "
    "nprobe=2) against exact brute-force cosine top-3 — the measurement "
    "that justifies an approximate index in production (the nprobe dial "
    "trades this number against scan cost). Composes the two "
    "oracle-verified formulations; both sides and the join are exact, "
    "so recall itself hash-matches",
    _ivf_recall_oracle(),
)
def q_sim_ivf_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    k = 3
    ivf = similarity.ivf_topk(emb, queries, centroids, k=k, nprobe=2).select(
        "q_id", "neighbor_id"
    )
    exact = similarity.cosine_topk(emb, queries, k=k).select(
        "q_id", F.col("neighbor_id").alias("ex_neighbor_id")
    )
    hits = ivf.join(
        exact,
        (ivf.q_id == exact.q_id)
        & (ivf.neighbor_id == exact.ex_neighbor_id),
        "left",
    ).groupBy(ivf.q_id).agg(
        F.count("ex_neighbor_id").alias("n_hits"),
        (F.count("ex_neighbor_id").cast("double") / F.lit(float(k))).alias(
            "recall_at_k"
        ),
    )
    return hits


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

@_spec(
    "multimodal_binary_meta",
    "opaque-binary payload metadata via Arrow-batched mapInPandas "
    "(decode step stubbed; plumbing real)",
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS checksum,
              octet_length(encode(text)) % 640 AS fake_width,
              octet_length(encode(text)) % 480 AS fake_height
       FROM documents""",
)
def q_multimodal_binary_meta(spark, sf_dir):
    docs = multimodal.documents_as_binary(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_binary_meta(docs)


def _feature_oracle() -> str:
    # The array<double> feature is exploded to (doc_id, bucket_idx, value)
    # rows so the driver's canonicalizer can hash it (list columns are
    # unhashable in pandas). The library function keeps the array shape for
    # the similarity operators; only this catalog query flattens.
    buckets = ", ".join(
        "CAST(len(regexp_extract_all(text, '[\\x{lo:02x}-\\x{hi:02x}]')) AS DOUBLE)"
        "/ CAST(length(text) AS DOUBLE)".format(lo=b * 16, hi=b * 16 + 15)
        for b in range(16)
    )
    return f"""WITH t AS (SELECT doc_id, [{buckets}] AS feature FROM documents),
        idx AS (SELECT unnest(generate_series(0, 15)) AS bucket_idx)
    SELECT t.doc_id, idx.bucket_idx, t.feature[idx.bucket_idx + 1] AS value
    FROM t CROSS JOIN idx"""


@_spec(
    "multimodal_feature_extract",
    "feature extraction stub: 16-bucket L1-normalized byte histogram via "
    "mapInPandas, exploded to (doc_id, bucket_idx, value) rows — the "
    "array-valued library function feeds the similarity operators",
    _feature_oracle(),
)
def q_multimodal_feature_extract(spark, sf_dir):
    # corpus is ASCII so char-class counting in the oracle == byte buckets
    docs = multimodal.documents_as_binary(load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(docs)
    return feats.select(
        "doc_id", F.posexplode("feature").alias("bucket_idx", "value")
    ).withColumn("bucket_idx", F.col("bucket_idx").cast("bigint"))


@_spec(
    "multimodal_frame_sample",
    "video-style frame sampling: payload -> fixed-size frames, every 2nd "
    "kept, per-frame metadata (1->N Arrow-batch fan-out via mapInPandas)",
    """WITH f AS (
         SELECT doc_id, text,
                unnest(generate_series(0,
                  CAST(ceil(octet_length(encode(text)) / 256.0) AS INT) - 1)) AS frame_idx
         FROM documents)
       SELECT doc_id, frame_idx,
              octet_length(encode(substr(text, frame_idx * 256 + 1, 256))) AS frame_len,
              md5(substr(text, frame_idx * 256 + 1, 256)) AS frame_md5
       FROM f WHERE frame_idx % 2 = 0""",
)
def q_multimodal_frame_sample(spark, sf_dir):
    # the corpus is ASCII so char slicing == byte slicing in the oracle
    docs = multimodal.documents_as_binary(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(docs, frame_bytes=256, every=2)


# ---------------------------------------------------------------------------
# curation extras: PII scrubbing, repetition metrics, tf-idf key terms,
# embedding normalize/quantize
# ---------------------------------------------------------------------------

# deterministic PII augmentation: the synthetic corpus has no PII, so both
# engines inject identical tokens per doc and the redaction is verified on
# text that actually contains what the regexes target
_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com "
    "from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1 call 555-867-5309'"
)


@_spec(
    "text_pii_redact",
    "PII scrubbing: mask emails/IPv4s/phones with typed placeholders + "
    "per-class counts (map-only regexp_replace, no Python)",
    f"""WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{text.PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{text.PII_IPV4_RE}', '<IP>', 'g'),
             '{text.PII_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(text, '{text.PII_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{text.PII_IPV4_RE}')) AS n_ips,
           len(regexp_extract_all(text, '{text.PII_PHONE_RE}')) AS n_phones
    FROM aug""",
)
def q_text_pii_redact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 call 555-867-5309"),
        ),
    )
    out = text.pii_redact(aug)
    return out.select(
        "doc_id", "redacted",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ips").cast("long").alias("n_ips"),
        F.col("n_phones").cast("long").alias("n_phones"),
    )


@_spec(
    "text_repetition",
    "repetition quality signals: duplicate-token fraction, top-token "
    "share, duplicate-bigram fraction (Gopher-style)",
    f"""WITH r AS (SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS n FROM documents),
    g AS (SELECT doc_id, t, n,
            [t[i] || ' ' || t[i+1] for i in generate_series(1, n-1)] AS grams
          FROM r)
    SELECT doc_id,
      1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / CAST(n AS DOUBLE)
        AS dup_token_frac,
      CAST(list_max([len(list_filter(t, x -> x = u)) for u in list_distinct(t)])
           AS DOUBLE) / CAST(n AS DOUBLE) AS top_token_share,
      CASE WHEN len(grams) > 0
           THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                      / CAST(len(grams) AS DOUBLE)
           ELSE 0.0 END AS dup_2gram_frac
    FROM g""",
)
def q_text_repetition(spark, sf_dir):
    return text.repetition_score(load_table(spark, sf_dir, "documents"))


@_spec(
    "text_tfidf_topk",
    "top-3 characteristic terms per doc by tf-idf (raw N/df idf: exact "
    "IEEE arithmetic, no libm ln in the parity path)",
    f"""WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT doc_id, term, tf, df,
             (CAST(tf AS DOUBLE) * CAST((SELECT count(*) FROM documents) AS DOUBLE))
               / CAST(df AS DOUBLE) AS score
      FROM tf JOIN dfq USING (term))
    SELECT doc_id, term, tf, df, score, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rnk
      FROM scored) t WHERE rnk <= 3""",
)
def q_text_tfidf_topk(spark, sf_dir):
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@_spec(
    "emb_normalize",
    "L2 unit-normalization of the embedding column, flattened to "
    "(vec_id, i, val) rows for the oracle hash",
    """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM c),
    u AS (SELECT vec_id,
                 CASE WHEN nrm > 0 THEN [x / nrm for x in e] ELSE e END AS uv
          FROM n),
    f AS (SELECT vec_id, uv, unnest(generate_series(1, len(uv))) AS j FROM u)
    SELECT vec_id, CAST(j - 1 AS BIGINT) AS i, uv[j] AS val FROM f""",
)
def q_emb_normalize(spark, sf_dir):
    unit = similarity.l2_normalize(load_table(spark, sf_dir, "embeddings"))
    return unit.select(
        "vec_id", F.posexplode("unit_vec").alias("i", "val")
    ).withColumn("i", F.col("i").cast("bigint"))


@_spec(
    "dedup_keep_one",
    "end-to-end near-dup pipeline: jaccard pairs -> connected components "
    "-> keep the canonical doc of each cluster with its payload (the "
    "keep/drop decision a dedup job actually ships)",
    f"""WITH RECURSIVE {_JACCARD_CUT},
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pe
          UNION ALL SELECT doc_b, doc_a FROM pe),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
    cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id, d.lang, d.source, d.n_chars, cl.cluster_id
    FROM documents d JOIN cl USING (doc_id)
    WHERE cl.cluster_id = cl.doc_id""",
)
def q_dedup_keep_one(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_text.jaccard_pairs(dedup_text.shingle_sketches(docs))
    clusters = dedup_text.duplicate_clusters(docs, pairs)
    return curation.keep_canonical(docs, clusters)


@_spec(
    "text_ngram_counts",
    "corpus top-100 bigram census (explode + one combinable shuffle + "
    "TakeOrderedAndProject top-k; deterministic rank-boundary tiebreak)",
    f"""WITH r AS (SELECT {_TOKS} AS t, len({_TOKS}) AS n FROM documents),
    g AS (SELECT unnest([t[i] || ' ' || t[i+1]
                         for i in generate_series(1, n-1)]) AS gram FROM r)
    SELECT gram, count(*) AS cnt FROM g GROUP BY gram
    ORDER BY cnt DESC, gram LIMIT 100""",
)
def q_text_ngram_counts(spark, sf_dir):
    return text.ngram_counts(load_table(spark, sf_dir, "documents"), k=100)


@_spec(
    "corpus_group_stats",
    "per-(lang, source) corpus census: doc count, total chars, exact "
    "p25/p50/p75 doc length (dyadic fractions over ints are IEEE-exact, "
    "so Spark percentile == DuckDB quantile_cont bit-for-bit)",
    """SELECT lang, source, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_size,
              quantile_cont(n_chars, 0.25) AS p25_size,
              quantile_cont(n_chars, 0.50) AS p50_size,
              quantile_cont(n_chars, 0.75) AS p75_size
       FROM documents GROUP BY lang, source""",
)
def q_corpus_group_stats(spark, sf_dir):
    return text.corpus_group_stats(load_table(spark, sf_dir, "documents"))


@_spec(
    "corpus_stats_approx_audit",
    "scale-path percentile audit: exact interpolated p50 per (lang, "
    "source) PLUS a flag auditing the approx_percentile sketch (the "
    "100 TB escape hatch corpus_group_stats documents for giant groups) "
    "on the guarantee it actually makes — the RANK of the returned "
    "element is within 1/n + n/accuracy of the target (a value-distance "
    "bound would be wrong: on a 2-row group the discrete sketch "
    "legitimately returns an endpoint far from the interpolated median). "
    "Deterministic outputs only, so the sketch path runs under a "
    "hash-checked oracle (same pattern as events_approx_distinct)",
    """SELECT lang, source,
              quantile_cont(n_chars, 0.50) AS p50_exact,
              TRUE AS approx_within_bounds
       FROM documents GROUP BY lang, source""",
)
def q_corpus_stats_approx_audit(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars"
    )
    # pass 1: the sketch per group (combinable agg); ~100 group rows
    ap = docs.groupBy("lang", "source").agg(
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(10000)).alias("__ap")
    )
    # pass 2: broadcast the tiny sketch-result table back and measure the
    # returned value's true rank in its group. Under ties the rank of a
    # value v is not a point but the INTERVAL [#(<v)/n, #(<=v)/n]; the
    # sketch's guarantee holds iff that interval (widened by eps) covers
    # the target 0.5. Using only the one-sided #(<=v)/n mis-flags an
    # exact median that repeats (e.g. 2 of 5 rows tied at the median:
    # le_rank=0.8, lt_rank=0.4, interval [0.4, 0.8] contains 0.5 — OK).
    return (
        docs.join(F.broadcast(ap), ["lang", "source"])
        .groupBy("lang", "source")
        .agg(
            F.percentile("n_chars", F.lit(0.5)).alias("p50_exact"),
            (
                F.sum((F.col("n_chars") < F.col("__ap")).cast("long"))
                / F.count(F.lit(1))
            ).alias("__lt_rank"),
            (
                F.sum((F.col("n_chars") <= F.col("__ap")).cast("long"))
                / F.count(F.lit(1))
            ).alias("__le_rank"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn("__eps", F.lit(1.0) / F.col("__n") + F.lit(0.01))
        .withColumn(
            "approx_within_bounds",
            (F.col("__lt_rank") - F.col("__eps") <= F.lit(0.5))
            & (F.lit(0.5) <= F.col("__le_rank") + F.col("__eps")),
        )
        .select("lang", "source", "p50_exact", "approx_within_bounds")
    )


@_spec(
    "corpus_stats_incremental",
    "incremental aggregate maintenance: the corpus census folded from "
    "three ingest batches via algebraic partial-stats merge (n/sum/sumsq "
    "add, min/max fold — O(|groups|) per batch, corpus never rescanned), "
    "with mean/variance DERIVED from the mergeable parts at read time; "
    "oracle computes the same census directly over the full table, so "
    "incremental == from-scratch is the checked contract",
    """SELECT lang, source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(min(n_chars) AS BIGINT) AS min_chars,
              CAST(max(n_chars) AS BIGINT) AS max_chars,
              CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                AS mean_chars,
              (CAST(sum(n_chars::BIGINT * n_chars::BIGINT) AS DOUBLE)
               - (CAST(sum(n_chars) AS DOUBLE) * CAST(sum(n_chars) AS DOUBLE))
                 / CAST(count(*) AS DOUBLE))
              / CAST(count(*) AS DOUBLE) AS var_chars
       FROM documents GROUP BY lang, source""",
)
def q_corpus_stats_incremental(spark, sf_dir):
    from ..functions import incremental

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars", "doc_id"
    )
    keys = ["lang", "source"]
    stats = None
    for m in range(3):  # three "ingest batches"
        batch = docs.filter(F.col("doc_id") % 3 == m)
        stats = incremental.merge_group_stats(
            stats, incremental.group_stats(batch, keys, "n_chars"), keys
        )
    return incremental.derive_stats(stats).select(
        "lang",
        "source",
        F.col("n").alias("n_docs"),
        F.col("sum").alias("total_chars"),
        F.col("min").alias("min_chars"),
        F.col("max").alias("max_chars"),
        F.col("mean").alias("mean_chars"),
        F.col("var_pop").alias("var_chars"),
    )


@_spec(
    "corpus_ndv_incremental",
    "incremental DISTINCT-count maintenance: the one census column "
    "algebraic parts can't carry (|A∪B| != |A|+|B|) kept as a mergeable "
    "per-group HyperLogLog sketch, folded from three ingest batches via "
    "register-wise union (associative/commutative/IDEMPOTENT — replayed "
    "rows can't double-count) — O(|groups|) state, corpus never "
    "rescanned. Deterministic outputs are the exact distinct count plus "
    "a flag auditing the folded sketch's estimate against the HLL error "
    "bound (3x the 1.04/sqrt(2^lgk) standard error + 1 for tiny groups); "
    "oracle asserts the exact count and literal TRUE, so a drifting or "
    "double-counting sketch turns the row red (events_approx_distinct "
    "pattern)",
    """SELECT lang,
              CAST(count(DISTINCT text) AS BIGINT) AS ndv_exact,
              TRUE AS est_within_bounds
       FROM documents GROUP BY lang""",
)
def q_corpus_ndv_incremental(spark, sf_dir):
    from ..functions import incremental

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "text", "doc_id"
    )
    sk = None
    for m in range(3):  # three "ingest batches"
        batch = docs.filter(F.col("doc_id") % 3 == m)
        sk = incremental.merge_distinct_sketches(
            sk, incremental.group_distinct_sketch(batch, ["lang"], "text"),
            ["lang"],
        )
    est = incremental.estimate_distinct(sk)
    exact = docs.groupBy("lang").agg(
        F.count_distinct("text").alias("ndv_exact")
    )
    # 3-sigma HLL bound (se = 1.04/sqrt(2^lgk)) plus 1 absolute for
    # near-empty groups where the relative bound underflows
    bound = 3.0 * 1.04 / (2.0 ** (incremental.DEFAULT_LGK / 2))
    return (
        exact.join(F.broadcast(est), ["lang"])
        .withColumn(
            "est_within_bounds",
            F.abs(F.col("ndv_est") - F.col("ndv_exact"))
            <= F.col("ndv_exact") * F.lit(bound) + F.lit(1.0),
        )
        .select("lang", "ndv_exact", "est_within_bounds")
    )


def _kmeans_oracle(k: int = 8, iters: int = 2) -> str:
    """Replay every Lloyd iteration in SQL: assignment = argmin over the
    expanded-form distance (same association as Spark), update = exact
    fixed-point long sums -> mean (see functions/clustering.py docstring
    for why this is bit-stable across engines)."""
    d2 = (
        "(list_dot_product(e, e) - 2 * list_dot_product(e, ce))"
        " + list_dot_product(ce, ce)"
    )
    parts = [
        "WITH c AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e"
        " FROM embeddings)",
        f"cents0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id,"
        f" e AS ce FROM c ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, e, cent_id, {d2} AS d2"
            f" FROM c CROSS JOIN cents{i})"
        )
        parts.append(
            f"s{i} AS (SELECT vec_id, e, cent_id AS cell FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY vec_id"
            f" ORDER BY d2, cent_id) AS r FROM a{i}) t WHERE r = 1)"
        )
        if i == iters:
            break
        parts.append(
            f"f{i} AS (SELECT cell, e, unnest(generate_series(1, len(e))) AS j"
            f" FROM s{i})"
        )
        parts.append(
            f"u{i} AS (SELECT cell, j,"
            f" SUM(CAST(floor(e[j] * 1048576.0) AS BIGINT)) AS s,"
            f" COUNT(*) AS n FROM f{i} GROUP BY cell, j)"
        )
        parts.append(
            f"m{i} AS (SELECT cell AS cent_id,"
            f" list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0"
            f" ORDER BY j) AS ce FROM u{i} GROUP BY cell)"
        )
        parts.append(
            f"cents{i + 1} AS (SELECT c0.cent_id, COALESCE(m.ce, c0.ce) AS ce"
            f" FROM cents{i} c0 LEFT JOIN m{i} m ON m.cent_id = c0.cent_id)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT vec_id, CAST(cell AS INT) AS cell,"
        f" COUNT(*) OVER (PARTITION BY cell) AS cell_size FROM s{iters}"
    )


@_spec(
    "emb_kmeans",
    "distributed Lloyd's k-means (k=8, 2 iterations, deterministic init): "
    "map-only broadcast-literal assignment, fixed-point exact centroid "
    "sums; oracle replays every iteration",
    _kmeans_oracle(),
)
def q_emb_kmeans(spark, sf_dir):
    from ..functions import clustering

    out = clustering.kmeans(load_table(spark, sf_dir, "embeddings"), k=8, iters=2)
    return out.select(
        "vec_id", F.col("cell").cast("int").alias("cell"),
        F.col("cell_size").cast("long").alias("cell_size"),
    )


@_spec(
    "emb_quantize",
    "symmetric int8 quantization (scale=127/max|v|, floor(x*scale+0.5)): "
    "the 4x ANN-corpus footprint cut, flattened rows for the oracle",
    """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    m AS (SELECT vec_id, e, list_max([abs(x) for x in e]) AS amax FROM c),
    s AS (SELECT vec_id, e,
                 CASE WHEN amax > 0 THEN CAST(127.0 AS DOUBLE) / amax
                      ELSE CAST(1.0 AS DOUBLE) END AS scale
          FROM m),
    f AS (SELECT vec_id, scale, e, unnest(generate_series(1, len(e))) AS j FROM s)
    SELECT vec_id, scale, CAST(j - 1 AS BIGINT) AS i,
           CAST(floor(e[j] * scale + 0.5) AS INT) AS q FROM f""",
)
def q_emb_quantize(spark, sf_dir):
    qv = similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return qv.select(
        "vec_id", "scale", F.posexplode("q_vec").alias("i", "q")
    ).withColumn("i", F.col("i").cast("bigint"))


_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in text.GOPHER_STOPWORDS)


@_spec(
    "text_gopher_filters",
    "Gopher-style rule-based quality filters (word-count bounds, mean word "
    "length, type-token ratio, required stopwords) with auditable per-rule "
    "flags and a combined keep decision; map-only codegen'd scan",
    f"""WITH t AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
    m AS (SELECT doc_id, len(t) AS n_words,
                 CAST(length(regexp_replace(trim(lower(text)), '\\s+', '', 'g')) AS DOUBLE)
                   / len(t) AS mean_word_len,
                 CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
                 len(list_filter(list_distinct(t),
                     x -> x IN ({_GOPHER_STOP_SQL}))) AS n_req_stopwords
          FROM t)
    SELECT doc_id, n_words, mean_word_len, ttr, n_req_stopwords,
           (n_words >= 20 AND n_words <= 1000) AS ok_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
           (ttr >= 0.4) AS ok_ttr,
           (n_req_stopwords >= 1) AS ok_stopwords,
           ((n_words >= 20 AND n_words <= 1000)
            AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
            AND (ttr >= 0.4) AND (n_req_stopwords >= 1)) AS keep
    FROM m""",
)
def q_text_gopher_filters(spark, sf_dir):
    return text.gopher_flags(load_table(spark, sf_dir, "documents"))


@_spec(
    "text_commonness",
    "corpus-relative unigram commonness: per-doc mean corpus frequency of "
    "its tokens + rare-token ratio (exact integer sums -> deterministic "
    "divisions; the corpus-vocabulary signal doc-local quality ops miss)",
    f"""WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    census AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(cnt) AS DOUBLE) / count(*) AS avg_token_freq,
           CAST(sum(CASE WHEN cnt <= 5 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS rare_ratio
    FROM toks JOIN census USING (tok)
    GROUP BY doc_id""",
)
def q_text_commonness(spark, sf_dir):
    return text.token_commonness(load_table(spark, sf_dir, "documents"))


def _minhash_eval_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    """Combined replay: exact cut-jaccard pairs AND the MinHash-LSH
    pipeline, joined into one recall row. CTE names are disjoint from both
    source oracles so the two algorithms compose in one WITH clause."""
    from ..functions.dedup_text import _MH_H30, _MH_P, _mh_params

    mins = ",\n              ".join(
        f"min(({a} * h30 + {b}) % {_MH_P}) AS mh{s}"
        for s, (a, b) in ((s, _mh_params(s)) for s in range(num_hashes))
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            b=bi,
            key=" || ',' || ".join(
                f"mh{bi * band_size + r}::VARCHAR" for r in range(band_size)
            ),
        )
        for bi in range(num_hashes // band_size)
    )
    return f"""WITH {_JACCARD_CUT},
mh_ex AS (SELECT doc_id, {_HASH60.format(x="sh")} % {_MH_H30} AS h30
          FROM (SELECT doc_id, unnest(sh_set) AS sh FROM sh_sets) u),
sig AS (SELECT doc_id,
              {mins}
        FROM mh_ex GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
lsh_j AS (SELECT doc_a, doc_b,
             CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
               / CAST(len(sa.sh_set) + len(sb.sh_set)
                      - len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) AS jaccard
      FROM cand
      JOIN sh_sets sa ON sa.doc_id = cand.doc_a
      JOIN sh_sets sb ON sb.doc_id = cand.doc_b),
lsh_pe AS (SELECT doc_a, doc_b FROM lsh_j WHERE jaccard >= 0.5)
SELECT (SELECT count(*) FROM pe) AS n_exact,
       (SELECT count(*) FROM lsh_pe) AS n_lsh,
       (SELECT count(*) FROM pe JOIN lsh_pe USING (doc_a, doc_b)) AS n_common"""


@_spec(
    "dedup_minhash_eval",
    "LSH quality gate: MinHash-LSH pair set vs the exact cut-jaccard pair "
    "set in one row (n_exact/n_lsh/n_common) — the recall check a dedup "
    "job runs before trusting an LSH config at corpus scale, where only "
    "the LSH path is affordable and this sampled audit is the evidence",
    _minhash_eval_oracle(),
)
def q_dedup_minhash_eval(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # ONE shingle relation for both pipelines: build the (doc_id, sh_set)
    # relation once, materialize it, and hand it to both — the LSH
    # verification leg semi-joins the same materialized sets on
    # candidate ids instead of re-reading the corpus text
    sets_ = dedup_text.shingle_sketches(docs).localCheckpoint(eager=False)
    # each pair set feeds two consumers (its own count + the overlap join);
    # materialize the tiny pair relations once instead of replaying the
    # full jaccard/LSH pipelines per consumer
    exact = (
        dedup_text.jaccard_pairs(sets_).select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    lsh = (
        dedup_text.minhash_lsh_pairs(sets_)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_common = exact.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return n_exact.crossJoin(n_lsh).crossJoin(n_common)


# ---------------------------------------------------------------------------
# round-3 late additions: SemDeDup-style semantic dedup, token-budget
# source mixing, chunk-level exact dedup, and scored contamination
# ---------------------------------------------------------------------------

def _semantic_oracle(
    nlist: int = 8,
    threshold: float = 0.3,
    corpus: str = "SELECT vec_id, e FROM c",
) -> str:
    """`corpus` swaps the deduped vector set (the tombstone row replays
    SemDeDup over the FINAL post-churn corpus); centroids always come
    from the ORIGINAL corpus — a trained artifact does not drift."""
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    return f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id < {nlist}),
    corpus AS ({corpus}),
    asn AS (SELECT vec_id, e, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY c_sim DESC, cent_id) AS c_rnk
            FROM (SELECT c.vec_id, c.e, cent.cent_id,
                         {cos.format(a="c.e", b="cent.ce")} AS c_sim
                  FROM corpus c CROSS JOIN cent) s),
    cells AS (SELECT vec_id, e, cent_id AS cell FROM asn WHERE c_rnk = 1),
    dup AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {cos.format(a="a.e", b="b.e")} >= {threshold})
    SELECT cells.vec_id, CAST(cell AS INT) AS cell,
           (dup.vec_id IS NOT NULL) AS is_dup
    FROM cells LEFT JOIN dup ON cells.vec_id = dup.vec_id"""


@_spec(
    "dedup_semantic",
    "SemDeDup-style semantic dedup: nearest-centroid cells (broadcast "
    "scoring), within-cell cosine pairs only, greedy keep-lowest-id — "
    "dedup decisions are cell-local, no iteration",
    _semantic_oracle(),
)
def q_dedup_semantic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    return similarity.semantic_dedup(emb, centroids, threshold=0.3)


@_spec(
    "doc_source_mix",
    "token-budget training-mix assembly: greedy per-source fill in "
    "content-hash order (boosted budgets for named sources); one window "
    "shuffle on the source key",
    r"""WITH d AS (SELECT doc_id, source,
                  len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM documents),
       w AS (SELECT doc_id, source, n_tokens,
                    COALESCE(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY h, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum
             FROM d)
       SELECT doc_id, source, n_tokens FROM w
       WHERE cum < CASE WHEN source IN ('src0','src1')
                        THEN 900 ELSE 400 END""",
)
def q_doc_source_mix(spark, sf_dir):
    return curation.budget_mix(
        load_table(spark, sf_dir, "documents"),
        base_budget=400,
        boosts={"src0": 900, "src1": 900},
    )


@_spec(
    "doc_chunk_dedup",
    "chunk-level exact dedup across the corpus (paragraph-dedup analog): "
    "chunk, hash, keep first occurrence per distinct chunk; only 16-byte "
    "hashes shuffle",
    r"""WITH tok AS (
         SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
         FROM documents),
       c AS (SELECT doc_id, t, len(t) AS n,
                    CASE WHEN len(t) <= 64 THEN 1
                         ELSE CAST(ceil((len(t) - 64) / 48.0) AS INT) + 1
                    END AS nc
             FROM tok WHERE len(t) > 0),
       x AS (SELECT doc_id, t, unnest(range(0, CAST(nc AS BIGINT))) AS k
             FROM c),
       ch AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx,
                     md5(array_to_string(t[k*48+1 : k*48+64], ' ')) AS h
              FROM x),
       r AS (SELECT doc_id, chunk_idx,
                    row_number() OVER (PARTITION BY h
                                       ORDER BY doc_id, chunk_idx) AS rn
             FROM ch)
       SELECT doc_id, count(*) AS n_chunks,
              CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM r GROUP BY 1""",
)
def q_doc_chunk_dedup(spark, sf_dir):
    return curation.chunk_dedup(load_table(spark, sf_dir, "documents"))


@_spec(
    "doc_contamination",
    "scored train/eval contamination: fraction of each doc's distinct "
    "3-gram shingles present in the eval slice (doc_id % 97 = 0); eval "
    "reduces to distinct 60-bit hashes, broadcast membership join",
    r"""WITH tok AS (
         SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
         FROM documents),
       sh AS (SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in generate_series(1, len(t)-2)])) AS g
              FROM tok WHERE len(t) >= 3),
       shh AS (SELECT doc_id,
                      ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
               FROM sh),
       ev AS (SELECT DISTINCT gh FROM shh WHERE doc_id % 97 = 0)
       SELECT shh.doc_id, count(*) AS n_shingles,
              CAST(sum(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched,
              CAST(sum(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) AS contamination
       FROM shh LEFT JOIN ev ON shh.gh = ev.gh
       GROUP BY 1""",
)
def q_doc_contamination(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return curation.contamination_score(
        curation.doc_shingle_hashes(docs), curation.eval_shingle_hashes(eval_df)
    )


@_spec(
    "curation_pipeline_v2",
    "composed curation flow over the round-3 operators: exact dedup "
    "(keep min id per content hash) -> scored contamination filter "
    "(< 0.5 vs the doc_id % 97 eval slice; eval docs score 1.0 and drop) "
    "-> token-budget source mixing. Each stage is the standalone "
    "oracle-verified operator; this pins that they compose",
    r"""WITH ex AS (SELECT doc_id, source, text FROM (
         SELECT doc_id, source, text,
                row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn
         FROM documents) t WHERE rn = 1),
       tok AS (SELECT doc_id,
                      regexp_split_to_array(trim(lower(text)), '\s+') AS t
               FROM ex),
       sh AS (SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in generate_series(1, len(t)-2)])) AS g
              FROM tok WHERE len(t) >= 3),
       shh AS (SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS gh
               FROM sh),
       evtok AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
                 FROM documents WHERE doc_id % 97 = 0),
       evsh AS (SELECT DISTINCT ('0x'||substr(md5(g),1,15))::BIGINT AS gh
                FROM (SELECT unnest(list_distinct(
                               [array_to_string(t[i:i+2], ' ')
                                for i in generate_series(1, len(t)-2)])) AS g
                      FROM evtok WHERE len(t) >= 3) u),
       cont AS (SELECT shh.doc_id,
                       CAST(sum(CASE WHEN evsh.gh IS NOT NULL
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*) AS c
                FROM shh LEFT JOIN evsh ON shh.gh = evsh.gh GROUP BY 1),
       keep AS (SELECT ex.doc_id, ex.source, ex.text
                FROM ex JOIN cont ON ex.doc_id = cont.doc_id WHERE c < 0.5),
       d2 AS (SELECT doc_id, source,
                     len(regexp_split_to_array(trim(lower(text)), '\s+'))
                       AS n_tokens,
                     ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT AS h
              FROM keep),
       w AS (SELECT doc_id, source, n_tokens,
                    COALESCE(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY h, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum
             FROM d2)
       SELECT doc_id, source, n_tokens FROM w
       WHERE cum < CASE WHEN source IN ('src0','src1')
                        THEN 900 ELSE 400 END""",
)
def q_curation_pipeline_v2(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    keep_ids = dedup_text.exact_dedup(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    kept = docs.join(keep_ids, "doc_id", "left_semi")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    clean_ids = (
        curation.contamination_score(
            curation.doc_shingle_hashes(kept), curation.eval_shingle_hashes(ev)
        )
        .filter(F.col("contamination") < 0.5)
        .select("doc_id")
    )
    clean = kept.join(clean_ids, "doc_id", "left_semi")
    return curation.budget_mix(
        clean, base_budget=400, boosts={"src0": 900, "src1": 900}
    )


@_spec(
    "curation_pipeline_v3",
    "the full training-data curation order real pipelines run: "
    "exact-substring span removal (corpus-repeated 20-grams cut from the "
    "text) -> exact doc dedup over the CLEANED text -> fingerprint "
    "decontamination vs the doc_id % 97 eval slice -> token-budget "
    "source mixing on cleaned-token counts. Substring pass first: "
    "boilerplate inflates both dedup hashes and token budgets, so every "
    "downstream stage must see the rewritten text; each stage is a "
    "standalone oracle-verified operator, this pins the composition",
    r"""WITH d20 AS (SELECT doc_id, text FROM documents
                     WHERE length(text) >= 20),
    g AS (SELECT doc_id, unnest(range(1, length(text) - 20 + 2)) AS p, text
          FROM d20),
    h AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
                 ('0x' || substr(md5(substring(text, p, 20)), 1, 15))::BIGINT AS h
          FROM g),
    dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
    hits AS (SELECT h.doc_id, h.p FROM h JOIN dup USING (h)),
    isl AS (SELECT doc_id, p,
                   sum(CASE WHEN prev IS NULL OR p > prev + 20 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY p) AS island
            FROM (SELECT doc_id, p,
                         lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                  FROM hits) s),
    spans AS (SELECT doc_id, min(p) AS span_start, max(p) + 20 AS span_end
              FROM isl GROUP BY doc_id, island),
    cover AS (SELECT doc_id, unnest(range(span_start, span_end)) AS p
              FROM spans),
    pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS p
            FROM documents),
    kept_chars AS (SELECT pos.doc_id,
                          string_agg(substring(pos.text, pos.p, 1),
                                     '' ORDER BY pos.p) AS ct
                   FROM pos LEFT JOIN cover
                     ON pos.doc_id = cover.doc_id AND pos.p = cover.p
                   WHERE cover.p IS NULL GROUP BY pos.doc_id),
    cleaned AS (SELECT d.doc_id, d.source, COALESCE(kc.ct, '') AS text
                FROM documents d LEFT JOIN kept_chars kc USING (doc_id)),
    ex AS (SELECT doc_id, source, text FROM (
             SELECT doc_id, source, text,
                    row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) AS rn
             FROM cleaned) t WHERE rn = 1),
    fp AS (SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(
                    regexp_split_to_array(trim(lower(text)), '\s+'))), ' '))
                    AS f
           FROM ex),
    evfp AS (SELECT DISTINCT
                    md5(array_to_string(list_sort(list_distinct(
                      regexp_split_to_array(trim(lower(text)), '\s+'))), ' '))
                      AS f
             FROM documents WHERE doc_id % 97 = 0),
    keep AS (SELECT ex.doc_id, ex.source, ex.text
             FROM ex JOIN fp USING (doc_id)
             LEFT JOIN evfp ON fp.f = evfp.f WHERE evfp.f IS NULL),
    d2 AS (SELECT doc_id, source,
                  len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS n_tokens,
                  ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT AS hh
           FROM keep),
    w AS (SELECT doc_id, source, n_tokens,
                 COALESCE(sum(n_tokens) OVER (
                     PARTITION BY source ORDER BY hh, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum
          FROM d2)
    SELECT doc_id, source, n_tokens FROM w
    WHERE cum < CASE WHEN source IN ('src0','src1')
                     THEN 900 ELSE 400 END""",
)
def q_curation_pipeline_v3(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    spans = text.repeated_ngram_spans(docs, n=20, min_count=2)
    # the span-removal lineage (gram explode -> census -> islands ->
    # fold) feeds FOUR consumers below; without truncation each re-runs
    # it (multi-consumer replay pathology, NOTES.md r3)
    cleaned = text.remove_repeated_spans(docs, spans).localCheckpoint(
        eager=False
    )
    keep_ids = dedup_text.exact_dedup(cleaned).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    kept = cleaned.join(keep_ids, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    ev = docs.filter(F.col("doc_id") % 97 == 0)  # eval slice keeps RAW text
    clean_ids = curation.decontaminate(kept, ev)
    clean = kept.join(clean_ids, "doc_id", "left_semi")
    return curation.budget_mix(
        clean, base_budget=400, boosts={"src0": 900, "src1": 900}
    )


@_spec(
    "profile_documents",
    "one-scan table profile: per-column row / null / exact-distinct "
    "counts (single aggregation pass, stack() unpivot — no driver loop); "
    "the pre-ingest data-quality gate",
    """SELECT 'doc_id' AS "column", count(*) AS n_rows,
              CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_null,
              count(DISTINCT doc_id) AS n_distinct FROM documents
       UNION ALL
       SELECT 'text', count(*),
              CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT text) FROM documents
       UNION ALL
       SELECT 'lang', count(*),
              CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT lang) FROM documents
       UNION ALL
       SELECT 'source', count(*),
              CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT source) FROM documents
       UNION ALL
       SELECT 'n_chars', count(*),
              CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT n_chars) FROM documents""",
)
def q_profile_documents(spark, sf_dir):
    from ..functions.profiling import profile_table

    return profile_table(load_table(spark, sf_dir, "documents"))


@_spec(
    "doc_sample_k_per_source",
    "exactly-k-per-stratum deterministic sample (fixed SIZE, vs "
    "stratified_sample's fixed RATE): rank by content-stable hash, keep "
    "the first 5 per source; one window shuffle",
    """SELECT doc_id, source FROM (
         SELECT doc_id, source,
                row_number() OVER (
                  PARTITION BY source
                  ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
                           doc_id) AS rk
         FROM documents) t
       WHERE rk <= 5""",
)
def q_doc_sample_k(spark, sf_dir):
    return curation.sample_k_per_stratum(
        load_table(spark, sf_dir, "documents"), 5
    ).select("doc_id", "source")


@_spec(
    "text_repeated_spans",
    "exact-substring dedup, detection half (the post-doc-dedup "
    "boilerplate pass): maximal disjoint character spans whose 20-grams "
    "repeat corpus-wide (count >= 2), built from a 60-bit gram-hash "
    "census + per-doc gaps-and-islands merge — gram text never "
    "shuffles, only int hashes; stride is the documented recall/cost "
    "dial at corpus scale (stride=1 here, exact, replayed by the oracle)",
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 20),
    g AS (SELECT doc_id, unnest(range(1, length(text) - 20 + 2)) AS p, text
          FROM d),
    h AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
                 ('0x' || substr(md5(substring(text, p, 20)), 1, 15))::BIGINT AS h
          FROM g),
    dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
    hits AS (SELECT h.doc_id, h.p FROM h JOIN dup USING (h)),
    isl AS (SELECT doc_id, p,
                   sum(CASE WHEN prev IS NULL OR p > prev + 20 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY p) AS island
            FROM (SELECT doc_id, p,
                         lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
                  FROM hits) s)
    SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) + 20 AS BIGINT) AS span_end
    FROM isl GROUP BY doc_id, island""",
)
def q_text_repeated_spans(spark, sf_dir):
    spans = text.repeated_ngram_spans(
        load_table(spark, sf_dir, "documents"), n=20, min_count=2
    )
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


@_spec(
    "dedup_keep_best",
    "quality-aware keep/drop closing the near-dup pipeline: per "
    "duplicate cluster keep the LONGEST document (n_chars argmax, min-id "
    "tiebreak) instead of keep_one's positional canonical — the "
    "production rule when duplicates differ in quality (keep the full "
    "copy, drop the truncated mirror); one doc_id join + one "
    "cluster-keyed window, skew bounded by the LSH hot-bucket cap",
    f"""WITH RECURSIVE {_JACCARD_CUT},
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pe
          UNION ALL SELECT doc_b, doc_a FROM pe),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
    cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, n_chars, lang, source, cluster_id FROM (
      SELECT d.doc_id, d.lang, d.source, d.n_chars, cl.cluster_id,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM documents d JOIN cl USING (doc_id)) t
    WHERE rk = 1""",
)
def q_dedup_keep_best(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_text.jaccard_pairs(dedup_text.shingle_sketches(docs))
    clusters = dedup_text.duplicate_clusters(docs, pairs)
    return curation.keep_best(docs, clusters, score_col="n_chars")


@_spec(
    "text_pretoken_stats",
    "token accounting under a REAL subword pre-tokenizer (GPT-2-style "
    "regex, restricted to Java+RE2-common syntax so the oracle replays "
    "it exactly): whitespace words vs pre-token count (a lower bound on "
    "BPE tokens) vs the chars/4 estimate — the three unit systems "
    "data budgets get quoted in; map-only codegen'd regexp scan",
    r"""SELECT doc_id,
              CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS INT)
                AS n_words,
              CAST(len(list_filter(
                     regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|''|\s+'),
                     x -> trim(x) != '')) AS INT) AS n_pretokens,
              CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
       FROM documents""",
)
def q_text_pretoken_stats(spark, sf_dir):
    return text.pretoken_stats(load_table(spark, sf_dir, "documents"))


@_spec(
    "doc_contamination_bloom",
    "Bloom-filter contamination pre-screen audited against the exact "
    "membership join: an 8192-bit / 4-probe bloom over the eval slice's "
    "3-gram hashes (functions/membership.py — bit positions are the "
    "literal CMS affine hashes, words pack 32 bits per int64, bit_or "
    "merge is idempotent), probed map-side per training shingle. The "
    "one-sided contract bloom_matched >= n_matched must hold for every "
    "doc (a bloom miss is a certified true negative — that is what lets "
    "clean docs skip the exact join entirely at corpus scale); the "
    "oracle replays every bit of the filter",
    r"""WITH tok AS (
         SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
         FROM documents),
       sh AS (SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in generate_series(1, len(t)-2)])) AS g
              FROM tok WHERE len(t) >= 3),
       shh AS (SELECT doc_id, g,
                      ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
               FROM sh),
       hc AS (SELECT * FROM (VALUES (0, 1664525, 1013904223),
                                    (1, 1103515245, 12345),
                                    (2, 22695477, 1),
                                    (3, 214013, 2531011)) AS t(i, a, b)),
       evpos AS (SELECT DISTINCT
                   ((hc.a * (((s.gh % 2147483647) + 2147483647)
                             % 2147483647) + hc.b)
                    % 2147483647) % 8192 AS pos
                 FROM shh s CROSS JOIN hc WHERE s.doc_id % 97 = 0),
       bw AS (SELECT pos // 32 AS w,
                     bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS word
              FROM evpos GROUP BY 1),
       pr AS (SELECT s.doc_id, s.g, s.gh,
                     ((hc.a * (((s.gh % 2147483647) + 2147483647)
                               % 2147483647) + hc.b)
                      % 2147483647) % 8192 AS pos
              FROM shh s CROSS JOIN hc),
       probe AS (SELECT pr.doc_id, pr.g, pr.gh,
                        bool_and((COALESCE(bw.word, 0)
                                  & (1::BIGINT << CAST(pr.pos % 32 AS INTEGER)))
                                 <> 0) AS hit
                 FROM pr LEFT JOIN bw ON bw.w = pr.pos // 32
                 GROUP BY 1, 2, 3),
       ev AS (SELECT DISTINCT gh FROM shh WHERE doc_id % 97 = 0)
       SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
              CAST(sum(CASE WHEN p.hit THEN 1 ELSE 0 END) AS BIGINT)
                AS bloom_matched,
              CAST(sum(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched,
              CAST(sum(CASE WHEN p.hit THEN 1 ELSE 0 END) AS BIGINT)
                >= CAST(sum(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS bloom_ge_exact
       FROM probe p LEFT JOIN ev ON p.gh = ev.gh
       GROUP BY 1""",
)
def q_doc_contamination_bloom(spark, sf_dir):
    from ..functions import membership

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    # the audit runs BOTH probes over the same corpus: the (doc_id, gh)
    # shingle explode feeds the bloom prefilter AND the exact membership
    # join, and the eval hashes feed the bloom build AND the exact side —
    # without a barrier each consumer replays the tokenize+shingle+hash
    # pass (multi-consumer replay, NOTES r3; same move as
    # dedup_minhash_eval's shared shingle relation)
    tr = curation.doc_shingle_hashes(docs).localCheckpoint(eager=False)
    evh = curation.eval_shingle_hashes(eval_df).localCheckpoint(eager=False)
    bloom = membership.bloom_from_hashes(evh, "gh")
    pre = membership.contamination_prefilter_from_hashes(tr, bloom)
    exact = curation.contamination_score(tr, evh).select(
        "doc_id", "n_matched"
    )
    return pre.join(exact, "doc_id").select(
        "doc_id", "n_shingles", "bloom_matched", "n_matched",
        (F.col("bloom_matched") >= F.col("n_matched")).alias("bloom_ge_exact"),
    )


def _pq_rerank_oracle(n_sub=8, subdim=8, n_codes=32, shortlist=100, k=3,
                      q_mod=50):
    """SQL twin of the full PQ pipeline: slice codebooks -> argmin encode
    -> ADC distance tables -> sub-ordered estimate fold (the explicit
    (((0.0+d0)+d1)+...) chain replays Spark's sequential aggregate
    bit-for-bit — float addition is not associative, so the order is
    part of the contract) -> top-C shortlist -> exact re-rank."""

    def l2(a, b):
        return (
            f"(list_dot_product({a}, {a}) - 2*list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}))"
        )

    c_sl = f"list_slice(c.e, cb.sub*{subdim} + 1, cb.sub*{subdim} + {subdim})"
    q_sl = f"list_slice(q.qe, cb.sub*{subdim} + 1, cb.sub*{subdim} + {subdim})"
    adc_sum = "0.0"
    for s in range(n_sub):
        adc_sum = f"({adc_sum} + d{s})"
    pivots = ", ".join(
        f"max(CASE WHEN sub = {s} THEN dist END) AS d{s}" for s in range(n_sub)
    )
    return f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    subs AS (SELECT CAST(i AS INTEGER) AS sub FROM generate_series(0, {n_sub - 1}) t(i)),
    cb AS (SELECT subs.sub, CAST(b.vec_id AS INTEGER) AS code,
                  list_slice(b.e, subs.sub*{subdim} + 1, subs.sub*{subdim} + {subdim}) AS cvec
           FROM c b CROSS JOIN subs WHERE b.vec_id < {n_codes}),
    enc0 AS (SELECT c.vec_id, cb.sub, cb.code, {l2(c_sl, "cb.cvec")} AS dist
             FROM c CROSS JOIN cb),
    enc AS (SELECT vec_id, sub, code FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                           ORDER BY dist, code) AS rn
              FROM enc0) t WHERE rn = 1),
    q AS (SELECT vec_id AS q_id, e AS qe FROM c WHERE vec_id % {q_mod} = 0),
    qd AS (SELECT q.q_id, cb.sub, cb.code, {l2(q_sl, "cb.cvec")} AS dist
           FROM q CROSS JOIN cb),
    adc0 AS (SELECT qd.q_id, enc.vec_id AS neighbor_id, qd.sub, qd.dist
             FROM enc JOIN qd ON qd.sub = enc.sub AND qd.code = enc.code
             WHERE enc.vec_id != qd.q_id),
    adcp AS (SELECT q_id, neighbor_id, {pivots} FROM adc0 GROUP BY 1, 2),
    adc AS (SELECT q_id, neighbor_id, {adc_sum} AS pq_dist FROM adcp),
    short AS (SELECT q_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY q_id
                                             ORDER BY pq_dist, neighbor_id) AS rn
                FROM adc) t WHERE rn <= {shortlist}),
    rer AS (SELECT s.q_id, s.neighbor_id, {l2("n.e", "q.qe")} AS l2_dist
            FROM short s JOIN c n ON n.vec_id = s.neighbor_id
            JOIN q ON q.q_id = s.q_id)
    SELECT q_id, neighbor_id, l2_dist, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY l2_dist, neighbor_id) AS rnk
      FROM rer) t WHERE rnk <= {k}"""


@_spec(
    "sim_pq_rerank",
    "product-quantization ANN in its production serving shape: the "
    "corpus is PQ-encoded (8 subspaces x 32 codewords — 32x smaller "
    "than the float vectors), ADC table lookups prune to a 100-deep "
    "shortlist per query, and exact squared-L2 re-ranks only the "
    "shortlist (functions/similarity.pq_encode / pq_topk / "
    "pq_shortlist_rerank). Codewords are fixed corpus rows so the "
    "oracle replays every argmin, every ADC fold (sub-ordered — float "
    "addition is not associative) and the final ranking bit-for-bit; "
    "production trains codebooks with per-subspace k-means "
    "(functions/clustering.kmeans_centroids), exercised in "
    "tests/test_curation.py::test_pq_trained_codebooks",
    _pq_rerank_oracle(),
)
def q_sim_pq_rerank(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # the codebook subtree (pruned scan + subspace explode + slice) feeds
    # TWO broadcasts — pq_encode's corpus crossJoin and pq_topk's query
    # distance table; materialize its 256 rows once (r13, guide §2.2)
    cb = similarity.subvector_codebooks(
        emb.filter(F.col("vec_id") < 32), n_sub=8
    ).localCheckpoint(eager=False)
    codes = similarity.pq_encode(emb, cb, n_sub=8)
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return similarity.pq_shortlist_rerank(
        codes, emb, q, cb, k=3, shortlist=100, n_sub=8
    )


_BM25_QUERIES = [
    (0, "hash join"),
    (1, "window agg stream"),
    (2, "slow scan filter vector"),
]


def _bm25_oracle(queries, k=10, k1=1.2, b=0.75):
    """SQL twin of the full BM25 pipeline: tf/df/length censuses, the
    raw (un-logged, cross-engine-deterministic) Robertson idf, the
    saturation term with identical expression-tree parenthesization,
    and the per-(query, doc) score assembled as pivot columns folded in
    one GLOBAL lexicographic term chain — Spark folds each doc's matched
    terms in term order, and interleaving the absent terms as +0.0 is
    an exact identity, so the single chain replays every query's fold
    bit-for-bit. Float literals go through repr() so both engines parse
    the identical double."""
    vals = ", ".join(
        f"({qid}, '{t}')"
        for qid, qt in queries
        for t in sorted(set(qt.split()))
    )
    all_terms = sorted({t for _, qt in queries for t in qt.split()})
    pivots = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN sc END) AS s_{i}"
        for i, t in enumerate(all_terms)
    )
    chain = "0.0"
    for i in range(len(all_terms)):
        chain = f"({chain} + COALESCE(s_{i}, 0.0))"
    k1p1, omb, k1r, br = repr(k1 + 1.0), repr(1.0 - b), repr(k1), repr(b)
    return f"""WITH base AS (SELECT doc_id, len({_TOKS}) AS dl,
                     unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM base GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl
              FROM (SELECT DISTINCT doc_id, dl FROM tf)),
    q(q_id, term) AS (VALUES {vals}),
    scored AS (SELECT q.q_id, tf.doc_id, tf.term,
        (((CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
          / (CAST(d.df AS DOUBLE) + 0.5))
         * (({k1p1} * CAST(tf.tf AS DOUBLE))
            / (CAST(tf.tf AS DOUBLE)
               + {k1r} * ({omb} + ({br} * CAST(tf.dl AS DOUBLE))
                                  / (CAST(s.sum_dl AS DOUBLE)
                                     / CAST(s.n_docs AS DOUBLE)))))) AS sc
      FROM tf JOIN q ON q.term = tf.term
      JOIN dfreq d ON d.term = tf.term CROSS JOIN stats s),
    piv AS (SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                   {pivots}
            FROM scored GROUP BY 1, 2),
    agg AS (SELECT q_id, doc_id, n_terms, {chain} AS score FROM piv)
    SELECT q_id, doc_id, n_terms, score, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY score DESC, doc_id) AS rnk
          FROM agg) t
    WHERE rnk <= {k}"""


@_spec(
    "text_bm25_topk",
    "BM25 lexical top-k retrieval (functions/retrieval.bm25_topk): the "
    "sparse counterpart to the ANN family for RAG candidate generation "
    "and leakage probes. Corpus tf/df censuses shuffle once each; the "
    "query-term relation broadcasts, pruning the corpus to matching "
    "terms before any scoring; per-doc scores fold in lexicographic "
    "term order (float addition is not associative — the ordered chain "
    "is the oracle contract). raw-idf mode: products of exact integer "
    "counts, bit-exact across engines; ln-idf mode is the production "
    "ranking variant, unit-tested",
    _bm25_oracle(_BM25_QUERIES),
)
def q_text_bm25_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERIES, "q_id int, q_text string"
    )
    return retrieval.bm25_topk(docs, queries, k=10)


def _dsir_oracle(n_buckets=64):
    """SQL twin of the bucketed DSIR weights: bigram multiset -> hash60
    bucket -> three censuses (target 1-row, raw 1-row, per-doc) as CASE
    pivots -> the identical smoothed-ratio add chain in bucket order.
    Every count is an exact integer; each rho is two IEEE divisions;
    the chain parenthesization mirrors the Spark fold term-for-term."""
    h = _HASH60.format(x="gram")
    bf = repr(float(n_buckets))

    def pivots(pre):
        return ", ".join(
            f"SUM(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS {pre}{i}"
            for i in range(n_buckets)
        )

    chain = "0.0"
    for i in range(n_buckets):
        rho = (
            f"(((CAST(t{i} AS DOUBLE) + 1.0) / (CAST(t_total AS DOUBLE) + {bf}))"
            f" / ((CAST(r{i} AS DOUBLE) + 1.0) / (CAST(r_total AS DOUBLE) + {bf})))"
        )
        chain = f"({chain} + (CAST(c{i} AS DOUBLE) * {rho}))"
    return f"""WITH base AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    g0 AS (SELECT doc_id, lang,
                  unnest([array_to_string(t[i:i+1], ' ')
                          for i in generate_series(1, len(t)-1)]) AS gram
           FROM base WHERE len(t) >= 2),
    g AS (SELECT doc_id, lang, {h} % {n_buckets} AS b FROM g0),
    tc AS (SELECT count(*) AS t_total, {pivots('t')} FROM g WHERE lang = 'en'),
    rc AS (SELECT count(*) AS r_total, {pivots('r')} FROM g),
    pd AS (SELECT doc_id, count(*) AS n_grams, {pivots('c')}
           FROM g GROUP BY 1)
    SELECT doc_id, n_grams, ({chain} / CAST(n_grams AS DOUBLE)) AS weight
    FROM pd CROSS JOIN tc CROSS JOIN rc"""


@_spec(
    "doc_dsir_weights",
    "bucketed DSIR importance weights (functions/curation.dsir_weights; "
    "Xie et al. 2023): every raw document scored by hashed-bigram "
    "likelihood ratio against the English subcorpus as the target — the "
    "data-mixing step between quality filtering and budget_mix. Linear "
    "smoothed-ratio form (no ln: libm-dependent, breaks bit-exact "
    "oracles); per-doc bucket pivot is ONE combinable hash aggregation, "
    "censuses reduce to single broadcast rows, and the weight folds as "
    "an explicit bucket-ordered add chain the oracle replays exactly",
    _dsir_oracle(),
)
def q_doc_dsir_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return curation.dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=64
    )


@_spec(
    "doc_importance_resample",
    "the resampling half of DSIR (functions/curation.importance_resample "
    "over dsir_weights): keep each document with probability "
    "min(1, weight * rate) using the content-stable hash60 as the "
    "uniform draw — deterministic across runs and engines (the "
    "stratified_sample convention, not rand()), a pure map-side filter "
    "composable into budget_mix / pack_sequences. rate=0.5 yields "
    "roughly half the corpus, tilted toward target-like documents",
    f"""SELECT doc_id, n_grams, weight FROM ({_dsir_oracle()}) dsir
    WHERE (CAST({_HASH60.format(x="CAST(doc_id AS VARCHAR)")} AS DOUBLE)
           / {float(1 << 60)!r}) < (weight * 0.5)""",
)
def q_doc_importance_resample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = curation.dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=64
    )
    return curation.importance_resample(w, rate=0.5)


@_spec(
    "text_vocab_growth",
    "Heaps'-law vocabulary growth curve (functions/text.vocab_growth): "
    "new vs cumulative distinct bigrams per deterministic hash slice of "
    "the corpus — the does-more-data-still-buy-novelty signal and the "
    "dedup-rate denominator. Slices assign map-side (no global-order "
    "window funneling the corpus through one task); first-seen slice is "
    "min(slice) per 60-bit gram hash (text never shuffles); the "
    "cumulative window runs over n_slices rows",
    f"""WITH base AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g0 AS (SELECT doc_id,
                  unnest([array_to_string(t[i:i+1], ' ')
                          for i in generate_series(1, len(t)-1)]) AS gram
           FROM base WHERE len(t) >= 2),
    g AS (SELECT CAST({_HASH60.format(x="CAST(doc_id AS VARCHAR)")} % 10
                      AS INTEGER) AS slice,
                 doc_id, {_HASH60.format(x="gram")} AS gh
          FROM g0),
    ps AS (SELECT slice, count(DISTINCT doc_id) AS n_docs,
                  count(*) AS n_grams FROM g GROUP BY 1),
    fs AS (SELECT first_slice AS slice, count(*) AS new_grams
           FROM (SELECT gh, min(slice) AS first_slice FROM g GROUP BY 1)
           GROUP BY 1)
    SELECT ps.slice, ps.n_docs, ps.n_grams,
           COALESCE(fs.new_grams, 0) AS new_grams,
           CAST(sum(COALESCE(fs.new_grams, 0))
                OVER (ORDER BY ps.slice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_grams
    FROM ps LEFT JOIN fs USING (slice)""",
)
def q_text_vocab_growth(spark, sf_dir):
    return text.vocab_growth(load_table(spark, sf_dir, "documents"))


_PHRASES = [(0, "hash join"), (1, "window agg"), (2, "slow scan filter")]


def _phrase_oracle(phrases, corpus: str = "SELECT doc_id, text FROM documents"):
    """SQL twin of the positional-index phrase reduction: 1-based token
    positions via generate_series, phrase terms as literal (phrase_id,
    offset, term, n_terms) rows, hits normalized to start = pos - offset,
    HAVING count(*) == n_terms per start. Exact integers throughout.
    `corpus` swaps the document set (the tombstone rows replay phrase
    search over the FINAL post-churn corpus)."""
    vals = ", ".join(
        f"({pid}, {off}, '{t}', {len(ptext.split())})"
        for pid, ptext in phrases
        for off, t in enumerate(ptext.split())
    )
    return f"""WITH corpus AS ({corpus}),
    base AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
    p0 AS (SELECT doc_id, t,
                  unnest(generate_series(1, len(t))) AS pos FROM base),
    p AS (SELECT doc_id, pos, t[pos] AS term FROM p0),
    q(phrase_id, off, term, n_terms) AS (VALUES {vals}),
    hits AS (SELECT p.doc_id, q.phrase_id, q.n_terms,
                    p.pos - q.off AS start
             FROM p JOIN q ON q.term = p.term),
    starts AS (SELECT doc_id, phrase_id, start
               FROM hits GROUP BY doc_id, phrase_id, start, n_terms
               HAVING count(*) = n_terms)
    SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM starts GROUP BY 1, 2"""


@_spec(
    "text_phrase_match",
    "exact phrase search via the positional-index reduction "
    "(functions/retrieval.phrase_match): a phrase occurs at start s iff "
    "every (term, offset) matches at s + offset, so broadcast phrase "
    "terms prune the positional postings BEFORE any shuffle and a "
    "groupBy on (doc, phrase, start) counts full matches — exact even "
    "for phrases with repeated terms, integers throughout",
    _phrase_oracle(_PHRASES),
)
def q_text_phrase_match(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    phrases = spark.createDataFrame(_PHRASES, "phrase_id int, phrase string")
    return retrieval.phrase_match(docs, phrases)


@_spec(
    "text_collocations",
    "top-k collocations by lift (functions/text.collocations): observed "
    "adjacent-pair probability over the independence expectation — PMI "
    "without the log (monotone, so PMI's ranking) from exact integer "
    "censuses, min_count-floored against hapax instability. The phrase-"
    "mining step that seeds a multi-word vocabulary. Unigram + bigram "
    "censuses are combinable groupBys; top-k is distributed "
    "orderBy+limit, never a census-wide single-partition window",
    f"""WITH base AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM base),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
    ut AS (SELECT count(*) AS n_uni FROM uni),
    bi AS (SELECT t[i] AS w1, t[i+1] AS w2
           FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
                 FROM base WHERE len(t) >= 2)),
    bc AS (SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2),
    bt AS (SELECT count(*) AS n_bi FROM bi),
    scored AS (SELECT bc.w1, bc.w2, bc.n_pair, u1.c AS c1, u2.c AS c2,
        ((CAST(bc.n_pair AS DOUBLE) / CAST(bt.n_bi AS DOUBLE))
         / ((CAST(u1.c AS DOUBLE) / CAST(ut.n_uni AS DOUBLE))
            * (CAST(u2.c AS DOUBLE) / CAST(ut.n_uni AS DOUBLE)))) AS lift
      FROM bc
      JOIN uc u1 ON u1.w = bc.w1
      JOIN uc u2 ON u2.w = bc.w2
      CROSS JOIN ut CROSS JOIN bt
      WHERE bc.n_pair >= 5)
    SELECT w1, w2, n_pair, c1, c2, lift, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rnk
          FROM scored) s
    WHERE rnk <= 20""",
)
def q_text_collocations(spark, sf_dir):
    return text.collocations(load_table(spark, sf_dir, "documents"))


_HYBRID_QUERIES = [
    (0, "hash"), (100, "join"), (200, "window"), (300, "scan"),
    (400, "merge"),
]


@_spec(
    "sim_hybrid_rrf",
    "hybrid lexical+dense retrieval fused by reciprocal-rank fusion "
    "(functions/retrieval.rrf_fuse; Cormack et al. 2009): BM25 top-20 "
    "over documents and exact cosine top-20 over the id-aligned "
    "embeddings combine as sum(1/(60+rank)) per source — the standard "
    "calibration-free production fusion. Each term is one IEEE division "
    "of integer ranks; the sum is a source-ordered add chain with "
    "absent sources as +0.0, so the oracle replays both rankers AND the "
    "fusion bit-for-bit. Fusion cost is |Q| x k x 2 rows — independent "
    "of corpus size",
    f"""WITH cemb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dq AS (SELECT vec_id AS q_id, e AS qe FROM cemb WHERE vec_id % 100 = 0),
    dp AS (SELECT q_id, cemb.vec_id AS neighbor_id, {_COS} AS cos_sim
           FROM cemb, dq WHERE cemb.vec_id != dq.q_id),
    den AS (SELECT q_id, neighbor_id AS doc_id, rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rnk
              FROM dp) t WHERE rnk <= 20),
    lex AS (SELECT q_id, doc_id, rnk
            FROM ({_bm25_oracle(_HYBRID_QUERIES, k=20)}) bm),
    u AS (SELECT q_id, doc_id, 0 AS src, rnk FROM lex
          UNION ALL SELECT q_id, doc_id, 1 AS src, rnk FROM den),
    piv AS (SELECT q_id, doc_id,
                   min(CASE WHEN src = 0 THEN rnk END) AS r0,
                   min(CASE WHEN src = 1 THEN rnk END) AS r1
            FROM u GROUP BY 1, 2),
    sc AS (SELECT q_id, doc_id, r0 AS lex_rnk, r1 AS dense_rnk,
                  ((0.0 + COALESCE(1.0 / (60.0 + CAST(r0 AS DOUBLE)), 0.0))
                   + COALESCE(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0)) AS rrf
           FROM piv)
    SELECT q_id, doc_id, lex_rnk, dense_rnk, rrf,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY rrf DESC, doc_id) AS rnk FROM sc) t
    WHERE rnk <= 5""",
)
def q_sim_hybrid_rrf(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tq = spark.createDataFrame(_HYBRID_QUERIES, "q_id long, q_text string")
    lex = retrieval.bm25_topk(docs, tq, k=20)
    dq = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    den = similarity.cosine_topk(emb, dq, k=20).withColumnRenamed(
        "neighbor_id", "doc_id"
    )
    fused = retrieval.rrf_fuse(
        [lex.select("q_id", "doc_id", "rnk"), den.select("q_id", "doc_id", "rnk")],
        k=5,
    )
    return fused.select(
        "q_id", "doc_id",
        F.col("r0").alias("lex_rnk"), F.col("r1").alias("dense_rnk"),
        "rrf", "rnk",
    )


@_spec(
    "text_kneser_ney",
    "interpolated Kneser-Ney bigram LM estimation "
    "(functions/text.kneser_ney_bigrams) — the count side of training a "
    "KenLM-style n-gram model for perplexity filtering / CCNet-style "
    "domain scoring. Continuation counts use c(w1 .) = total bigrams "
    "opened by w1 (a doc's last token opens none); every census is an "
    "exact integer aggregate and the probability is one pinned "
    "parenthesization over them, so the oracle replays it bit-for-bit; "
    "the bigram census feeds four derived censuses via one checkpoint",
    f"""WITH base AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bi AS (SELECT t[i] AS w1, t[i+1] AS w2
           FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
                 FROM base WHERE len(t) >= 2)),
    bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
    w1s AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
                   count(*) AS n1w1 FROM bc GROUP BY 1),
    w2s AS (SELECT w2, count(*) AS n1w2 FROM bc GROUP BY 1),
    tot AS (SELECT count(*) AS n1all FROM bc)
    SELECT bc.w1, bc.w2, bc.c,
           ((greatest(CAST(bc.c AS DOUBLE) - 0.75, 0.0)
             / CAST(w1s.c1 AS DOUBLE))
            + (((0.75 * CAST(w1s.n1w1 AS DOUBLE)) / CAST(w1s.c1 AS DOUBLE))
               * (CAST(w2s.n1w2 AS DOUBLE) / CAST(tot.n1all AS DOUBLE))))
             AS pkn
    FROM bc JOIN w1s ON w1s.w1 = bc.w1 JOIN w2s ON w2s.w2 = bc.w2
    CROSS JOIN tot
    WHERE bc.c >= 5""",
)
def q_text_kneser_ney(spark, sf_dir):
    return text.kneser_ney_bigrams(
        load_table(spark, sf_dir, "documents"), min_count=5
    )


@_spec(
    "text_lm_surprisal",
    "perplexity-style filtering made cross-engine-exact "
    "(functions/text.lm_surprisal_flags): per doc, the count and ratio "
    "of bigrams improbable (P < 0.01) under the corpus's own Kneser-Ney "
    "bigram LM — the same decision boundary a perplexity filter "
    "thresholds, with every aggregate an exact integer. The LM table is "
    "vocab^2-bounded and joins keyed (w1, w2); one combinable doc "
    "groupBy closes it",
    f"""WITH base AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
                 FROM base WHERE len(t) >= 2)),
    bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
    w1s AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
                   count(*) AS n1w1 FROM bc GROUP BY 1),
    w2s AS (SELECT w2, count(*) AS n1w2 FROM bc GROUP BY 1),
    tot AS (SELECT count(*) AS n1all FROM bc),
    lm AS (SELECT bc.w1, bc.w2,
                  ((greatest(CAST(bc.c AS DOUBLE) - 0.75, 0.0)
                    / CAST(w1s.c1 AS DOUBLE))
                   + (((0.75 * CAST(w1s.n1w1 AS DOUBLE))
                       / CAST(w1s.c1 AS DOUBLE))
                      * (CAST(w2s.n1w2 AS DOUBLE)
                         / CAST(tot.n1all AS DOUBLE)))) AS pkn
           FROM bc JOIN w1s ON w1s.w1 = bc.w1 JOIN w2s ON w2s.w2 = bc.w2
           CROSS JOIN tot)
    SELECT bi.doc_id, count(*) AS n_bigrams,
           CAST(sum(CASE WHEN lm.pkn < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_surprising,
           CAST(sum(CASE WHEN lm.pkn < 0.01 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS surprise_ratio
    FROM bi JOIN lm ON lm.w1 = bi.w1 AND lm.w2 = bi.w2
    GROUP BY 1""",
)
def q_text_lm_surprisal(spark, sf_dir):
    return text.lm_surprisal_flags(load_table(spark, sf_dir, "documents"))


_HYBRID_ANN_ORACLE = f"""WITH lex AS (SELECT q_id, doc_id, rnk
            FROM ({_bm25_oracle(_HYBRID_QUERIES, k=20)}) bm),
    ann AS (SELECT q_id, neighbor_id AS doc_id, rnk
            FROM ({_pq_rerank_oracle(shortlist=100, k=20, q_mod=100)}) pq),
    u AS (SELECT q_id, doc_id, 0 AS src, rnk FROM lex
          UNION ALL SELECT q_id, doc_id, 1 AS src, rnk FROM ann),
    piv AS (SELECT q_id, doc_id,
                   min(CASE WHEN src = 0 THEN rnk END) AS r0,
                   min(CASE WHEN src = 1 THEN rnk END) AS r1
            FROM u GROUP BY 1, 2),
    sc AS (SELECT q_id, doc_id, r0 AS lex_rnk, r1 AS ann_rnk,
                  ((0.0 + COALESCE(1.0 / (60.0 + CAST(r0 AS DOUBLE)), 0.0))
                   + COALESCE(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0)) AS rrf
           FROM piv)
    SELECT q_id, doc_id, lex_rnk, ann_rnk, rrf,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY rrf DESC, doc_id) AS rnk FROM sc) t
    WHERE rnk <= 5"""


@_spec(
    "sim_hybrid_rrf_ann",
    "the hybrid retrieval plan a 100 TB deployment actually runs: BM25 "
    "top-20 fused with the PQ ANN serving path (ADC shortlist + exact "
    "re-rank over 32x-compressed codes, functions/similarity."
    "pq_shortlist_rerank) instead of sim_hybrid_rrf's exact cross-"
    "product dense scorer — corpus-side cost drops from O(|corpus| x "
    "|Q|) float dot products to table lookups over codes. Codewords are "
    "fixed corpus rows so the oracle replays BOTH rankers and the "
    "source-ordered RRF add chain bit-for-bit; production trains "
    "codebooks per-subspace (kmeans_centroids), recall-floor-tested "
    "against the exact fusion in tests/test_retrieval.py. This spelling "
    "is the exact-replay ANCHOR (it re-encodes the corpus per "
    "invocation); sim_hybrid_served is the production serving plan "
    "over the standing streamed state",
    _HYBRID_ANN_ORACLE,
)
def q_sim_hybrid_rrf_ann(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tq = spark.createDataFrame(_HYBRID_QUERIES, "q_id long, q_text string")
    lex = retrieval.bm25_topk(docs, tq, k=20)
    # codebook materialized once for its two broadcast consumers — see
    # q_sim_pq_rerank (r13, guide §2.2)
    cb = similarity.subvector_codebooks(
        emb.filter(F.col("vec_id") < 32), n_sub=8
    ).localCheckpoint(eager=False)
    codes = similarity.pq_encode(emb, cb, n_sub=8)
    dq = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    ann = similarity.pq_shortlist_rerank(
        codes, emb, dq, cb, k=20, shortlist=100, n_sub=8
    ).withColumnRenamed("neighbor_id", "doc_id")
    fused = retrieval.rrf_fuse(
        [lex.select("q_id", "doc_id", "rnk"),
         ann.select("q_id", "doc_id", "rnk")],
        k=5,
    )
    return fused.select(
        "q_id", "doc_id",
        F.col("r0").alias("lex_rnk"), F.col("r1").alias("ann_rnk"),
        "rrf", "rnk",
    )


@_spec(
    "sim_hybrid_served",
    "the TRUE production hybrid serving plan: BM25 from the STANDING "
    "streamed index (streaming/retrieval_ingest — postings + folded "
    "(n_docs, sum_dl) stats, zero corpus re-tokenization) fused with "
    "PQ ANN from the STANDING code relation (streaming/ann_ingest."
    "pq_rerank — codes encoded once at ingest, zero per-invocation "
    "codebook training or corpus encode, the ~4.5 s sim_hybrid_rrf_ann "
    "pays for oracle replay). Both indexes maintain incrementally "
    "under updates/deletes (the cdc_*_tombstones rows); serving cost "
    "is query-bounded: broadcast term prune + ADC lookups + "
    "|Q| x k x 2 fusion rows. Results equal the batch anchor exactly "
    "because both legs serve through the SAME scoring code paths "
    "(bm25_topk_from_stats / pq_shortlist_rerank) over state that "
    "reproduces the batch inputs bit-for-bit",
    _HYBRID_ANN_ORACLE,
)
def q_sim_hybrid_served(spark, sf_dir):
    from ..streaming.ann_ingest import AnnIngest
    from ..streaming.retrieval_ingest import RetrievalIngest
    from ..streaming.store import AppendLog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    log = AppendLog(_tomb_state_dir(spark, sf_dir, "hybserved"))
    bm = RetrievalIngest(log, name="docs")
    bm.process_batch(docs, 0)
    # first invocation trains+persists centroids/codebooks; replays
    # recover them (the cdc_ann_tombstones fixture convention)
    if not log.has_batch("emb_centroids", "__centroids__"):
        ann = AnnIngest(
            log,
            centroids=emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("c_emb"),
            ),
            codebooks=similarity.subvector_codebooks(
                emb.filter(F.col("vec_id") < 32), n_sub=8
            ),
        )
    else:
        ann = AnnIngest(log)
    ann.process_batch(emb, 0)
    tq = spark.createDataFrame(_HYBRID_QUERIES, "q_id long, q_text string")
    dq = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    lex = bm.topk(tq, k=20)
    annk = ann.pq_rerank(dq, k=20, shortlist=100).withColumnRenamed(
        "neighbor_id", "doc_id"
    )
    fused = retrieval.rrf_fuse(
        [lex.select("q_id", "doc_id", "rnk"),
         annk.select("q_id", "doc_id", "rnk")],
        k=5,
    )
    return fused.select(
        "q_id", "doc_id",
        F.col("r0").alias("lex_rnk"), F.col("r1").alias("ann_rnk"),
        "rrf", "rnk",
    )


_QREL_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _HYBRID_QUERIES)


@_spec(
    "sim_eval_metrics",
    "ranking-quality evaluation closing the retrieval loop "
    "(functions/retrieval.ranking_metrics): per-query recall@10 and "
    "MRR of BM25 against term-containment relevance judgments. Every "
    "metric is a ratio of exact integers (one IEEE division — no "
    "libm NDCG, the raw-idf portability convention), queries with "
    "judgments but no retrieved hits still score 0.0 (right-anchored "
    "on qrels), and evaluation cost is judgment-sized — it never "
    "scales with the corpus",
    f"""WITH lex AS (SELECT q_id, doc_id, rnk
            FROM ({_bm25_oracle(_HYBRID_QUERIES, k=10)}) bm),
    q(q_id, term) AS (VALUES {_QREL_VALUES}),
    tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    rel AS (SELECT q.q_id, tok.doc_id
            FROM q JOIN tok ON list_contains(tok.t, q.term)),
    nrel AS (SELECT q_id, count(*) AS n_rel FROM rel GROUP BY 1),
    hits AS (SELECT l.q_id, count(*) AS n_hits, min(l.rnk) AS fr
             FROM lex l JOIN rel r
               ON r.q_id = l.q_id AND r.doc_id = l.doc_id
             GROUP BY 1)
    SELECT CAST(n.q_id AS BIGINT) AS q_id,
           CAST(n.n_rel AS BIGINT) AS n_rel,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             / CAST(n.n_rel AS DOUBLE) AS recall_at_k,
           COALESCE(1.0 / CAST(h.fr AS DOUBLE), 0.0) AS mrr
    FROM nrel n LEFT JOIN hits h USING (q_id)""",
)
def q_sim_eval_metrics(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tq = spark.createDataFrame(_HYBRID_QUERIES, "q_id long, q_text string")
    ranking = retrieval.bm25_topk(docs, tq, k=10)
    # term-containment judgments: the query term set is tiny, so the
    # qrels construction is a broadcast nested-loop over 5 queries —
    # harness cost, not engine path
    toks = docs.select("doc_id", text.tokens_col("text").alias("t"))
    qrels = tq.join(
        toks, F.array_contains(F.col("t"), F.col("q_text"))
    ).select("q_id", "doc_id")
    return retrieval.ranking_metrics(ranking, qrels, k=10)


@_spec(
    "text_rrf_three_way",
    "reciprocal-rank fusion over THREE rankers in one rrf_fuse call — "
    "BM25, exact-phrase occurrence ranking (the positional-index "
    "reduction, ties on doc_id), and exact dense cosine — exercising "
    "the n-source add chain beyond n=2: each absent source contributes "
    "+0.0 in SOURCE order, so the oracle replays all three rankers and "
    "the ((0+c0)+c1)+c2 fold bit-for-bit. Fusion cost stays "
    "|Q| x k x 3 rows, independent of corpus size",
    f"""WITH lex AS (SELECT q_id, doc_id, rnk
            FROM ({_bm25_oracle(_HYBRID_QUERIES, k=20)}) bm),
    ph0 AS (SELECT phrase_id AS q_id, doc_id, n_occurrences
            FROM ({_phrase_oracle(_HYBRID_QUERIES)}) p),
    phr AS (SELECT q_id, doc_id, rnk FROM (
              SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
                     ORDER BY n_occurrences DESC, doc_id) AS rnk
              FROM ph0) t WHERE rnk <= 20),
    cemb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dq AS (SELECT vec_id AS q_id, e AS qe FROM cemb WHERE vec_id % 100 = 0),
    dp AS (SELECT q_id, cemb.vec_id AS neighbor_id, {_COS} AS cos_sim
           FROM cemb, dq WHERE cemb.vec_id != dq.q_id),
    den AS (SELECT q_id, neighbor_id AS doc_id, rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rnk
              FROM dp) t WHERE rnk <= 20),
    u AS (SELECT q_id, doc_id, 0 AS src, rnk FROM lex
          UNION ALL SELECT q_id, doc_id, 1 AS src, rnk FROM phr
          UNION ALL SELECT q_id, doc_id, 2 AS src, rnk FROM den),
    piv AS (SELECT q_id, doc_id,
                   min(CASE WHEN src = 0 THEN rnk END) AS r0,
                   min(CASE WHEN src = 1 THEN rnk END) AS r1,
                   min(CASE WHEN src = 2 THEN rnk END) AS r2
            FROM u GROUP BY 1, 2),
    sc AS (SELECT q_id, doc_id, r0 AS lex_rnk, r1 AS phrase_rnk,
                  r2 AS dense_rnk,
                  (((0.0 + COALESCE(1.0 / (60.0 + CAST(r0 AS DOUBLE)), 0.0))
                    + COALESCE(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0))
                   + COALESCE(1.0 / (60.0 + CAST(r2 AS DOUBLE)), 0.0)) AS rrf
           FROM piv)
    SELECT q_id, doc_id, lex_rnk, phrase_rnk, dense_rnk, rrf,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY rrf DESC, doc_id) AS rnk FROM sc) t
    WHERE rnk <= 5""",
)
def q_text_rrf_three_way(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tq = spark.createDataFrame(_HYBRID_QUERIES, "q_id long, q_text string")
    lex = retrieval.bm25_topk(docs, tq, k=20)
    ph = retrieval.phrase_match(
        docs, tq, phrase_id_col="q_id", phrase_col="q_text"
    )
    w = Window.partitionBy("phrase_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    phr = (
        ph.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select(F.col("phrase_id").alias("q_id"), "doc_id", "rnk")
    )
    dq = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    den = similarity.cosine_topk(emb, dq, k=20).withColumnRenamed(
        "neighbor_id", "doc_id"
    )
    fused = retrieval.rrf_fuse(
        [lex.select("q_id", "doc_id", "rnk"), phr,
         den.select("q_id", "doc_id", "rnk")],
        k=5,
    )
    return fused.select(
        "q_id", "doc_id",
        F.col("r0").alias("lex_rnk"), F.col("r1").alias("phrase_rnk"),
        F.col("r2").alias("dense_rnk"), "rrf", "rnk",
    )


@_spec(
    "sim_rrf_three_way_served",
    "the 3-way fusion's TRUE production twin: text_rrf_three_way "
    "re-served entirely from standing streamed state — ONE positional "
    "index (streaming/retrieval_ingest, positions=True) serves BOTH "
    "the BM25 leg (topk over the folded corpus constants) AND the "
    "exact-phrase leg (the stored posting lists explode only for the "
    "broadcast-pruned query terms), and the PQ code relation "
    "(streaming/ann_ingest.pq_rerank) serves the dense leg with zero "
    "per-invocation codebook training or corpus encode. Serving cost "
    "is query-bounded on all three legs; fusion is |Q| x k x 3 rows. "
    "The oracle replays all three rankers over the raw corpus plus "
    "the source-ordered ((0+c0)+c1)+c2 RRF fold bit-for-bit, so a "
    "stale posting, lost position, or drifted codebook in ANY "
    "standing table hash-mismatches; the dense leg is PQ ANN (the "
    "production ranker), not text_rrf_three_way's exact-cosine anchor",
    f"""WITH lex AS (SELECT q_id, doc_id, rnk
            FROM ({_bm25_oracle(_HYBRID_QUERIES, k=20)}) bm),
    ph0 AS (SELECT phrase_id AS q_id, doc_id, n_occurrences
            FROM ({_phrase_oracle(_HYBRID_QUERIES)}) p),
    phr AS (SELECT q_id, doc_id, rnk FROM (
              SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
                     ORDER BY n_occurrences DESC, doc_id) AS rnk
              FROM ph0) t WHERE rnk <= 20),
    ann AS (SELECT q_id, neighbor_id AS doc_id, rnk
            FROM ({_pq_rerank_oracle(shortlist=100, k=20, q_mod=100)}) pq),
    u AS (SELECT q_id, doc_id, 0 AS src, rnk FROM lex
          UNION ALL SELECT q_id, doc_id, 1 AS src, rnk FROM phr
          UNION ALL SELECT q_id, doc_id, 2 AS src, rnk FROM ann),
    piv AS (SELECT q_id, doc_id,
                   min(CASE WHEN src = 0 THEN rnk END) AS r0,
                   min(CASE WHEN src = 1 THEN rnk END) AS r1,
                   min(CASE WHEN src = 2 THEN rnk END) AS r2
            FROM u GROUP BY 1, 2),
    sc AS (SELECT q_id, doc_id, r0 AS lex_rnk, r1 AS phrase_rnk,
                  r2 AS ann_rnk,
                  (((0.0 + COALESCE(1.0 / (60.0 + CAST(r0 AS DOUBLE)), 0.0))
                    + COALESCE(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0))
                   + COALESCE(1.0 / (60.0 + CAST(r2 AS DOUBLE)), 0.0)) AS rrf
           FROM piv)
    SELECT q_id, doc_id, lex_rnk, phrase_rnk, ann_rnk, rrf,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY rrf DESC, doc_id) AS rnk FROM sc) t
    WHERE rnk <= 5""",
)
def q_sim_rrf_three_way_served(spark, sf_dir):
    from pyspark.sql import Window

    from ..streaming.ann_ingest import AnnIngest
    from ..streaming.retrieval_ingest import RetrievalIngest
    from ..streaming.store import AppendLog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    log = AppendLog(_tomb_state_dir(spark, sf_dir, "rrf3served"))
    bm = RetrievalIngest(log, name="docs", positions=True)
    bm.process_batch(docs, 0)
    # first invocation trains+persists centroids/codebooks; replays
    # recover them (the cdc_ann_tombstones fixture convention)
    if not log.has_batch("emb_centroids", "__centroids__"):
        ann = AnnIngest(
            log,
            centroids=emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("c_emb"),
            ),
            codebooks=similarity.subvector_codebooks(
                emb.filter(F.col("vec_id") < 32), n_sub=8
            ),
        )
    else:
        ann = AnnIngest(log)
    ann.process_batch(emb, 0)
    tq = spark.createDataFrame(_HYBRID_QUERIES, "q_id long, q_text string")
    lex = bm.topk(tq, k=20)
    ph = bm.phrase_match(
        tq.select(
            F.col("q_id").alias("phrase_id"), F.col("q_text").alias("phrase")
        )
    )
    w = Window.partitionBy("phrase_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    phr = (
        ph.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select(F.col("phrase_id").alias("q_id"), "doc_id", "rnk")
    )
    dq = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    annk = ann.pq_rerank(dq, k=20, shortlist=100).withColumnRenamed(
        "neighbor_id", "doc_id"
    )
    fused = retrieval.rrf_fuse(
        [lex.select("q_id", "doc_id", "rnk"), phr,
         annk.select("q_id", "doc_id", "rnk")],
        k=5,
    )
    return fused.select(
        "q_id", "doc_id",
        F.col("r0").alias("lex_rnk"), F.col("r1").alias("phrase_rnk"),
        F.col("r2").alias("ann_rnk"), "rrf", "rnk",
    )


@_spec(
    "text_kneser_ney3",
    "interpolated Kneser-Ney TRIGRAM LM with the bigram continuation-"
    "count backoff tier (functions/text.kneser_ney_trigrams) — KenLM's "
    "production order-3: P3 discounts the trigram census and "
    "interpolates with P2 built from DISTINCT-CONTEXT counts derived "
    "from the same census (the defining KN move). One corpus explode; "
    "five derived censuses off one checkpoint, all vocab-bounded; the "
    "probability is one pinned parenthesization of exact integers, so "
    "the oracle replays it bit-for-bit",
    f"""WITH base AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tri AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
            FROM (SELECT t, unnest(generate_series(1, len(t)-2)) AS i
                  FROM base WHERE len(t) >= 3)),
    tc AS (SELECT w1, w2, w3, count(*) AS c FROM tri GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c12,
                   count(*) AS n12 FROM tc GROUP BY 1, 2),
    m23 AS (SELECT w2, w3, count(*) AS m23 FROM tc GROUP BY 1, 2),
    mid2 AS (SELECT w2, CAST(sum(m23) AS BIGINT) AS s2,
                    count(*) AS n2dot FROM m23 GROUP BY 1),
    uni AS (SELECT w3, count(*) AS u3 FROM m23 GROUP BY 1),
    tot AS (SELECT count(*) AS nall FROM m23)
    SELECT tc.w1, tc.w2, tc.w3, tc.c,
           ((greatest(CAST(tc.c AS DOUBLE) - 0.75, 0.0)
             / CAST(c12.c12 AS DOUBLE))
            + (((0.75 * CAST(c12.n12 AS DOUBLE)) / CAST(c12.c12 AS DOUBLE))
               * ((greatest(CAST(m23.m23 AS DOUBLE) - 0.75, 0.0)
                   / CAST(mid2.s2 AS DOUBLE))
                  + (((0.75 * CAST(mid2.n2dot AS DOUBLE))
                      / CAST(mid2.s2 AS DOUBLE))
                     * (CAST(uni.u3 AS DOUBLE)
                        / CAST(tot.nall AS DOUBLE)))))) AS pkn
    FROM tc JOIN c12 ON c12.w1 = tc.w1 AND c12.w2 = tc.w2
    JOIN m23 ON m23.w2 = tc.w2 AND m23.w3 = tc.w3
    JOIN mid2 ON mid2.w2 = tc.w2
    JOIN uni ON uni.w3 = tc.w3
    CROSS JOIN tot
    WHERE tc.c >= 3""",
)
def q_text_kneser_ney3(spark, sf_dir):
    return text.kneser_ney_trigrams(
        load_table(spark, sf_dir, "documents"), min_count=3
    )


@_spec(
    "source_lm_crossscore",
    "domain-similarity matrix by cross-source LM scoring (functions/"
    "text.source_lm_crossscore; the CCNet domain-mixing shape): an "
    "interpolated KN bigram LM per source, every source's bigrams "
    "scored under every source's LM as exact threshold counts (OOV "
    "bigrams count surprising). ONE corpus explode serves both sides — "
    "the per-source censuses and the scoring relation both derive from "
    "the same (source, w1, w2) census, so the |sources|^2 matrix costs "
    "census x |sources| join rows, never |sources|^2 corpus scans",
    f"""WITH base AS (SELECT source, {_TOKS} AS t FROM documents),
    bi AS (SELECT source AS src, t[i] AS w1, t[i+1] AS w2
           FROM (SELECT source, t,
                        unnest(generate_series(1, len(t)-1)) AS i
                 FROM base WHERE len(t) >= 2)),
    bc AS (SELECT src, w1, w2, count(*) AS c FROM bi GROUP BY 1, 2, 3),
    w1s AS (SELECT src, w1, CAST(sum(c) AS BIGINT) AS c1,
                   count(*) AS n1w1 FROM bc GROUP BY 1, 2),
    w2s AS (SELECT src, w2, count(*) AS n1w2 FROM bc GROUP BY 1, 2),
    tot AS (SELECT src, count(*) AS n1all FROM bc GROUP BY 1),
    lm AS (SELECT bc.src AS lm_source, bc.w1, bc.w2,
                  ((greatest(CAST(bc.c AS DOUBLE) - 0.75, 0.0)
                    / CAST(w1s.c1 AS DOUBLE))
                   + (((0.75 * CAST(w1s.n1w1 AS DOUBLE))
                       / CAST(w1s.c1 AS DOUBLE))
                      * (CAST(w2s.n1w2 AS DOUBLE)
                         / CAST(tot.n1all AS DOUBLE)))) AS pkn
           FROM bc
           JOIN w1s ON w1s.src = bc.src AND w1s.w1 = bc.w1
           JOIN w2s ON w2s.src = bc.src AND w2s.w2 = bc.w2
           JOIN tot ON tot.src = bc.src),
    ds AS (SELECT src AS doc_source, w1, w2, c AS m FROM bc),
    srcs AS (SELECT src AS lm_source FROM tot),
    cell AS (SELECT ds.doc_source, s.lm_source, ds.m, lm.pkn
             FROM ds CROSS JOIN srcs s
             LEFT JOIN lm ON lm.lm_source = s.lm_source
                         AND lm.w1 = ds.w1 AND lm.w2 = ds.w2)
    SELECT doc_source, lm_source,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN pkn IS NULL OR pkn < 0.01 THEN m ELSE 0 END)
                AS BIGINT) AS n_surprising,
           CAST(sum(CASE WHEN pkn IS NULL OR pkn < 0.01 THEN m ELSE 0 END)
                AS DOUBLE) / CAST(sum(m) AS DOUBLE) AS surprise_ratio
    FROM cell GROUP BY 1, 2""",
)
def q_source_lm_crossscore(spark, sf_dir):
    return text.source_lm_crossscore(load_table(spark, sf_dir, "documents"))


@_spec(
    "doc_temperature_mix",
    "temperature-scaled source sampling weights at alpha = 0.5 "
    "(functions/curation.temperature_mix; the mT5/XLM-R multilingual "
    "mixing recipe): weight proportional to sqrt(p_source), flattening "
    "the source distribution. alpha is fixed at 0.5 because sqrt is the "
    "one power IEEE requires correctly rounded (pow/ln are libm-"
    "dependent); the normalizer folds sqrt(n_s) in source order as an "
    "explicit chain. One combinable count + one |sources|-row fold — "
    "the corpus is scanned once, nothing else shuffles",
    """WITH s AS (SELECT source, count(*) AS n_docs
                FROM documents GROUP BY 1),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                 list_reduce(
                   list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source),
                   (a, b) -> a + b) AS z
          FROM s)
    SELECT source, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
           sqrt(CAST(n_docs AS DOUBLE)) / z AS weight,
           (sqrt(CAST(n_docs AS DOUBLE)) / z)
             / (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) AS boost
    FROM s CROSS JOIN t""",
)
def q_doc_temperature_mix(spark, sf_dir):
    return curation.temperature_mix(load_table(spark, sf_dir, "documents"))


@_spec(
    "dedup_containment",
    "asymmetric near-dup detection by shingle-set CONTAINMENT "
    "(functions/dedup_text.containment_pairs): max(|A∩B|/|A|, "
    "|A∩B|/|B|) >= 0.6 catches a short document embedded verbatim in a "
    "long one — tiny Jaccard, containment ~1 on the short side. Same "
    "single posting-list SMJ shuffle as jaccard_pairs with the "
    "stop-shingle cut, but NO size-ratio prune (size asymmetry is the "
    "signal), which makes the hot-bucket cut load-bearing at scale",
    f"""WITH {_SH_SETS},
    ex AS (SELECT doc_id, len(sh_set) AS sz, unnest(sh_set) AS sh
           FROM sh_sets),
    kept AS (SELECT sh FROM ex GROUP BY sh
             HAVING count(*) <= {dedup_text.DEFAULT_MAX_DF}),
    exk AS (SELECT ex.doc_id, ex.sz, ex.sh FROM ex JOIN kept USING (sh)),
    pc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
           FROM exk a JOIN exk b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE) AS containment_a,
           CAST(inter AS DOUBLE) / CAST(sz_b AS DOUBLE) AS containment_b,
           CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE)
             AS jaccard
    FROM pc
    WHERE greatest(CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE),
                   CAST(inter AS DOUBLE) / CAST(sz_b AS DOUBLE)) >= 0.6""",
)
def q_dedup_containment(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_text.containment_pairs(
        dedup_text.shingle_sketches(docs), threshold=0.6
    )


@_spec(
    "doc_ccnet_buckets",
    "CCNet-style per-source quality tiers (functions/text.ccnet_buckets): "
    "rank each source's documents by the exact LM-surprisal proxy and "
    "cut into head/middle/tail — the split CCNet feeds to mixing "
    "decisions. The engine computes the rank range-partitioned on the "
    "full key (source, surprise_ratio, doc_id) with a broadcast "
    "(pid, source) offset census and assigns the closed-form ntile "
    "bucket map-side in integer arithmetic — no per-source single-"
    "reducer sort (source is low-cardinality); the oracle keeps the "
    "SQL-standard ntile spelling, which the closed form replays "
    "bit-for-bit",
    f"""WITH base AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
                 FROM base WHERE len(t) >= 2)),
    bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
    w1s AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
                   count(*) AS n1w1 FROM bc GROUP BY 1),
    w2s AS (SELECT w2, count(*) AS n1w2 FROM bc GROUP BY 1),
    tot AS (SELECT count(*) AS n1all FROM bc),
    lm AS (SELECT bc.w1, bc.w2,
                  ((greatest(CAST(bc.c AS DOUBLE) - 0.75, 0.0)
                    / CAST(w1s.c1 AS DOUBLE))
                   + (((0.75 * CAST(w1s.n1w1 AS DOUBLE))
                       / CAST(w1s.c1 AS DOUBLE))
                      * (CAST(w2s.n1w2 AS DOUBLE)
                         / CAST(tot.n1all AS DOUBLE)))) AS pkn
           FROM bc JOIN w1s ON w1s.w1 = bc.w1 JOIN w2s ON w2s.w2 = bc.w2
           CROSS JOIN tot),
    fl AS (SELECT bi.doc_id, count(*) AS n_bigrams,
                  CAST(sum(CASE WHEN lm.pkn < 0.01 THEN 1 ELSE 0 END)
                       AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS surprise_ratio
           FROM bi JOIN lm ON lm.w1 = bi.w1 AND lm.w2 = bi.w2
           GROUP BY 1),
    j AS (SELECT d.doc_id, d.source, fl.n_bigrams, fl.surprise_ratio,
                 CAST(ntile(3) OVER (PARTITION BY d.source
                      ORDER BY fl.surprise_ratio, d.doc_id) AS INTEGER)
                   AS bucket
          FROM documents d JOIN fl ON fl.doc_id = d.doc_id)
    SELECT doc_id, source, n_bigrams, surprise_ratio, bucket,
           CASE WHEN bucket = 1 THEN 'head'
                WHEN bucket = 3 THEN 'tail'
                ELSE 'middle' END AS tier
    FROM j""",
)
def q_doc_ccnet_buckets(spark, sf_dir):
    return text.ccnet_buckets(load_table(spark, sf_dir, "documents"))


# streaming-state fixtures: the ingest state is the Kafka-stand-in
# fixture of these queries — built once per (session, sf); re-invocation
# replays the SAME batches into the SAME AppendLog, which the committed-
# batch manifests turn into no-ops (so every bench rep also exercises
# the replay guards). Holding the session object keeps its id() from
# being reused (the catalog.py fixture-cache convention).
_TOMB_STATE: dict = {}


def _tomb_state_dir(spark, sf_dir: str, kind: str) -> str:
    import shutil
    import tempfile

    stale = [k for k, (sess, _) in _TOMB_STATE.items()
             if sess._jsc is None or sess._jsc.sc().isStopped()]
    for k in stale:
        # the evicted session can never replay into this state again
        # (its id() key is gone), so drop the directory too — without
        # this every bench/test session accretes orphaned
        # bm25tomb_*/anntomb_*/deduptomb_* trees in /tmp
        shutil.rmtree(_TOMB_STATE[k][1], ignore_errors=True)
        del _TOMB_STATE[k]
    key = (id(spark), sf_dir, kind)
    if key not in _TOMB_STATE:
        _TOMB_STATE[key] = (spark, tempfile.mkdtemp(prefix=f"{kind}_"))
    return _TOMB_STATE[key][1]


@_spec(
    "cdc_bm25_tombstones",
    "the streaming BM25 index under its CDC contract, driver-verified: "
    "batch 0 ingests the corpus, batch 1 UPDATES doc_id%10==3 (suffixed "
    "text; tombstone + re-index in one batch) and DELETES doc_id%10==7, "
    "then compact_state folds the tombstones (dead postings physically "
    "drop, streaming/tombstones.py). The returned per-doc postings "
    "census must equal term_freqs of the FINAL corpus — the oracle "
    "computes that corpus directly, so stale postings, resurrected "
    "deletes, or a broken fold all hash-mismatch",
    f"""WITH final AS (
      SELECT doc_id, text || ' zz updated marker' AS text
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 != 3 AND doc_id % 10 != 7),
    tok AS (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS t
            FROM final),
    ex AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM ex GROUP BY 1, 2, 3)
    SELECT doc_id, dl, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(tf) AS BIGINT) AS sum_tf
    FROM tf GROUP BY 1, 2""",
)
def q_cdc_bm25_tombstones(spark, sf_dir):
    from ..streaming.retrieval_ingest import RetrievalIngest
    from ..streaming.store import AppendLog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ing = RetrievalIngest(
        AppendLog(_tomb_state_dir(spark, sf_dir, "bm25tomb")), name="docs"
    )
    ing.process_batch(docs, 0)
    updated = docs.filter(F.col("doc_id") % 10 == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" zz updated marker")).alias("text"),
    )
    tombs = docs.filter(
        (F.col("doc_id") % 10 == 3) | (F.col("doc_id") % 10 == 7)
    ).select("doc_id")
    ing.process_batch(updated, 1, tombstones=tombs)
    ing.compact_state(spark, min_segments=2)  # fold: dead postings drop
    return (
        ing.postings(spark)
        .groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("sum_tf"),
        )
    )


_TOMB_FINAL_CORPUS = """SELECT doc_id, text || ' zz updated marker' AS text
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 != 3 AND doc_id % 10 != 7"""

_TOMB_PHRASES = [
    (0, "hash join"), (1, "window agg"), (2, "slow scan filter"),
    (3, "zz updated marker"),
]


@_spec(
    "cdc_phrase_tombstones",
    "exact phrase search served from the STANDING streamed index "
    "(streaming/retrieval_ingest, positions=True) under its CDC "
    "contract, driver-verified: batch 0 ingests the corpus's posting "
    "lists WITH positions, batch 1 updates doc_id%10==3 (suffixed "
    "text) and deletes doc_id%10==7, compact_state folds the "
    "tombstones, then phrase serving explodes the live posting lists "
    "through the same positional reduction the batch operator uses. "
    "Must equal phrase_match over the FINAL corpus — phrase 3 only "
    "exists in updated images, so stale or missing re-indexed "
    "positions hash-mismatch immediately",
    _phrase_oracle(_TOMB_PHRASES, corpus=_TOMB_FINAL_CORPUS),
)
def q_cdc_phrase_tombstones(spark, sf_dir):
    from ..streaming.retrieval_ingest import RetrievalIngest
    from ..streaming.store import AppendLog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ing = RetrievalIngest(
        AppendLog(_tomb_state_dir(spark, sf_dir, "phrtomb")),
        name="docs", positions=True,
    )
    ing.process_batch(docs, 0)
    updated = docs.filter(F.col("doc_id") % 10 == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" zz updated marker")).alias("text"),
    )
    tombs = docs.filter(
        (F.col("doc_id") % 10 == 3) | (F.col("doc_id") % 10 == 7)
    ).select("doc_id")
    ing.process_batch(updated, 1, tombstones=tombs)
    ing.compact_state(spark, min_segments=2)  # fold: dead postings drop
    phrases = spark.createDataFrame(
        _TOMB_PHRASES, "phrase_id int, phrase string"
    )
    return ing.phrase_match(phrases)


@_spec(
    "cdc_ann_tombstones",
    "the streaming IVF index under its CDC contract, driver-verified: "
    "centroids persist from the ORIGINAL corpus (a trained artifact "
    "does not drift with later edits), batch 1 updates vec_id%10==3 "
    "(reversed embedding) and deletes vec_id%10==7, compact_state folds "
    "the tombstones. The returned live (vec_id, cell) assignment must "
    "equal assigning the FINAL corpus against those same centroids — "
    "stale vectors, resurrected deletes, or drift in the persisted "
    "centroid set all hash-mismatch",
    """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id < 8),
    final AS (SELECT vec_id, list_reverse(e) AS e FROM c WHERE vec_id % 10 = 3
              UNION ALL
              SELECT vec_id, e FROM c
              WHERE vec_id % 10 != 3 AND vec_id % 10 != 7),
    asn AS (SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY c_sim DESC, cent_id) AS c_rnk
            FROM (SELECT f.vec_id, cent.cent_id,
                         list_dot_product(f.e, cent.ce)
                           / (sqrt(list_dot_product(f.e, f.e))
                              * sqrt(list_dot_product(cent.ce, cent.ce)))
                           AS c_sim
                  FROM final f CROSS JOIN cent) s)
    SELECT vec_id, CAST(cent_id AS BIGINT) AS cell
    FROM asn WHERE c_rnk = 1""",
)
def q_cdc_ann_tombstones(spark, sf_dir):
    from ..streaming.ann_ingest import AnnIngest
    from ..streaming.store import AppendLog

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    log = AppendLog(_tomb_state_dir(spark, sf_dir, "anntomb"))
    # first invocation trains+persists the centroids; replays recover them
    ann = (
        AnnIngest(log, centroids=cents)
        if not log.has_batch("emb_centroids", "__centroids__")
        else AnnIngest(log)
    )
    ann.process_batch(emb, 0)
    updated = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    tombs = emb.filter(
        (F.col("vec_id") % 10 == 3) | (F.col("vec_id") % 10 == 7)
    ).select("vec_id")
    ann.process_batch(updated, 1, tombstones=tombs)
    ann.compact_state(spark, min_segments=2)  # fold: dead vectors drop
    return ann.live_cells(spark).select("vec_id", "cell")


@_spec(
    "cdc_semdedup_tombstones",
    "SemDeDup-style semantic dedup served from the STANDING streamed "
    "IVF state under its CDC contract (streaming/ann_ingest.AnnIngest."
    "semantic_dups): the same anntomb ingest (batch 0 corpus, batch 1 "
    "updates %10==3 reversed / deletes %10==7), then the within-cell "
    "cosine compare runs over the tombstone-resolved live (id, vec, "
    "cell) relation — the stored assignment IS SemDeDup's clustering "
    "pass, so serving skips assignment entirely. Must equal "
    "semantic_dedup over the FINAL corpus against the persisted "
    "centroids: a stale vector still pairing, a resurrected delete, "
    "or a dup flag surviving its lower-id twin's deletion all "
    "hash-mismatch",
    _semantic_oracle(
        corpus="""SELECT vec_id, list_reverse(e) AS e FROM c
              WHERE vec_id % 10 = 3
              UNION ALL
              SELECT vec_id, e FROM c
              WHERE vec_id % 10 != 3 AND vec_id % 10 != 7""",
    ),
)
def q_cdc_semdedup_tombstones(spark, sf_dir):
    from ..streaming.ann_ingest import AnnIngest
    from ..streaming.store import AppendLog

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    log = AppendLog(_tomb_state_dir(spark, sf_dir, "anntomb"))
    ann = (
        AnnIngest(log, centroids=cents)
        if not log.has_batch("emb_centroids", "__centroids__")
        else AnnIngest(log)
    )
    ann.process_batch(emb, 0)
    updated = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    tombs = emb.filter(
        (F.col("vec_id") % 10 == 3) | (F.col("vec_id") % 10 == 7)
    ).select("vec_id")
    ann.process_batch(updated, 1, tombstones=tombs)
    return ann.semantic_dups(spark, threshold=0.3)


def _minhash_tomb_oracle(num_hashes: int = 12, band_size: int = 2) -> str:
    """_minhash_oracle over the FINAL corpus of the tombstone scenario
    (doc_id%10==3 updated with a suffix, %10==7 deleted) — replays
    signatures, banded candidates, and exact-Jaccard verification over
    exactly the live documents."""
    from ..functions.dedup_text import _MH_H30, _MH_P, _mh_params

    mins = ",\n              ".join(
        f"min(({a} * h30 + {b}) % {_MH_P}) AS mh{s}"
        for s, (a, b) in ((s, _mh_params(s)) for s in range(num_hashes))
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            b=bi,
            key=" || ',' || ".join(
                f"mh{bi * band_size + r}::VARCHAR" for r in range(band_size)
            ),
        )
        for bi in range(num_hashes // band_size)
    )
    return f"""WITH final AS (
  SELECT doc_id, text || ' zz updated marker' AS text
  FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id, text FROM documents
  WHERE doc_id % 10 != 3 AND doc_id % 10 != 7),
sh_sets AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        for i in generate_series(1, len(t)-2)]) AS sh_set
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM final) _tok
  WHERE len(t) >= 3),
ex AS (SELECT doc_id, {_HASH60.format(x="sh")} % {_MH_H30} AS h30
       FROM (SELECT doc_id, unnest(sh_set) AS sh FROM sh_sets) u),
sig AS (SELECT doc_id,
              {mins}
        FROM ex GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
j AS (SELECT doc_a, doc_b,
             CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)
               / CAST(len(sa.sh_set) + len(sb.sh_set)
                      - len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) AS jaccard
      FROM cand
      JOIN sh_sets sa ON sa.doc_id = cand.doc_a
      JOIN sh_sets sb ON sb.doc_id = cand.doc_b)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5"""


@_spec(
    "cdc_dedup_tombstones",
    "the streaming MinHash-LSH dedup state under its CDC contract, "
    "driver-verified (completing the tombstone trio with cdc_bm25_/"
    "cdc_ann_tombstones): batch 1 updates doc_id%10==3 and deletes "
    "%10==7; the live pair set must equal a one-shot minhash_lsh_pairs "
    "rebuild over the FINAL corpus — a pair dies with the update/delete "
    "of either side and the updating batch re-finds still-matching "
    "pairs at its own seq. The oracle replays signatures, banded "
    "candidates and exact-Jaccard verification over the live documents",
    _minhash_tomb_oracle(),
)
def q_cdc_dedup_tombstones(spark, sf_dir):
    from ..streaming.dedup_ingest import DedupIngest
    from ..streaming.store import AppendLog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ing = DedupIngest(
        AppendLog(_tomb_state_dir(spark, sf_dir, "deduptomb")), name="docs"
    )
    ing.process_batch(docs, 0)
    updated = docs.filter(F.col("doc_id") % 10 == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" zz updated marker")).alias("text"),
    )
    tombs = docs.filter(
        (F.col("doc_id") % 10 == 3) | (F.col("doc_id") % 10 == 7)
    ).select("doc_id")
    ing.process_batch(updated, 1, tombstones=tombs)
    ing.compact_state(spark, min_segments=2)  # fold: dead state drops
    return ing.pairs(spark).select("doc_a", "doc_b", "jaccard")


@_spec(
    "cdc_containment_tombstones",
    "asymmetric containment near-dups served from the STANDING "
    "streamed dedup state under its CDC contract "
    "(streaming/dedup_ingest.DedupIngest.containment): the same "
    "deduptomb ingest (batch 0 corpus, batch 1 updates %10==3 / "
    "deletes %10==7, compact fold), then containment runs over the "
    "tombstone-resolved verification sketches — the corpus is never "
    "re-shingled. Must equal containment_pairs over the FINAL corpus: "
    "stale sketches (the updated docs' old shingles) or resurrected "
    "deletes change intersection counts and hash-mismatch",
    f"""WITH final AS (
      SELECT doc_id, text || ' zz updated marker' AS text
      FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 != 3 AND doc_id % 10 != 7),
    sh_sets AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in generate_series(1, len(t)-2)]) AS sh_set
      FROM (SELECT doc_id, {_TOKS} AS t FROM final) _tok
      WHERE len(t) >= 3),
    ex AS (SELECT doc_id, len(sh_set) AS sz, unnest(sh_set) AS sh
           FROM sh_sets),
    kept AS (SELECT sh FROM ex GROUP BY sh
             HAVING count(*) <= {dedup_text.DEFAULT_MAX_DF}),
    exk AS (SELECT ex.doc_id, ex.sz, ex.sh FROM ex JOIN kept USING (sh)),
    pc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
           FROM exk a JOIN exk b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE) AS containment_a,
           CAST(inter AS DOUBLE) / CAST(sz_b AS DOUBLE) AS containment_b,
           CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE)
             AS jaccard
    FROM pc
    WHERE greatest(CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE),
                   CAST(inter AS DOUBLE) / CAST(sz_b AS DOUBLE)) >= 0.6""",
)
def q_cdc_containment_tombstones(spark, sf_dir):
    from ..streaming.dedup_ingest import DedupIngest
    from ..streaming.store import AppendLog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ing = DedupIngest(
        AppendLog(_tomb_state_dir(spark, sf_dir, "deduptomb")), name="docs"
    )
    ing.process_batch(docs, 0)
    updated = docs.filter(F.col("doc_id") % 10 == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" zz updated marker")).alias("text"),
    )
    tombs = docs.filter(
        (F.col("doc_id") % 10 == 3) | (F.col("doc_id") % 10 == 7)
    ).select("doc_id")
    ing.process_batch(updated, 1, tombstones=tombs)
    return ing.containment(spark, threshold=0.6)

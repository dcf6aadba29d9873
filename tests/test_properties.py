"""Property-based semantics of the CDC kernel (hypothesis).

Verifies the invariants SURVEY §7.3 calls out as the hard parts:
  * lww_dedup == brute-force argmax per key, for any changelog
  * merge idempotency (re-applying a batch is a no-op) — the T7
    exactly-once-ish contract
  * batch-split invariance: applying a per-key-time-ordered changelog as
    ONE merge equals applying it as any sequence of time-split merges —
    the documented cross-batch correctness condition (ts monotonicity
    across batches per key)
  * union_window and the broadcast anti-join merge paths agree
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_cdc_redshift_spark.operators.dedup import lww_dedup
from kafka_cdc_redshift_spark.operators.merge import merge_changes

# multi-minute hypothesis folds: marked slow, but they run in the default
# suite like every test; deselect them for a quick loop with -m "not slow"
pytestmark = pytest.mark.slow

# rows: (key, ts, value, op); (key, ts) unique so LWW winners are unambiguous
changelogs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=0, max_value=999),
        st.sampled_from(["c", "u", "d"]),
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda r: (r[0], r[1]),
)

targets = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=999)),
    min_size=0,
    max_size=6,
    unique_by=lambda r: r[0],
)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

CL_SCHEMA = "k long, ts_ms long, v long, op string"
T_SCHEMA = "k long, v long"


def _cl_df(spark, rows):
    return spark.createDataFrame([tuple(r) for r in rows], CL_SCHEMA)


def _t_df(spark, rows):
    return spark.createDataFrame([tuple(r) for r in rows], T_SCHEMA)


def _apply_model(target_rows, cl_rows):
    """Reference model: per-key argmax(ts) decides; delete removes."""
    state = dict(target_rows)
    last = {}
    for k, ts, v, op in cl_rows:
        if k not in last or ts > last[k][0]:
            last[k] = (ts, v, op)
    for k, (ts, v, op) in last.items():
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = v
    return state


@given(cl=changelogs)
@settings(**SETTINGS)
def test_lww_dedup_is_per_key_argmax(spark, cl):
    df = _cl_df(spark, cl)
    got = {r.k: (r.ts_ms, r.v) for r in lww_dedup(df, ["k"], ["ts_ms"]).collect()}
    exp = {}
    for k, ts, v, _ in cl:
        if k not in exp or ts > exp[k][0]:
            exp[k] = (ts, v)
    assert got == exp


@given(t=targets, cl=changelogs)
@settings(**SETTINGS)
def test_merge_strategies_agree_and_match_model(spark, t, cl):
    target, changes = _t_df(spark, t), _cl_df(spark, cl)
    exp = _apply_model(t, cl)
    for broadcast in (False, True):
        merged = merge_changes(
            target, changes, ["k"], broadcast_updates=broadcast,
        )
        got = {r.k: r.v for r in merged.collect()}
        assert got == exp, broadcast


@given(t=targets, cl=changelogs)
@settings(**SETTINGS)
def test_merge_idempotent(spark, t, cl):
    target, changes = _t_df(spark, t), _cl_df(spark, cl)
    once = merge_changes(target, changes, ["k"])
    twice = merge_changes(once, changes, ["k"])
    assert sorted((r.k, r.v) for r in twice.collect()) == sorted(
        (r.k, r.v) for r in once.collect()
    )


@given(t=targets, cl=changelogs, cut=st.integers(min_value=0, max_value=50))
@settings(**SETTINGS)
def test_time_split_batches_converge(spark, t, cl, cut):
    """Split the changelog at a time boundary (all rows <= cut first) —
    sequential merges must equal the one-shot merge. This is exactly the
    per-key ts-monotonicity condition under which cross-batch LWW is safe."""
    early = [r for r in cl if r[1] <= cut]
    late = [r for r in cl if r[1] > cut]
    one_shot = merge_changes(_t_df(spark, t), _cl_df(spark, cl), ["k"])
    stepped = merge_changes(
        merge_changes(_t_df(spark, t), _cl_df(spark, early), ["k"]),
        _cl_df(spark, late),
        ["k"],
    )
    assert sorted((r.k, r.v) for r in stepped.collect()) == sorted(
        (r.k, r.v) for r in one_shot.collect()
    )


# ---------------------------------------------------------------------------
# SCD2 properties: incremental maintenance == one-shot rebuild for ANY
# time-split of ANY changelog, and intervals are always well-formed
# ---------------------------------------------------------------------------

@given(rows=changelogs, cut=st.integers(min_value=0, max_value=50))
@settings(**SETTINGS)
def test_scd2_incremental_equals_full_for_any_time_split(spark, rows, cut):
    from kafka_cdc_redshift_spark.operators.merge import (
        scd2_history,
        scd2_merge_batch,
    )

    cl = _cl_df(spark, rows)
    full = scd2_history(cl, ["k"])

    # any split on a time boundary preserves per-key event-time order
    b1 = cl.filter(f"ts_ms < {cut}")
    b2 = cl.filter(f"ts_ms >= {cut}")
    hist = None
    for b in (b1, b2):
        if b.isEmpty():
            continue
        hist = scd2_merge_batch(hist, b, ["k"])

    cols = sorted(full.columns)
    got = sorted(map(tuple, hist.select(*cols).collect())) if hist is not None else []
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert got == want


@given(rows=changelogs)
@settings(**SETTINGS)
def test_scd2_intervals_well_formed(spark, rows):
    from kafka_cdc_redshift_spark.operators.merge import scd2_history

    hist = scd2_history(_cl_df(spark, rows), ["k"]).collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    for rows_k in by_key.values():
        rows_k.sort(key=lambda r: r.valid_from)
        for r in rows_k:
            assert r.valid_to is None or r.valid_to > r.valid_from
            assert r.is_current == (r.valid_to is None)
        # versions never overlap and at most one is open
        for a, b in zip(rows_k, rows_k[1:]):
            assert a.valid_to is not None and a.valid_to <= b.valid_from
        assert sum(1 for r in rows_k if r.valid_to is None) <= 1


# ---------------------------------------------------------------------------
# SCD2 replay safety: foreachBatch is at-least-once, so re-applying a batch
# must never corrupt the history (no inverted intervals)
# ---------------------------------------------------------------------------

@given(rows=changelogs, cut=st.integers(min_value=0, max_value=50))
@settings(**SETTINGS)
def test_scd2_merge_batch_replay_idempotent(spark, rows, cut):
    from kafka_cdc_redshift_spark.operators.merge import scd2_merge_batch

    cl = _cl_df(spark, rows)
    b1 = cl.filter(f"ts_ms < {cut}")
    b2 = cl.filter(f"ts_ms >= {cut}")
    hist = None
    for b in (b1, b2):
        if b.isEmpty():
            continue
        hist = scd2_merge_batch(hist, b, ["k"])

        # re-apply the SAME batch (checkpoint retry after a publish,
        # outside the streaming job's exactly-once batch-id guard): the
        # close-guard means replay can only duplicate rows or close a
        # tied version zero-length — never INVERT an interval (the
        # corruption the guard exists to prevent)
        raw = scd2_merge_batch(hist, b, ["k"]).collect()
        for r in raw:
            assert r.valid_to is None or r.valid_to >= r.valid_from, r


# ---------------------------------------------------------------------------
# SCD2 tiebreak: equal-timestamp events ordered by the arrival counter
# (data_index_aws) — incremental maintenance must equal the full rebuild
# even when keys have tied timestamps
# ---------------------------------------------------------------------------

tied_changelogs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=6),  # small range -> many ties
        st.integers(min_value=0, max_value=999),
        st.sampled_from(["c", "u", "d"]),
    ),
    min_size=0,
    max_size=25,
)

TIED_SCHEMA = "k long, ts_ms long, data_index_aws long, v long, op string"


@given(rows=tied_changelogs, cut=st.integers(min_value=0, max_value=7))
@settings(**SETTINGS)
def test_scd2_tiebreak_incremental_equals_full_with_tied_ts(spark, rows, cut):
    from kafka_cdc_redshift_spark.operators.merge import (
        scd2_history,
        scd2_merge_batch,
    )

    # arrival order assigns the tiebreak counter, as the CDC reader does
    data = [(k, ts, i, v, op) for i, (k, ts, v, op) in enumerate(rows)]
    cl = spark.createDataFrame(data, TIED_SCHEMA)
    tb = ["data_index_aws"]
    full = scd2_history(cl, ["k"], tiebreak_cols=tb)

    # split on a ts boundary: tied-ts groups never straddle batches, so
    # per-key (ts, arrival) order is preserved across batches
    b1 = cl.filter(f"ts_ms < {cut}")
    b2 = cl.filter(f"ts_ms >= {cut}")
    hist = None
    for b in (b1, b2):
        if b.isEmpty():
            continue
        hist = scd2_merge_batch(hist, b, ["k"], tiebreak_cols=tb)

    cols = sorted(full.columns)
    got = sorted(map(tuple, hist.select(*cols).collect())) if hist is not None else []
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert got == want
    # the tiebreak column is ordering-only — it never lands in the history
    assert "data_index_aws" not in full.columns


@given(rows=tied_changelogs, cut=st.integers(min_value=0, max_value=25))
@settings(**SETTINGS)
def test_scd2_cross_batch_tied_ts_equals_full(spark, rows, cut):
    """Tied-ts groups STRADDLING a batch boundary (the case the ts-split
    tests above deliberately avoid): arrival order is made consistent
    with event time (the Kafka per-key ordering contract), then the
    changelog is split on the ARRIVAL counter, so a new batch's first
    event for a key can tie the open version's valid_from. The default
    (exactly-once) close guard must close the open version zero-length,
    exactly like the full rebuild — the r4 strict guard left two open
    rows per key here (ADVICE medium)."""
    from kafka_cdc_redshift_spark.operators.merge import (
        scd2_history,
        scd2_merge_batch,
    )

    ordered = sorted(rows, key=lambda r: r[1])  # arrival follows event time
    data = [(k, ts, i, v, op) for i, (k, ts, v, op) in enumerate(ordered)]
    cl = spark.createDataFrame(data, TIED_SCHEMA)
    tb = ["data_index_aws"]
    full = scd2_history(cl, ["k"], tiebreak_cols=tb)

    b1 = cl.filter(f"data_index_aws < {cut}")
    b2 = cl.filter(f"data_index_aws >= {cut}")
    hist = None
    for b in (b1, b2):
        if b.isEmpty():
            continue
        hist = scd2_merge_batch(hist, b, ["k"], tiebreak_cols=tb)

    cols = sorted(full.columns)
    got = sorted(map(tuple, hist.select(*cols).collect())) if hist is not None else []
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert got == want
    # ≤1 open row per key even with the straddling tie
    if hist is not None:
        open_rows = hist.filter("valid_to IS NULL").groupBy("k").count().collect()
        assert all(r["count"] <= 1 for r in open_rows)


def test_scd2_cross_batch_tie_minimal(spark):
    """Deterministic minimal ADVICE-medium case: key 1's open version at
    ts=5; the next batch's first (and only) event for key 1 also at
    ts=5. The old version must close (zero-length) and exactly one row
    stays current."""
    from kafka_cdc_redshift_spark.operators.merge import scd2_merge_batch

    b1 = spark.createDataFrame([(1, 5, 0, 10, "c")], TIED_SCHEMA)
    b2 = spark.createDataFrame([(1, 5, 1, 20, "u")], TIED_SCHEMA)
    tb = ["data_index_aws"]
    hist = scd2_merge_batch(None, b1, ["k"], tiebreak_cols=tb)
    hist = scd2_merge_batch(hist, b2, ["k"], tiebreak_cols=tb)
    rows = sorted(hist.collect(), key=lambda r: (r.v,))
    assert len(rows) == 2
    old, new = rows
    assert old.v == 10 and old.valid_to == 5 and not old.is_current
    assert new.v == 20 and new.valid_to is None and new.is_current


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: folding any batching of the data
# through merge_group_stats equals group_stats of the whole
# ---------------------------------------------------------------------------

vals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # group key
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=0,
    max_size=40,
)


@given(rows=vals, nb=st.integers(min_value=1, max_value=5), salt=st.integers(0, 99))
@settings(**SETTINGS)
def test_incremental_stats_any_batching_equals_direct(spark, rows, nb, salt):
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import incremental

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, i long"
    )
    direct = incremental.group_stats(df, ["k"], "v")
    stats = None
    for b in range(nb):  # hash-arbitrary batching, any order
        batch = df.filter((F.col("i") + salt) % nb == b)
        if batch.isEmpty():
            continue
        stats = incremental.merge_group_stats(
            stats, incremental.group_stats(batch, ["k"], "v"), ["k"]
        )
    cols = sorted(direct.columns)
    got = sorted(map(tuple, stats.select(*cols).collect())) if stats is not None else []
    want = sorted(map(tuple, direct.select(*cols).collect()))
    assert got == want


@given(rows=vals, nb=st.integers(min_value=1, max_value=5), salt=st.integers(0, 99))
@settings(**SETTINGS)
def test_incremental_ndv_sketch_any_batching_equals_direct(spark, rows, nb, salt):
    """HLL register union is associative/commutative/idempotent, so ANY
    batching folded through merge_distinct_sketches must give the same
    estimate as sketching the whole data once — and re-folding a batch
    (at-least-once replay) must not move the estimate (idempotence, the
    property a plain counter can never have)."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import incremental

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, i long"
    )
    direct = incremental.estimate_distinct(
        incremental.group_distinct_sketch(df, ["k"], "v")
    ).select("k", "ndv_est")
    sk = None
    last_batch_sketch = None
    for b in range(nb):
        batch = df.filter((F.col("i") + salt) % nb == b)
        if batch.isEmpty():
            continue
        last_batch_sketch = incremental.group_distinct_sketch(batch, ["k"], "v")
        sk = incremental.merge_distinct_sketches(sk, last_batch_sketch, ["k"])
    got = (
        sorted(map(tuple, incremental.estimate_distinct(sk)
                   .select("k", "ndv_est").collect()))
        if sk is not None else []
    )
    want = sorted(map(tuple, direct.collect()))
    assert got == want
    # small-cardinality groups: the HLL estimate is exact here, so pin it
    exact = sorted(map(tuple, df.groupBy("k").agg(
        F.count_distinct("v").alias("n")).collect()))
    assert [(k, float(n)) for k, n in exact] == want
    if last_batch_sketch is not None:
        refolded = incremental.merge_distinct_sketches(
            sk, last_batch_sketch, ["k"]
        )
        got2 = sorted(map(tuple, incremental.estimate_distinct(refolded)
                          .select("k", "ndv_est").collect()))
        assert got2 == want  # idempotent under replay


@given(rows=vals, nb=st.integers(min_value=1, max_value=5), salt=st.integers(0, 99))
@settings(**SETTINGS)
def test_quantile_sketch_any_batching_and_rank_bound(spark, rows, nb, salt):
    """Log-bucket quantile sketch: (1) ANY batching folded through
    merge_quantile_sketches equals the one-shot sketch (count addition is
    associative/commutative); (2) the estimate honors the rank
    guarantee — the target-rank order statistic lies inside the selected
    bucket, so est <= |v_r| <= est * 2^(1/8) (sign-adjusted), i.e. a
    bounded RELATIVE error at every scale."""
    import math

    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import incremental

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, i long"
    )
    if df.isEmpty():
        return
    probs = [0.5, 0.9]
    direct = incremental.group_quantile_sketch(df, ["k"], "v")
    want = sorted(
        map(tuple, incremental.estimate_quantiles(direct, ["k"], probs)
            .collect())
    )
    sk = None
    for b in range(nb):
        batch = df.filter((F.col("i") + salt) % nb == b)
        if batch.isEmpty():
            continue
        sk = incremental.merge_quantile_sketches(
            sk, incremental.group_quantile_sketch(batch, ["k"], "v"), ["k"]
        )
    got = sorted(
        map(tuple, incremental.estimate_quantiles(sk, ["k"], probs).collect())
    )
    assert got == want

    # rank bound vs the exact order statistic, per (group, prob)
    width = 2.0 ** (1.0 / incremental.QSK_BITS_PER_OCTAVE)
    data: dict[int, list[int]] = {}
    for k, v, _ in df.collect():
        data.setdefault(k, []).append(v)
    est_by = {(r["k"], r["p"]): r for r in
              incremental.estimate_quantiles(sk, ["k"], probs).collect()}
    for k, vs in data.items():
        vs.sort()
        for p in probs:
            r = max(math.ceil(p * len(vs)), 1)
            v_r = float(vs[r - 1])
            e = est_by[(k, p)]
            assert e["n_total"] == len(vs)
            if e["bucket"] == 0:
                assert abs(v_r) < 1e-9
            elif e["bucket"] > 0:
                assert e["est"] * 0.999999 <= v_r <= e["est"] * width * 1.000001
            else:
                assert e["est"] * width * 1.000001 <= v_r <= e["est"] * 0.999999


@given(rows=vals, nb=st.integers(min_value=1, max_value=5), salt=st.integers(0, 99))
@settings(**SETTINGS)
def test_cms_sketch_any_batching_and_one_sided_bound(spark, rows, nb, salt):
    """Count-Min frequent-items sketch: (1) ANY batching folded through
    merge_freq_sketches equals the one-shot sketch exactly (counter
    addition is associative/commutative); (2) the estimate is one-sided —
    cms_est >= true count for every present value, and <= the group
    total (a counter can't exceed its group's row count)."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import incremental

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, i long"
    )
    if df.isEmpty():
        return
    direct = incremental.group_freq_sketch(df, ["k"], "v")
    want = sorted((r["k"], tuple(r["cms"])) for r in direct.collect())
    sk = None
    for b in range(nb):
        batch = df.filter((F.col("i") + salt) % nb == b)
        if batch.isEmpty():
            continue
        sk = incremental.merge_freq_sketches(
            sk, incremental.group_freq_sketch(batch, ["k"], "v"), ["k"]
        )
    got = sorted((r["k"], tuple(r["cms"])) for r in sk.collect())
    assert got == want

    cand = df.groupBy("k", "v").agg(F.count(F.lit(1)).alias("exact"))
    tot = dict(df.groupBy("k").count().collect())
    for r in incremental.estimate_freq(sk, cand, ["k"], "v").collect():
        assert r["exact"] <= r["cms_est"] <= tot[r["k"]]


@given(rows=vals, nb=st.integers(min_value=1, max_value=4), salt=st.integers(0, 99))
@settings(**SETTINGS)
def test_cms_topk_candidates_keep_every_present_value_when_small(spark, rows, nb, salt):
    """With m >= the number of distinct values per group, the streamed
    candidate fold must keep EVERY value (nothing can be displaced), and
    final ranking equals ranking the full data's sketch directly — so at
    real scale, a true heavy hitter that outranks the m-th estimate
    survives every fold."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import incremental

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, i long"
    )
    if df.isEmpty():
        return
    m = 64  # > max distinct values the strategy can generate per group
    sk, cand = None, None
    for b in range(nb):
        batch = df.filter((F.col("i") + salt) % nb == b)
        if batch.isEmpty():
            continue
        sk = incremental.merge_freq_sketches(
            sk, incremental.group_freq_sketch(batch, ["k"], "v"), ["k"]
        )
        cand = incremental.topk_candidates(
            cand, batch, sk, ["k"], "v", m=m
        )
    got = sorted((r["k"], r["v"], r["cms_est"], r["rnk"]) for r in cand.collect())
    direct = incremental.topk_candidates(
        None, df, incremental.group_freq_sketch(df, ["k"], "v"),
        ["k"], "v", m=m,
    )
    want = sorted((r["k"], r["v"], r["cms_est"], r["rnk"]) for r in direct.collect())
    assert got == want


@given(rows=vals, nb=st.integers(min_value=1, max_value=5), salt=st.integers(0, 99))
@settings(**SETTINGS)
def test_kmv_sample_any_batching_replay_and_model(spark, rows, nb, salt):
    """KMV bottom-k sample sketch: (1) ANY batching folded through
    merge_sample_sketches — INCLUDING a deliberately replayed batch —
    equals the one-shot sketch exactly (min-of-union is idempotent, the
    strongest guarantee in the incremental family); (2) the kept set
    equals a pure-Python model of 'k smallest (hash, value) distinct
    pairs'; (3) the NDV estimate is exact below k and matches the
    (k-1)*P/h_k formula at k."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import incremental as inc

    k = 4  # small enough that the estimator branch is exercised
    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "k long, v long, i long"
    )
    if df.isEmpty():
        return
    direct = inc.group_sample_sketch(df, ["k"], "v", k=k)
    want = sorted(
        (r["k"], tuple((e["h"], e["v"]) for e in r["ksample"]))
        for r in direct.collect()
    )

    sk = None
    replayed = False
    for b in range(nb):
        batch = df.filter((F.col("i") + salt) % nb == b)
        if batch.isEmpty():
            continue
        bs = inc.group_sample_sketch(batch, ["k"], "v", k=k)
        sk = inc.merge_sample_sketches(sk, bs, ["k"], k=k)
        if not replayed:  # replay the first non-empty batch verbatim
            sk = inc.merge_sample_sketches(sk, bs, ["k"], k=k)
            replayed = True
    got = sorted(
        (r["k"], tuple((e["h"], e["v"]) for e in r["ksample"]))
        for r in sk.collect()
    )
    assert got == want

    # pure-Python model of the kept set and the estimator
    P, A, B = inc.CMS_P, inc.KMV_A, inc.KMV_B
    model = {}
    for g, v in set(rows):
        h = (A * (((v % P) + P) % P) + B) % P
        model.setdefault(g, []).append((h, v))
    for g, pairs in model.items():
        model[g] = sorted(pairs)[:k]
    assert {g: list(p) for g, p in model.items()} == {
        g: list(p) for g, p in ((r[0], r[1]) for r in got)
    }

    ests = {
        r["k"]: (r["sample_size"], r["ndv_est"])
        for r in inc.estimate_distinct_kmv(sk, ["k"], k=k).collect()
    }
    exact = {g: len({v for gg, v in set(rows) if gg == g}) for g, _ in model.items()}
    for g, (size, est) in ests.items():
        if exact[g] < k:
            assert size == exact[g] and est == float(exact[g])
        else:
            hk = model[g][k - 1][0]
            assert est == float((k - 1) * P) / max(float(hk), 1.0)


hashes = st.lists(
    st.integers(min_value=0, max_value=(1 << 60) - 1), min_size=0, max_size=30
)


@given(a=hashes, b=hashes)
@settings(**SETTINGS)
def test_bloom_no_false_negatives_and_lossless_union(spark, a, b):
    """Bloom membership sketch: (1) every inserted hash probes True (no
    false negatives — the contract that lets bloom-negative docs skip
    the exact join); (2) bloom(A ∪ B) == merge(bloom(A), bloom(B)) word
    for word, and merging a bloom with itself is a no-op (bit_or is
    idempotent); (3) absent values may probe True (false positive) but
    the probe never errors on an empty bloom."""
    from pyspark.sql import functions as F

    from kafka_cdc_redshift_spark.functions import membership as M

    m, d = 512, 4  # small m so collisions actually occur under test
    dfa = spark.createDataFrame([(h,) for h in a] or [(None,)], "gh long").filter(
        F.col("gh").isNotNull()
    )
    dfb = spark.createDataFrame([(h,) for h in b] or [(None,)], "gh long").filter(
        F.col("gh").isNotNull()
    )
    ba = M.bloom_from_hashes(dfa, "gh", m=m, d=d)
    bb = M.bloom_from_hashes(dfb, "gh", m=m, d=d)
    bu = M.bloom_from_hashes(dfa.unionByName(dfb), "gh", m=m, d=d)
    merged = M.merge_blooms(ba, bb)
    assert [list(r["bloom"]) for r in merged.collect()] == [
        list(r["bloom"]) for r in bu.collect()
    ]
    assert [list(r["bloom"]) for r in M.merge_blooms(bu, bu).collect()] == [
        list(r["bloom"]) for r in bu.collect()
    ]

    probed = (
        dfa.unionByName(dfb)
        .join(F.broadcast(bu))
        .withColumn("hit", M.bloom_hit_col(F.col("gh"), F.col("bloom"), m=m, d=d))
    )
    rows = probed.collect()
    assert all(r["hit"] for r in rows)
    assert len(rows) == len(a) + len(b)


cdc_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),    # key
        st.integers(min_value=0, max_value=99),   # new value
        st.integers(min_value=0, max_value=2),    # 2 = delete attempt
    ),
    min_size=0,
    max_size=20,
)


@given(ops=cdc_ops, cut=st.integers(min_value=0, max_value=20))
@settings(**SETTINGS)
def test_group_stats_cdc_fold_matches_live_state(spark, ops, cut):
    """Signed retract/assert census property: for ANY consistent CDC
    event sequence (each event's before == the key's current live
    image, groups derived from values so updates change groups) and
    ANY batch split, folding the per-batch deltas equals the census of
    the final live state — retract/assert pairs telescope."""
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_stats_cdc,
        merge_group_stats_cdc,
    )

    events, state = [], {}
    for k, v, a in ops:
        grp = f"g{v % 3}"
        if k not in state:
            events.append((grp, v, "c", None))
            state[k] = (grp, v)
        elif a == 2:
            bg, bv = state.pop(k)
            events.append((None, None, "d", (bg, bv)))
        else:
            bg, bv = state[k]
            events.append((grp, v, "u", (bg, bv)))
            state[k] = (grp, v)
    exp = {}
    for grp, v in state.values():
        n, s, ss = exp.get(grp, (0, 0, 0))
        exp[grp] = (n + 1, s + v, ss + v * v)

    schema = ("grp string, v long, op string, "
              "_before_img struct<grp:string, v:long>")

    def census(batches):
        acc = None
        for b in batches:
            delta = group_stats_cdc(
                spark.createDataFrame(b, schema), ["grp"], "v"
            )
            acc = merge_group_stats_cdc(acc, delta, ["grp"])
        if acc is None:
            return {}
        return {r.grp: (r.n, r.sum, r.sumsq) for r in acc.collect()}

    assert census([events[:cut], events[cut:]]) == exp


@given(ops=cdc_ops, cut=st.integers(min_value=0, max_value=20))
@settings(**SETTINGS)
def test_group_freq_sketch_cdc_fold_matches_live_sketch(spark, ops, cut):
    """Signed Count-Min property: for ANY consistent CDC sequence and
    ANY batch split, folding the signed bucket deltas
    (group_freq_sketch_cdc + merge_freq_sketches_cdc) equals
    group_freq_sketch over the final LIVE table counter-for-counter —
    retract/assert increments telescope — and groups whose live
    population reached zero disappear entirely."""
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_freq_sketch,
        group_freq_sketch_cdc,
        merge_freq_sketches_cdc,
    )

    events, state = [], {}
    for k, v, a in ops:
        grp = f"g{v % 3}"
        if k not in state:
            events.append((grp, v, "c", None))
            state[k] = (grp, v)
        elif a == 2:
            bg, bv = state.pop(k)
            events.append((None, None, "d", (bg, bv)))
        else:
            bg, bv = state[k]
            events.append((grp, v, "u", (bg, bv)))
            state[k] = (grp, v)

    schema = ("grp string, v long, op string, "
              "_before_img struct<grp:string, v:long>")
    acc = None
    for b in (events[:cut], events[cut:]):
        delta = group_freq_sketch_cdc(
            spark.createDataFrame(b, schema), ["grp"], "v"
        )
        acc = merge_freq_sketches_cdc(acc, delta, ["grp"])
    got = {r.grp: list(r.cms) for r in acc.collect()} if acc is not None \
        else {}

    live = [(grp, v) for grp, v in state.values()]
    if live:
        want = {
            r.grp: list(r.cms)
            for r in group_freq_sketch(
                spark.createDataFrame(live, "grp string, v long"),
                ["grp"], "v",
            ).collect()
        }
    else:
        want = {}
    assert got == want


@given(ops=cdc_ops, cut=st.integers(min_value=0, max_value=20))
@settings(**SETTINGS)
def test_group_quantile_sketch_cdc_fold_matches_live_sketch(spark, ops, cut):
    """Signed quantile-histogram property: for ANY consistent CDC
    sequence and ANY batch split, folding the signed bucket deltas
    equals group_quantile_sketch over the final LIVE table entry-for-
    entry (zeroed buckets drop, emptied groups disappear)."""
    from kafka_cdc_redshift_spark.functions.incremental import (
        group_quantile_sketch,
        group_quantile_sketch_cdc,
        merge_quantile_sketches_cdc,
    )

    events, state = [], {}
    for k, v, a in ops:
        grp = f"g{v % 3}"
        if k not in state:
            events.append((grp, v, "c", None))
            state[k] = (grp, v)
        elif a == 2:
            bg, bv = state.pop(k)
            events.append((None, None, "d", (bg, bv)))
        else:
            bg, bv = state[k]
            events.append((grp, v, "u", (bg, bv)))
            state[k] = (grp, v)

    schema = ("grp string, v long, op string, "
              "_before_img struct<grp:string, v:long>")
    acc = None
    for b in (events[:cut], events[cut:]):
        delta = group_quantile_sketch_cdc(
            spark.createDataFrame(b, schema), ["grp"], "v"
        )
        acc = merge_quantile_sketches_cdc(acc, delta, ["grp"])
    got = {
        r.grp: [(e.b, e.n) for e in r.qsketch] for r in acc.collect()
    } if acc is not None else {}
    got = {g: s for g, s in got.items() if s}  # unmerged single delta

    live = [(grp, v) for grp, v in state.values()]
    want = {
        r.grp: [(e.b, e.n) for e in r.qsketch]
        for r in group_quantile_sketch(
            spark.createDataFrame(live, "grp string, v long"),
            ["grp"], "v",
        ).collect()
    } if live else {}
    assert got == want


# -- rank-substrate stamp (util.stamp_range_bucket, r10 tree spelling) -----
# rows: (k possibly-null small int, o int) with duplicates allowed — ties
# and nulls are exactly where a bucketing bug would hide
stamp_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=stamp_rows, p=st.integers(min_value=1, max_value=23))
@settings(**SETTINGS)
def test_stamp_range_bucket_properties(spark, rows, p):
    """For ANY key set (ties, negatives, NULLs) and ANY partition count:
    the balanced-tree stamp equals the canonical count-of-bounds-below,
    rows with a NULL key land in bucket 0, and bucket ids are monotone
    in (k NULLS FIRST, o) order — the three facts every substrate
    consumer (rank, ntile, prefix scan) relies on."""
    from kafka_cdc_redshift_spark.util import (
        _sampled_range_bounds,
        stamp_range_bucket,
    )

    df = spark.createDataFrame(
        [(k, o, i) for i, (k, o) in enumerate(rows)], "k int, o int, id int"
    )
    bounds = _sampled_range_bounds(df, ["k", "o"], p)
    got = {
        r.id: r["__pid"]
        for r in stamp_range_bucket(df, ["k", "o"], p).collect()
    }
    def below(k, o):
        if k is None:
            return 0
        return sum(1 for b in bounds if (k, o) > b)
    for i, (k, o) in enumerate(rows):
        assert got[i] == below(k, o), (rows[i], bounds)
    # monotone in NULLS FIRST key order
    ordered = sorted(
        range(len(rows)),
        key=lambda i: (rows[i][0] is not None, rows[i][0] or 0, rows[i][1]),
    )
    pids = [got[i] for i in ordered]
    assert pids == sorted(pids), (rows, bounds)

"""CDC kernel: routing -> parse -> dedup -> merge, against hand-computed and
DuckDB-replayed expectations (FIXTURES.md §C)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.operators import (
    lww_dedup,
    latest_deletes,
    explode_canal,
    merge_changes,
    route_parse_debezium,
    route_parse_mongo,
)
from kafka_cdc_redshift_spark.sources import load_table
from kafka_cdc_redshift_spark.sources.envelopes import (
    ORDERS_CHANGELOG_SQL,
    synth_canal_topic,
    synth_debezium_topic,
    synth_orders_changelog,
)


def duck(sf_dir):
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def test_lww_dedup_matches_oracle(spark, sf_dir):
    cl = synth_orders_changelog(spark, sf_dir)
    got = lww_dedup(cl, ["o_orderkey"], ["ts_ms"]).select(
        "o_orderkey", "op", "ts_ms", "o_totalprice"
    )
    rows = {r.o_orderkey: r for r in got.collect()}

    exp = duck(sf_dir).execute(
        f"""WITH {ORDERS_CHANGELOG_SQL}
        SELECT o_orderkey, op, ts_ms, o_totalprice FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY ts_ms DESC) rn
          FROM changelog) WHERE rn = 1"""
    ).fetchall()
    assert len(rows) == len(exp)
    for k, op, ts, price in exp:
        r = rows[k]
        assert (r.op, r.ts_ms) == (op, ts)
        assert r.o_totalprice == pytest.approx(price, abs=1e-9)


def test_merge_changes_matches_oracle(spark, sf_dir):
    target = load_table(spark, sf_dir, "orders")
    cl = synth_orders_changelog(spark, sf_dir)
    merged = merge_changes(target, cl, ["o_orderkey"])
    got = {r.o_orderkey: r.o_totalprice for r in merged.collect()}

    exp = dict(
        duck(sf_dir).execute(
            """SELECT o_orderkey,
                      CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                           ELSE o_totalprice END
               FROM orders WHERE o_orderkey % 7 != 0"""
        ).fetchall()
    )
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)


def test_merge_skip_delete_keeps_deletes(spark, sf_dir):
    target = load_table(spark, sf_dir, "orders")
    cl = synth_orders_changelog(spark, sf_dir)
    merged = merge_changes(target, cl, ["o_orderkey"], skip_delete=True)
    n_orders = target.count()
    assert merged.count() == n_orders  # nothing removed
    assert merged.select("o_orderkey").distinct().count() == n_orders


@pytest.mark.parametrize("skip_delete", [False, True])
def test_anti_join_key_side_under_duplicate_keys(spark, skip_delete):
    """The anti-join's broadcast key side is taken before the LWW dedup,
    so it carries a key once per event. With several events per key in
    one batch — insert->update->delete of key 1, delete->re-insert of
    key 2 (a target row) — it must still merge exactly like the
    single-window union."""
    target = spark.createDataFrame(
        [(2, "t2"), (3, "t3"), (5, "t5")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [
            (1, "a", "c", 10), (1, "b", "u", 11), (1, "b", "d", 12),
            (2, "t2", "d", 10), (2, "n2", "c", 11),
            (4, "x", "c", 10), (4, "y", "u", 11),
            (5, "t5", "d", 10),
        ],
        "k long, v string, op string, ts_ms long",
    )

    def merged(**kw):
        out = merge_changes(target, updates, ["k"], skip_delete=skip_delete, **kw)
        return sorted(map(tuple, out.collect()))

    expected = merged()
    assert merged(broadcast_updates=True) == expected
    assert expected == (
        [(1, "b"), (2, "n2"), (3, "t3"), (4, "y"), (5, "t5")] if skip_delete
        else [(2, "n2"), (3, "t3"), (4, "y")]
    )


@pytest.mark.parametrize("skip_delete", [False, True])
def test_null_key_never_matches_under_both_strategies(spark, skip_delete):
    """A NULL key equals no key (the reference's `WHERE t.pk = s.pk`):
    the target row with a NULL key survives the batch, and the batch's
    NULL-key image is appended beside it — on both merge paths, so the
    streaming shell's choice between them changes no result."""
    target = spark.createDataFrame(
        [(None, "t_null"), (1, "t1"), (2, "t2")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(None, "u_null", "u", 10), (1, "u1", "u", 10), (3, "u3", "d", 10)],
        "k long, v string, op string, ts_ms long",
    )

    def merged(**kw):
        out = merge_changes(target, updates, ["k"], skip_delete=skip_delete, **kw)
        return sorted(map(tuple, out.collect()), key=lambda r: (r[0] or 0, r[1]))

    expected = [(None, "t_null"), (None, "u_null"), (1, "u1"), (2, "t2")]
    if skip_delete:
        expected.append((3, "u3"))
    assert merged() == expected
    assert merged(broadcast_updates=True) == expected


def test_union_window_takes_tiebreak_in_order_by(spark):
    """The streaming shell's order already ends in the data_index_aws
    tiebreak that merge_changes appends itself; the window orders by it
    once instead of failing on a duplicate column."""
    target = spark.createDataFrame([(1, "t1")], "k long, v string")
    updates = spark.createDataFrame(
        [(1, "a", "u", 10, 2), (1, "b", "u", 10, 1)],
        "k long, v string, op string, ts_ms long, data_index_aws long",
    )
    for broadcast in (False, True):
        out = merge_changes(
            target, updates, ["k"], order_by=("ts_ms", "data_index_aws"),
            broadcast_updates=broadcast,
        )
        assert [tuple(r) for r in out.collect()] == [(1, "a")], broadcast


def test_latest_deletes(spark, sf_dir):
    cl = synth_orders_changelog(spark, sf_dir)
    dels = latest_deletes(cl, ["o_orderkey"], ["ts_ms"])
    n = duck(sf_dir).execute(
        "SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0"
    ).fetchone()[0]
    assert dels.count() == n
    assert dels.filter(F.col("op") != "d").count() == 0


def test_debezium_roundtrip_and_routing(spark, sf_dir):
    topic = synth_debezium_topic(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    parsed = route_parse_debezium(topic, "salesdb", "orders", orders.schema)
    # routing drops the customer envelopes
    n_cl = synth_orders_changelog(spark, sf_dir).count()
    assert parsed.count() == n_cl
    # delete rows carry full images after coalesce
    assert parsed.filter(F.col("op") == "d").filter(F.col("o_orderkey").isNull()).count() == 0
    # end-to-end merge equals flat-changelog merge
    merged = merge_changes(orders, parsed, ["o_orderkey"])
    exp = duck(sf_dir).execute(
        "SELECT count(*) FROM orders WHERE o_orderkey % 7 != 0"
    ).fetchone()[0]
    assert merged.count() == exp


def test_canal_posexplode_tiebreak(spark, sf_dir):
    topic = synth_canal_topic(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    parsed = explode_canal(topic)
    winners = lww_dedup(parsed, ["o_orderkey"], ["ts_ms", "data_index_aws"])
    # second image (price*2) must win via array-position tiebreak
    joined = winners.alias("w").join(orders.alias("o"), "o_orderkey").select(
        "w.o_totalprice", F.col("o.o_totalprice").alias("orig")
    )
    bad = joined.filter(F.col("o_totalprice") != F.col("orig") * 2).count()
    assert bad == 0


def test_mongo_parse(spark):
    rows = [
        ('{"operationType":"insert","fullDocument":"{\\"a\\":1}",'
         '"documentKey":"{\\"_id\\": 1.0}","ns":{"db":"d","coll":"c"},"ts_ms":100}',),
        ('{"operationType":"delete","fullDocument":null,'
         '"documentKey":"{\\"_id\\": 1.0}","ns":{"db":"d","coll":"c"},"ts_ms":200}',),
    ]
    df = spark.createDataFrame(rows, ["value"])
    parsed = route_parse_mongo(df, "d", "c").orderBy("ts_ms").collect()
    assert parsed[0].doc_id == "1.0" and parsed[0].op == "c"
    assert parsed[1].doc == "[]" and parsed[1].op == "d"


def test_scd2_history_intervals(spark, sf_dir):
    from kafka_cdc_redshift_spark.operators.merge import scd2_history
    from kafka_cdc_redshift_spark.sources.envelopes import synth_orders_changelog

    cl = synth_orders_changelog(spark, sf_dir)
    hist = scd2_history(cl, ["o_orderkey"]).collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.o_orderkey, []).append(r)
    for key, rows in by_key.items():
        rows.sort(key=lambda r: r.valid_from)
        # intervals chain: each version's valid_to is the next valid_from
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from
        open_rows = [r for r in rows if r.valid_to is None]
        if key % 7 == 0:
            # delete closes the history: every version has an end
            assert not open_rows
            assert all(not r.is_current for r in rows)
        else:
            # exactly one open, current version
            assert len(open_rows) == 1 and open_rows[0] is rows[-1]
            assert open_rows[0].is_current
        # keys with an update carry two versions (insert + update)
        expected = 2 if key % 3 == 0 else 1
        assert len(rows) == expected


def test_scd2_incremental_replay_equals_full_rebuild(spark, sf_dir):
    from kafka_cdc_redshift_spark.operators.merge import (
        scd2_history,
        scd2_merge_batch,
    )
    from kafka_cdc_redshift_spark.sources.envelopes import synth_orders_changelog

    cl = synth_orders_changelog(spark, sf_dir)
    # per-key event-time order is preserved by splitting on op: every 'c'
    # (ts base) precedes every 'u' (+1h) precedes every 'd' (+2h)
    batches = [cl.filter(F.col("op") == o) for o in ("c", "u", "d")]
    hist = None
    for b in batches:
        hist = scd2_merge_batch(hist, b, ["o_orderkey"])
    full = scd2_history(cl, ["o_orderkey"])

    cols = sorted(full.columns)
    inc_rows = sorted(map(tuple, hist.select(*cols).collect()))
    full_rows = sorted(map(tuple, full.select(*cols).collect()))
    assert len(inc_rows) == len(full_rows)
    assert inc_rows == full_rows


def test_scd2_merge_batch_survives_schema_drift(spark):
    from kafka_cdc_redshift_spark.operators.merge import scd2_merge_batch

    b1 = spark.createDataFrame(
        [(1, 10, "c", "a")], "k long, ts_ms long, op string, attr string"
    )
    # batch 2 adds a column and drops one
    b2 = spark.createDataFrame(
        [(1, 20, "u", 7.5)], "k long, ts_ms long, op string, score double"
    )
    hist = scd2_merge_batch(scd2_merge_batch(None, b1, ["k"]), b2, ["k"])
    rows = {r.valid_from: r for r in hist.collect()}
    assert set(hist.columns) == {"k", "attr", "score", "valid_from", "valid_to", "is_current"}
    assert rows[10].valid_to == 20 and not rows[10].is_current
    assert rows[10].attr == "a" and rows[10].score is None
    assert rows[20].valid_to is None and rows[20].is_current
    assert rows[20].attr is None and rows[20].score == 7.5

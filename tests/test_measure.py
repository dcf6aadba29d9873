"""tools/measure.py: the per-query record, the replica's invariants and the
A/B pair statistic, run in-process on the suite's session."""

import importlib.util
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "measure.py",
)
_spec = importlib.util.spec_from_file_location("measure", _TOOL)
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)


def test_measure_query_record_and_plan(spark, sf_dir, tmp_path):
    # q11 builds through eager checkpoint jobs, so both phases run jobs
    rec = measure.measure_query(
        spark, sf_dir, "q11_important_parts", str(tmp_path)
    )
    json.dumps(rec)  # one JSON line per query
    assert rec["q"] == "q11_important_parts"
    assert len(rec["samples"]) == measure.SAMPLES
    med = rec["median"]
    assert med["build_jobs"] >= 1 and med["exec_jobs"] >= 1
    assert med["exec_stages"] >= med["exec_jobs"] and med["exec_tasks"] >= 1
    assert med["planning_ms"] >= 0 and med["exec_s"] > 0
    plan = (tmp_path / "q11_important_parts.txt").read_text()
    assert "== Physical Plan ==" in plan


def test_replica_triples_rows_and_joins_within_copies(spark, tmp_path):
    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(pa.table({
        "c_custkey": pa.array([0, 1, 7], pa.int64()),
        "c_nationkey": pa.array([3, 3, 4], pa.int32()),
    }), src / "customer.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array([10, 11, 12, 13], pa.int64()),
        "o_custkey": pa.array([0, 7, 7, 1], pa.int64()),
    }), src / "orders.parquet")
    texts = ["a b  a", "c"]
    pq.write_table(pa.table({
        "doc_id": pa.array([0, 1], pa.int64()),
        "text": texts,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        "embedding": pa.array([[1.0, -2.0, 3.0], [0.5, 0.5, 0.5]],
                              pa.list_(pa.float32())),
    }), src / "documents.parquet")

    dst = measure.replicate(str(src), str(tmp_path / "x3"), 3)
    assert sorted(os.listdir(dst)) == sorted(os.listdir(src))

    def read(name):
        return spark.read.parquet(os.path.join(dst, name))

    cust, orders = read("customer.parquet"), read("orders.parquet")
    assert (cust.count(), orders.count()) == (9, 12)
    assert cust.select("c_custkey").distinct().count() == 9
    assert orders.select("o_orderkey").distinct().count() == 12
    # every order joins exactly its original customer, inside its copy:
    # 3x the original 4 matches, and no order lost or doubled
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    assert joined.count() == 12
    assert joined.filter(
        (joined.o_orderkey - joined.c_custkey)
        .isin([10, 4, 5, 12])  # orderkey - custkey of the original pairs
    ).count() == 12

    docs = pq.read_table(os.path.join(dst, "documents.parquet")).to_pylist()
    assert len({d["doc_id"] for d in docs}) == 6
    for copy, chunk in enumerate((docs[0:2], docs[2:4], docs[4:6])):
        for doc, text in zip(chunk, texts):
            want = re.sub(r"(\S+)", rf"\1~{copy}", text) if copy else text
            assert doc["text"] == want and doc["n_chars"] == len(want)
        # one sign vector per copy: norms and intra-copy dots exact
        a, b = (d["embedding"] for d in chunk)
        assert [abs(x) for x in a] == [1.0, 2.0, 3.0]
        assert sum(x * y for x, y in zip(a, b)) == 1.0
    # a second call reuses the finished replica
    assert measure.replicate(str(src), dst, 3) == dst


def test_pair_verdict():
    same = [1.0, 1.1, 0.9, 1.2, 1.0, 1.05, 0.95, 1.0, 1.1, 1.0]
    v = measure.verdict(same, same)
    assert v["wins"] == "0/10" and v["verdict"] == "no gain"
    # 10/10 wins, medians 0.5 apart against an IQR of ~0.1
    faster = [x - 0.5 for x in same]
    v = measure.verdict(faster, same)
    assert v["wins"] == "10/10" and v["verdict"] == "gain"
    # 10/10 wins by a hair inside the other side's spread is no gain
    v = measure.verdict([x - 0.01 for x in same], same)
    assert v["wins"] == "10/10" and v["verdict"] == "no gain"

"""Fixture-cache hygiene: cached topic DataFrames must not survive their
SparkSession (plans/catalog.py _FIXTURE_CACHE). Runs in a subprocess so the
two-session lifecycle can't disturb the shared test session."""

import subprocess
import sys

import pytest

# subprocess two-session lifecycle probes take 1-2 min each: marked slow,
# but they run in the default suite like every test; deselect them for a
# quick loop with -m "not slow"
pytestmark = pytest.mark.slow

SCRIPT = r"""
from kafka_cdc_redshift_spark.session import build_session
from kafka_cdc_redshift_spark.plans import catalog

sf = "/root/testdata/sf0.001"
s1 = build_session("cache-a", shuffle_partitions=4)
catalog._fixture(s1, sf, "changelog", catalog.synth_orders_changelog)
assert len(catalog._FIXTURE_CACHE) == 1
s1.stop()

s2 = build_session("cache-b", shuffle_partitions=4)
df = catalog._fixture(s2, sf, "changelog", catalog.synth_orders_changelog)
assert df.count() > 0
live = [sess for sess, _ in catalog._FIXTURE_CACHE.values()]
assert all(sess is s2 for sess in live), "stale session entries survived"
assert len(catalog._FIXTURE_CACHE) == 1
s2.stop()
print("OK")
"""


def test_cache_evicts_stopped_sessions():
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True,
        cwd="/root/repo", timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "OK" in r.stdout


TOMB_SCRIPT = r"""
import os
from kafka_cdc_redshift_spark.session import build_session
from kafka_cdc_redshift_spark.plans import catalog_llm as cl

sf = "/root/testdata/sf0.001"
s1 = build_session("tomb-a", shuffle_partitions=4)
d1 = cl._tomb_state_dir(s1, sf, "bm25tomb")
with open(os.path.join(d1, "marker"), "w") as f:
    f.write("x")
s1.stop()

s2 = build_session("tomb-b", shuffle_partitions=4)
d2 = cl._tomb_state_dir(s2, sf, "bm25tomb")
assert d2 != d1
assert not os.path.exists(d1), "evicted session's state dir leaked"
assert os.path.isdir(d2)
s2.stop()
print("OK")
"""


def test_tomb_state_dirs_removed_on_eviction():
    """_tomb_state_dir must rmtree an evicted session's state dirs, not
    just forget them — otherwise every bench/test session accretes
    orphaned bm25tomb_*/anntomb_* trees in /tmp (r7 VERDICT finding #2)."""
    r = subprocess.run(
        [sys.executable, "-c", TOMB_SCRIPT], capture_output=True, text=True,
        cwd="/root/repo", timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "OK" in r.stdout

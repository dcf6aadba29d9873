"""Session sizing: the local session's task slots and pre-touched heap
follow the host unless the environment pins them."""

from kafka_cdc_redshift_spark.session import session_sizing

GB_KB = 1024 * 1024


def test_sizing_follows_host_when_env_unset():
    # 15 GB free: 60% is 9 GB, under the 20g cap
    assert session_sizing({}, 4, 15 * GB_KB) == (4, "9g")
    assert session_sizing({}, 4, 12 * GB_KB) == (4, "7372m")
    # a large host keeps the 20g the engine was tuned with
    assert session_sizing({}, 32, 256 * GB_KB) == (32, "20g")
    # no /proc/meminfo: the cap
    assert session_sizing({}, 2, None) == (2, "20g")
    # a nearly full host still gets a heap the JVM can start with
    assert session_sizing({}, 1, 100 * 1024) == (1, "512m")


def test_env_overrides_host():
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    assert session_sizing(env, 4, 15 * GB_KB) == (8, "2g")
    # each variable overrides on its own; empty means unset
    assert session_sizing({"SPARK_GRAFT_CPUS": "6"}, 4, 10 * GB_KB) == (6, "6g")
    assert session_sizing({"SPARK_GRAFT_CPUS": ""}, 4, None) == (4, "20g")

"""Master resolution for the deployment entry point (functions/session.py).

A spark-submit child (PYSPARK_GATEWAY_PORT set) must NOT have its
submitted --master overridden by get_spark's local[cpus] fallback;
a plain `python` launch must still get the local default; an explicit
master argument always wins. Unit-tested here so the decision logic
can't regress silently.
"""

from schema_inference_spark.functions.session import _resolve_master


def test_plain_python_defaults_to_local_cpus():
    assert _resolve_master(None, "32", {}) == "local[32]"
    assert _resolve_master(None, "8", {"PATH": "/bin"}) == "local[8]"


def test_spark_submit_defers_to_submitted_master():
    env = {"PYSPARK_GATEWAY_PORT": "46165"}
    assert _resolve_master(None, "32", env) is None


def test_explicit_master_always_wins():
    env = {"PYSPARK_GATEWAY_PORT": "46165"}
    assert _resolve_master("local[2]", "32", env) == "local[2]"
    assert _resolve_master("local[2]", "32", {}) == "local[2]"


def test_session_sized_from_host_memory():
    from schema_inference_spark.functions.session import size_session
    # default heap: a share of what the host has, pre-touched
    assert size_session({}, 15000) == ("6000m", "-Xms6000m -XX:+AlwaysPreTouch")
    # capped at the old 32g default on a big host
    assert size_session({}, 1 << 20)[0] == "32768m"
    # an explicit heap that fits gives the same flags as before sizing
    assert size_session({"SPARK_GRAFT_DRIVER_MEM": "3g"}, 15000) == (
        "3g", "-Xms3g -XX:+AlwaysPreTouch")
    # one the host cannot back keeps its -Xmx but is neither pre-sized
    # past the budget nor pre-touched
    assert size_session({"SPARK_GRAFT_DRIVER_MEM": "32g"}, 15000) == (
        "32g", "-Xms6000m")
    # unknown host memory: the explicit or old defaults, unclamped
    assert size_session({}, None) == ("32g", "-Xms32g -XX:+AlwaysPreTouch")


def test_parallelism_defaults_to_the_cpus_this_process_may_use():
    import os

    from schema_inference_spark.functions.session import _resolve_parallelism
    n = len(os.sched_getaffinity(0))
    # SPARK_GRAFT_CPUS unset: local[N] and N shuffle partitions
    assert _resolve_parallelism(None, None, {}) == (f"local[{n}]", n)
    assert _resolve_parallelism(None, None, {"SPARK_GRAFT_CPUS": "3"}) == (
        "local[3]", 3)
    # explicit arguments and spark-submit keep their precedence
    assert _resolve_parallelism("local[2]", 5, {}) == ("local[2]", 5)
    assert _resolve_parallelism(None, None, {
        "PYSPARK_GATEWAY_PORT": "46165"}) == (None, n)

"""Master resolution for the deployment entry point (functions/session.py).

A spark-submit child (PYSPARK_GATEWAY_PORT set) must NOT have its
submitted --master overridden by get_spark's local[cpus] fallback;
a plain `python` launch must still get the local default; an explicit
master argument always wins. The same holds for the submitted --conf
sizing, checked through a real spark-submit. Unit-tested here so the
decision logic can't regress silently. The class-data-sharing archive's
plan is tested on a fake JDK and Spark home, and end to end through the
deployed job.
"""

import os

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
    # default heap: a share of what the host has, pre-sized, with a
    # young generation fixed at a quarter of it
    assert size_session({}, 15000) == ("6000m", "-Xms6000m -Xmn1500m")
    # capped at the old 32g default on a big host
    assert size_session({}, 1 << 20)[0] == "32768m"
    # an explicit heap that fits is pre-sized to itself
    assert size_session({"SPARK_GRAFT_DRIVER_MEM": "3g"}, 15000) == (
        "3g", "-Xms3g -Xmn768m")
    # one the host cannot back keeps its -Xmx but is not pre-sized past
    # the budget
    assert size_session({"SPARK_GRAFT_DRIVER_MEM": "32g"}, 15000) == (
        "32g", "-Xms6000m -Xmn1500m")
    # unknown host memory: the explicit or old defaults, unclamped
    assert size_session({}, None) == ("32g", "-Xms32g -Xmn8192m")


def test_parallelism_defaults_to_the_cpus_this_process_may_use():
    from schema_inference_spark.functions.session import _resolve_parallelism
    n = len(os.sched_getaffinity(0))
    # SPARK_GRAFT_CPUS unset: local[N] and N shuffle partitions
    assert _resolve_parallelism(None, None, {}) == (f"local[{n}]", n)
    assert _resolve_parallelism(None, None, {"SPARK_GRAFT_CPUS": "3"}) == (
        "local[3]", 3)
    # explicit arguments win; under spark-submit its --master and --conf
    # decide unless an argument is given
    assert _resolve_parallelism("local[2]", 5, {}) == ("local[2]", 5)
    submit = {"PYSPARK_GATEWAY_PORT": "46165"}
    assert _resolve_parallelism(None, None, submit) == (None, None)
    assert _resolve_parallelism(None, 5, submit) == (None, 5)


# --- class-data sharing archive -------------------------------------------------

def _host(tmp_path, conf=("spark-defaults.conf.template",)):
    """A fake JDK and Spark home (no process starts: the plan only stats
    files), and a cache under ``tmp_path``."""
    jdk, home = tmp_path / "jdk", tmp_path / "spark"
    for d in (jdk / "bin", jdk / "lib" / "server", home / "jars",
              home / "conf"):
        d.mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "lib" / "server" / "libjvm.so").write_text("jvm")
    (home / "jars" / "spark-core.jar").write_text("classes")
    for name in conf:
        (home / "conf" / name).write_text("")
    return {"JAVA_HOME": str(jdk), "SPARK_HOME": str(home),
            "XDG_CACHE_HOME": str(tmp_path / "cache")}


def _plan(env):
    from schema_inference_spark.functions.session import _plan_cds
    return _plan_cds(env)


def _release(plan):
    if plan.lock is not None:
        os.close(plan.lock)


def test_cds_key_follows_the_jars_and_the_jdk(tmp_path):
    from schema_inference_spark.functions.session import cds_key
    env = _host(tmp_path)
    home, jar = env["SPARK_HOME"], tmp_path / "spark" / "jars" / "spark-core.jar"

    def key(e=env):
        return cds_key(e, home, "/conf")
    k0 = key()
    assert key() == k0
    jar.write_text("more classes")                       # size
    k1 = key()
    assert k1 != k0
    os.utime(jar, ns=(1, 1))                              # mtime
    assert key() != k1
    k2 = key()
    (tmp_path / "spark" / "jars" / "extra.jar").write_text("x")  # jar set
    assert key() != k2
    k3 = key()
    other = _host(tmp_path / "other")                     # another JDK
    assert key(dict(env, JAVA_HOME=other["JAVA_HOME"])) != k3
    os.utime(tmp_path / "jdk" / "lib" / "server" / "libjvm.so", ns=(2, 2))
    assert key() != k3                                    # JDK updated
    assert cds_key(env, home, "/other-conf") != key()


def test_templates_only_conf_dir_launches_with_an_empty_private_one(tmp_path):
    from schema_inference_spark.functions.session import cds_cache_dir
    for conf in (("log4j2.properties.template",), ()):
        env = _host(tmp_path / str(len(conf)), conf)
        plan = _plan(env)
        _release(plan)
        assert plan.decision == "dumping"
        assert plan.conf_dir == os.path.join(cds_cache_dir(env), "conf")
        assert os.listdir(plan.conf_dir) == []
        assert plan.tmp.endswith(f".jsa.{os.getpid()}.tmp")
        assert plan.opts == (f"-XX:ArchiveClassesAtExit={plan.tmp} "
                             "-Xlog:cds*=off")
    # a missing conf dir is as good as an empty one
    env = _host(tmp_path / "gone")
    env["SPARK_CONF_DIR"] = str(tmp_path / "gone" / "nowhere")
    plan = _plan(env)
    _release(plan)
    assert plan.decision == "dumping"


def test_cds_skips_say_why(tmp_path):
    env = _host(tmp_path / "a", ("spark-defaults.conf.template",
                                 "spark-defaults.conf"))
    plan = _plan(env)
    assert plan.decision.startswith("skipped: conf dir ")
    assert plan.decision.endswith("holds spark-defaults.conf")
    assert (plan.opts, plan.conf_dir, plan.lock) == ("", None, None)

    env = _host(tmp_path / "b")
    plan = _plan(dict(env, PYSPARK_GATEWAY_PORT="46165"))
    assert plan.decision == ("skipped: under spark-submit the JVM is "
                             "already up")
    assert plan.opts == ""

    blocker = tmp_path / "b" / "a-file"        # root may write anywhere,
    blocker.write_text("")                      # but not below a file
    plan = _plan(dict(env, XDG_CACHE_HOME=str(blocker)))
    assert plan.decision.startswith("skipped: cache not writable")
    assert plan.opts == ""


def test_a_held_dump_lock_means_a_plain_start(tmp_path):
    env = _host(tmp_path)
    dumping = _plan(env)               # holds the dump lock (an flock)
    assert dumping.decision == "dumping"
    other = _plan(env)
    assert other.decision == "skipped: another process holds the dump lock"
    assert (other.opts, other.lock) == ("", None)
    _release(dumping)                  # a dead holder frees it the same way
    again = _plan(env)
    assert again.decision == "dumping"
    _release(again)


def test_publish_then_use_and_a_size_mismatch_deletes(tmp_path):
    from schema_inference_spark.functions.session import _publish
    env = _host(tmp_path)
    cache = tmp_path / "cache" / "schema_inference_spark" / "cds"
    plan = _plan(env)
    cache.joinpath("0123456789abcdef-3.jsa").write_bytes(b"old")  # other key
    with open(plan.tmp, "wb") as f:
        f.write(b"x" * 1000)
    _publish(plan, 0)
    final = str(cache / f"{plan.key}-1000.jsa")
    assert sorted(n for n in os.listdir(cache) if ".jsa" in n) == [
        os.path.basename(final)]

    used = _plan(env)                  # the lock is free again
    assert used.decision == "used"
    assert used.opts.startswith(f"-XX:SharedArchiveFile={final} ")
    assert used.conf_dir == str(cache / "conf")

    with open(final, "r+b") as f:      # truncated: never handed to the JVM
        f.truncate(500)
    plan = _plan(env)
    assert plan.decision == ("skipped: archive is 500 bytes, published "
                             "1000; deleted")
    assert plan.opts == ""
    assert not os.path.exists(final)

    plan = _plan(env)                  # a failed dump publishes nothing
    _publish(plan, 1)
    assert not [n for n in os.listdir(cache) if ".jsa" in n]


def test_a_failed_start_from_the_archive_deletes_it_and_starts_plain(
        tmp_path, monkeypatch):
    from pyspark import SparkContext

    from schema_inference_spark.functions import session
    archive = tmp_path / "0123456789abcdef-3.jsa"
    archive.write_bytes(b"abc")
    monkeypatch.setattr(SparkContext, "_gateway", None)  # nothing is up
    monkeypatch.setattr(session, "_plan_cds", lambda env: session._CdsPlan(
        "used", f"-XX:SharedArchiveFile={archive}", archive=str(archive)))
    launched = []

    def launch(builder, java_opts, plan):
        launched.append(plan.decision)
        if plan.decision == "used":
            raise RuntimeError("Java gateway process exited")
        return "session"
    monkeypatch.setattr(session, "_launch", launch)
    assert session.get_spark() == "session"
    assert launched == ["used", "skipped: the JVM failed to start from the "
                                "archive; deleted"]
    assert not archive.exists()


def test_a_launch_records_its_cds_decision(spark):
    from schema_inference_spark.functions import session
    decision = session.cds_decision
    assert decision in ("used", "dumping") or decision.startswith(
        "skipped: "), decision


_SUBMIT = """
import runpy
import sys

from schema_inference_spark.functions import session

sys.argv = sys.argv[1:]
try:
    runpy.run_path(sys.argv[0], run_name="__main__")
finally:
    sys.stderr.write(f"\\ncds_decision={session.cds_decision}\\n")
"""


def _processes_with(marker: str):
    """Live processes whose environment holds ``marker``."""
    alive = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if marker.encode() in f.read().split(b"\0"):
                    alive.append(int(pid))
        except OSError:
            pass
    return alive


def test_submit_dumps_then_starts_from_the_archive(tmp_path):
    """End to end through the deployed job, with a private cache: the
    first run dumps and publishes at exit, the second starts from the
    archive, and a truncated archive gives a plain start with no JVM
    crash. stdout stays the job's own, and no process outlives a run."""
    import glob
    import json
    import subprocess
    import sys

    from schema_inference_spark.sources.transcripts import (
        generate_turns,
        write_snapshot,
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "cat")
    write_snapshot(root, "s1", generate_turns(n_conv=40, seed=11),
                   n_buckets=4)
    driver = tmp_path / "submit.py"
    driver.write_text(_SUBMIT)
    cache = tmp_path / "xdg" / "schema_inference_spark" / "cds"

    def run(n):
        marker = f"CDS_TEST_RUN={os.getpid()}-{n}"
        env = dict(os.environ, SPARK_GRAFT_CPUS="4",
                   SPARK_LOCAL_IP="127.0.0.1", PYTHONPATH=repo,
                   XDG_CACHE_HOME=str(tmp_path / "xdg"),
                   CDS_TEST_RUN=marker.split("=", 1)[1])
        env.pop("SPARK_CONF_DIR", None)
        res = subprocess.run(
            [sys.executable, str(driver),
             os.path.join(repo, "submit_validate.py"), "--root", root,
             "--snapshot", "s1", "--no-resume"],
            capture_output=True, text=True, cwd=tmp_path, env=env,
            timeout=420)
        assert _processes_with(marker) == [], n
        assert res.returncode == 1, res.stderr[-2000:]  # planted anomalies
        summary = json.loads(res.stdout.splitlines()[-1])
        assert summary["partitions_validated"] == 4
        decision = res.stderr.rsplit("cds_decision=", 1)[1].strip()
        return decision, sorted(n for n in os.listdir(cache) if ".jsa" in n)

    decision, archives = run(1)
    assert decision == "dumping"
    (archive,) = archives              # published; no dump file left
    assert archive.endswith(".jsa")
    assert run(2) == ("used", [archive])
    with open(cache / archive, "r+b") as f:
        f.truncate(5 << 20)
    decision, archives = run(3)
    assert decision.startswith("skipped: archive is 5242880 bytes")
    assert archives == []
    assert glob.glob(str(tmp_path / "hs_err_pid*.log")) == []


_PROBE = """
import json

from schema_inference_spark.functions import get_spark

spark = get_spark()
print(json.dumps({k: spark.conf.get(k) for k in (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.shuffle.partitions")}))
spark.stop()
"""


def test_spark_submit_conf_survives_get_spark(tmp_path):
    """A job's spark-submit --conf sizing reaches the session: get_spark()
    sets none of the three local defaults under spark-submit."""
    import json
    import subprocess
    import sys

    from pyspark.find_spark_home import _find_spark_home
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE)
    conf = {"spark.sql.files.maxPartitionBytes": "256m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
            "spark.sql.shuffle.partitions": "7"}
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", PYTHONPATH=repo,
               PYSPARK_PYTHON=sys.executable,
               XDG_CACHE_HOME=str(tmp_path / "xdg"))
    res = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"),
         "--master", "local[1]", "--driver-memory", "512m",
         *[a for k, v in conf.items() for a in ("--conf", f"{k}={v}")],
         str(probe)],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    assert json.loads(res.stdout.splitlines()[-1]) == conf

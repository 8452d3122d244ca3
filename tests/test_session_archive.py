"""The driver JVM's class archive (session.py): key, launch flags, the
conf-dir rule, the completeness check, and one end-to-end run of dump,
promotion and mapping in a subprocess with its own cache."""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys

import pytest

from ningaloo_turtle_etl_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _archive_bytes(regions: list[tuple[int, int]], size: int) -> bytes:
    """A JDK 17 dynamic-archive header with (file offset, used) regions,
    zero-padded to ``size`` bytes."""
    head = struct.pack("=Iii", session._CDS_MAGIC, 0, session._CDS_VERSION)
    head += b"\0" * (session._CDS_REGION_AT - len(head))
    for i in range(session._CDS_REGIONS):
        offset, used = regions[i] if i < len(regions) else (0, 0)
        head += b"\0" * 24 + struct.pack("=3Q", offset, 0, used) + b"\0" * 24
    return head + b"\0" * (size - len(head))


@pytest.fixture
def host(tmp_path):
    """A fake JDK 17, Spark home and cache, and the environment naming them."""
    java_home = tmp_path / "jdk"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_text("")
    (java_home / "lib" / "server").mkdir(parents=True)
    (java_home / "lib" / "server" / "libjvm.so").write_text("jvm")
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_text("core")
    (spark_home / "jars" / "slf4j-api.jar").write_text("slf4j")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    env = {
        "JAVA_HOME": str(java_home),
        "SPARK_HOME": str(spark_home),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
    }
    return env, java_home, spark_home


def test_archive_key_tracks_jdk_spark_and_classpath(host):
    _, java_home, spark_home = host
    def key(conf_dir="c"):
        return session.archive_key(str(java_home), str(spark_home), conf_dir)

    first = key()
    assert first == key()
    assert first.startswith(f"spark-{session.pyspark.__version__}-")
    assert key("other-conf-dir") != first
    jar = spark_home / "jars" / "spark-core.jar"
    jar.write_text("core, rebuilt")
    assert key() != first
    second = key()
    os.utime(jar, ns=(1, 1))
    assert key() != second
    third = key()
    (spark_home / "jars" / "extra.jar").write_text("x")
    assert key() != third
    fourth = key()
    (java_home / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert key() != fourth


def test_archive_plan_miss_then_hit(host):
    env, _, _ = host
    miss = session.archive_plan({}, env)
    temp, final = miss.dump
    assert temp == f"{final}.{os.getpid()}.tmp"
    quiet = session._CDS_QUIET
    assert miss.java_options == f"-XX:ArchiveClassesAtExit={temp} {quiet}"
    assert miss.conf_dir == os.path.join(session.archive_dir(env), "conf")
    assert os.path.isdir(miss.conf_dir) and not os.listdir(miss.conf_dir)
    assert os.path.dirname(final) == session.archive_dir(env)

    with open(final, "wb") as f:
        f.write(_archive_bytes([(4096, 100), (8192, 50)], 8242))
    hit = session.archive_plan({}, env)
    assert hit.dump is None
    assert hit.java_options == f"-XX:SharedArchiveFile={final} {quiet}"

    # A truncated archive is never mapped: this launch goes without one
    # and deletes it, so the next launch dumps anew.
    with open(final, "wb") as f:
        f.write(_archive_bytes([(4096, 100), (8192, 50)], 8200))
    assert session.archive_plan({}, env) is None and not os.path.exists(final)
    assert session.archive_plan({}, env).dump == (temp, final)


@pytest.mark.parametrize(
    "case",
    [
        "hadoop_conf_dir",
        "extra_class_path",
        "caller_archive_flag",
        "conf_dir_with_files",
        "jdk_11",
        "no_java",
        "unwritable_cache",
        "dirty_empty_conf_dir",
    ],
)
def test_archive_plan_fallbacks(host, tmp_path, case):
    env, java_home, spark_home = host
    conf = {}
    if case == "hadoop_conf_dir":
        env["HADOOP_CONF_DIR"] = str(tmp_path)
    elif case == "extra_class_path":
        conf["spark.driver.extraClassPath"] = "/opt/lib/x.jar"
    elif case == "caller_archive_flag":
        conf["spark.driver.extraJavaOptions"] = "-XX:SharedArchiveFile=/a.jsa"
    elif case == "conf_dir_with_files":
        (spark_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    elif case == "jdk_11":
        (java_home / "release").write_text('JAVA_VERSION="11.0.2"\n')
    elif case == "no_java":
        env["JAVA_HOME"] = str(tmp_path / "missing")
    elif case == "unwritable_cache":
        (tmp_path / "file").write_text("")
        env["XDG_CACHE_HOME"] = str(tmp_path / "file")
    elif case == "dirty_empty_conf_dir":
        conf_dir = os.path.join(session.archive_dir(env), "conf")
        os.makedirs(conf_dir)
        open(os.path.join(conf_dir, "log4j2.properties"), "w").close()
    assert session.archive_plan(conf, env) is None


def test_archive_plan_appends_to_callers_java_options(host):
    env, _, _ = host
    ours = session.archive_plan({}, env).java_options
    for caller in ("  ", "-Da=1 -Xss4m"):
        conf = {"spark.driver.extraJavaOptions": caller}
        want = f"{caller.strip()} {ours}".strip()
        assert session.archive_plan(conf, env).java_options == want


def test_conf_dir_rule(tmp_path):
    assert session.conf_dir_is_templates(str(tmp_path / "missing"))
    assert session.conf_dir_is_templates(str(tmp_path))
    (tmp_path / "spark-env.sh.template").write_text("")
    assert session.conf_dir_is_templates(str(tmp_path))
    (tmp_path / "spark-env.sh").write_text("")
    assert not session.conf_dir_is_templates(str(tmp_path))


def test_archive_complete(tmp_path):
    path = str(tmp_path / "a.jsa")
    assert not session.archive_complete(path)  # missing
    cases = [
        (_archive_bytes([(4096, 100), (8192, 50)], 8242), True),
        (_archive_bytes([(4096, 100), (8192, 50)], 12288), True),
        (_archive_bytes([(4096, 100), (8192, 50)], 8241), False),
        (_archive_bytes([], 4096), False),
        (_archive_bytes([(4096, 100)], 8192)[:100], False),
        (b"\0" * 8192, False),
    ]
    for data, complete in cases:
        with open(path, "wb") as f:
            f.write(data)
        assert session.archive_complete(path) is complete


_SESSIONS = r"""
import glob, json, os
from ningaloo_turtle_etl_spark import session

cds = session.archive_dir(os.environ)
log = os.path.join(os.environ["XDG_CACHE_HOME"], "class-load.log")


def run():
    # The caller's own JVM options are kept: this one logs where each
    # class came from, "shared objects file (top)" being the archive.
    spark = session.get_spark("archive-test", master="local[1]", extra_conf={
        "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}",
    })
    assert spark.range(10).count() == 10
    session.stop_spark()
    with open(log) as f:
        return f.read().count("source: shared objects file (top)")


def archives():
    return sorted(os.path.basename(p) for p in glob.glob(os.path.join(cds, "*")))


os.makedirs(cds)
with open(os.path.join(cds, "spark-0-0.jsa.999999999.tmp"), "wb") as f:
    f.write(b"\xa8\xba\x0b\xf0" + b"\0" * 60)  # a header cut short
out = {"cold": run(), "after_cold": archives()}
final = glob.glob(os.path.join(cds, "*.jsa"))[0]
out["complete"] = session.archive_complete(final)
out["warm"] = run()
with open(final, "r+b") as f:
    f.truncate(os.path.getsize(final) // 2)
out["truncated"] = run()
out["after_truncated"] = archives()
print(json.dumps(out))
"""


def test_archive_dump_promote_and_map(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env["XDG_CACHE_HOME"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", _SESSIONS],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert not [line for line in lines if "[cds" in line]
    out = json.loads(lines[-1])
    final = [name for name in out["after_cold"] if name.endswith(".jsa")]
    # The cold session worked beside a planted truncated temp file and
    # dumped; its archive was promoted and the stale temp file deleted,
    # leaving the archive and the empty conf dir.
    assert out["cold"] == 0 and len(final) == 1 and out["complete"]
    assert out["after_cold"] == sorted(final + ["conf"])
    # The next session mapped it: Spark's classes came from the archive.
    assert out["warm"] > 1000
    # A truncated archive: the session still works without it, and the
    # archive is deleted, to be dumped again by the next session.
    assert out["truncated"] == 0 and out["after_truncated"] == ["conf"]

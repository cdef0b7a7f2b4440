"""How the session factory launches the driver JVM (`session.py`): one
CPU count, the AppCDS archive it maps or dumps, the empty conf dir it
swaps in for the launch only, and a codegen cache that holds the
benchmark's working set.

Each launch test runs `get_spark` in a fresh Python with its own
`XDG_CACHE_HOME`, then ends the JVM and waits for it, exit dump
included, so that no process outlives the test."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from bigdatanycdiseasesurveillance_spark import session
from bigdatanycdiseasesurveillance_spark.registry import all_specs

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# PySpark's SparkContext sets these in os.environ itself, with or
# without the factory
PYSPARK_ENV = {"SPARK_BUFFER_SIZE", "SPARK_AUTH_SOCKET_TIMEOUT"}
# the ops of perfbench's registry_reads workload
REGISTRY_READS = (
    "stream_surveillance_e2e",
    "stream_dedup_within_watermark",
    "cluster_geo_pipeline_cellgrid",
    "dedup_duplicate_groups",
)

LAUNCH = """
import json, os
from pyspark import SparkContext
from bigdatanycdiseasesurveillance_spark import session
before = dict(os.environ)
out = {{}}
try:
    spark = session.get_spark("bdnds-launch")
except Exception as e:
    out["error"] = repr(e)
else:
    conf = spark.sparkContext.getConf()
    out.update(
        master=spark.sparkContext.master,
        parallelism=conf.get("spark.default.parallelism"),
        shuffle=spark.conf.get("spark.sql.shuffle.partitions"),
        java_options=conf.get("spark.driver.extraJavaOptions", ""),
        rows=spark.range(7).selectExpr("id % 3 AS k").distinct().count(),
    )
    {body}
out["changed_env"] = sorted(
    k for k in set(before) | set(os.environ) if before.get(k) != os.environ.get(k)
)
if SparkContext._gateway is not None:
    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait()
print("OUT", json.dumps(out))
"""


def _launch(cache: str, body: str = "", **env: str) -> dict:
    """Run LAUNCH in a fresh Python with ``cache`` as XDG_CACHE_HOME,
    SPARK_GRAFT_CPUS unset and ``env`` added; its OUT record."""
    child = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    child.update(PYTHONPATH=REPO_DIR, SPARK_GRAFT_DRIVER_MEM="512m", XDG_CACHE_HOME=cache)
    child.update(env)
    done = subprocess.run(
        [sys.executable, "-c", LAUNCH.format(body=body)], cwd=cache, env=child,
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    out = [line for line in done.stdout.splitlines() if line.startswith("OUT ")]
    assert out, done.stdout[-3000:] + done.stderr[-3000:]
    return json.loads(out[0][4:])


def _archives(cache: str) -> list[str]:
    return glob.glob(os.path.join(cache, "bdnds", "driver-*.jsa"))


@pytest.fixture(scope="module")
def first_launch(tmp_path_factory):
    """A launch in an empty cache: it builds the jar and, at its exit,
    dumps the archive. A test that launches in this cache leaves a
    complete archive there."""
    cache = str(tmp_path_factory.mktemp("cache"))
    return cache, _launch(cache)


def test_cpu_count_default_is_one_value(first_launch):
    _, out = first_launch
    cpus = len(os.sched_getaffinity(0))
    assert out["master"] == f"local[{cpus}]", out
    assert out["parallelism"] == out["shuffle"] == str(cpus), out


def test_first_launch_dumps_a_complete_archive(first_launch):
    cache, out = first_launch
    (archive,) = _archives(cache)
    assert f"-XX:ArchiveClassesAtExit={archive}" in out["java_options"], out
    with open(archive, "rb") as fh:
        assert fh.read(4) == session.CDS_DYNAMIC_MAGIC
    assert session._archive_complete(archive)
    jars = glob.glob(os.path.join(cache, "bdnds", "*.jar"))
    assert len(jars) == 1, jars


def test_get_spark_leaves_os_environ_unchanged(first_launch, tmp_path):
    _, out = first_launch
    assert set(out["changed_env"]) <= PYSPARK_ENV, out
    failed = _launch(str(tmp_path), SPARK_GRAFT_DRIVER_MEM="not-a-size")
    assert "error" in failed and failed["changed_env"] == [], failed


def test_second_launch_maps_the_archive(first_launch, tmp_path):
    cache = first_launch[0]
    (archive,) = _archives(cache)
    log = str(tmp_path / "cds.log")
    out = _launch(cache, JAVA_TOOL_OPTIONS=f"-Xlog:cds=info:file={log}")
    assert f"-XX:SharedArchiveFile={archive}" in out["java_options"], out
    with open(log) as fh:
        text = fh.read()
    assert f"Opened archive {archive}" in text and "Mapped dynamic region" in text, text[-3000:]
    assert _archives(cache) == [archive]


@pytest.mark.parametrize("damage", ["zeroed", "truncated"])
def test_damaged_archive_leaves_get_spark_working_and_is_dumped_again(first_launch, damage):
    cache = first_launch[0]
    (archive,) = _archives(cache)
    os.chmod(archive, 0o644)
    if damage == "zeroed":
        with open(archive, "r+b") as fh:
            fh.write(bytes(4096))
    else:  # the header stays whole: JDK 17 would map the regions and die of SIGBUS
        os.truncate(archive, os.path.getsize(archive) // 2)
    assert not session._archive_complete(archive)
    out = _launch(cache)
    assert out["rows"] == 3, out
    assert f"-XX:ArchiveClassesAtExit={archive}" in out["java_options"], out
    assert _archives(cache) == [archive] and session._archive_complete(archive)


def test_archive_the_jvm_refuses_is_dropped(first_launch, tmp_path):
    """An archive records the jar's and the conf dir's paths, so in a
    moved cache the JVM refuses it; the next launch then dumps anew."""
    cache = str(tmp_path / "moved")
    shutil.copytree(first_launch[0], cache, symlinks=True)
    (archive,) = _archives(cache)
    assert session._archive_complete(archive)
    out = _launch(cache)
    assert out["rows"] == 3 and f"-XX:SharedArchiveFile={archive}" in out["java_options"], out
    assert _archives(cache) == []


def test_caller_conf_dir_with_spark_defaults_is_used_without_an_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.bdnds.probe  from-conf-dir\n")
    cache = str(tmp_path / "cache")
    os.mkdir(cache)
    out = _launch(
        cache, 'out["probe"] = spark.conf.get("spark.bdnds.probe", None)',
        SPARK_CONF_DIR=str(conf),
    )
    assert out["probe"] == "from-conf-dir", out
    assert "Archive" not in out["java_options"], out
    assert _archives(cache) == []


def test_hadoop_conf_dir_with_files_still_starts(tmp_path):
    hadoop = tmp_path / "hadoop"
    hadoop.mkdir()
    (hadoop / "core-site.xml").write_text("<configuration></configuration>\n")
    cache = str(tmp_path / "cache")
    os.mkdir(cache)
    out = _launch(cache, HADOOP_CONF_DIR=str(hadoop))
    assert out["rows"] == 3 and "Archive" not in out["java_options"], out
    assert _archives(cache) == []


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_the_registry_reads_working_set(spark, sf_dir):
    """With Spark's 100 entries the four ops' ~104 generated classes
    evict each other in a cycle, so every pass recompiles most of them."""
    specs = all_specs()

    def one_pass():
        for name in REGISTRY_READS:
            specs[name].fn(spark, sf_dir).collect()

    one_pass()
    one_pass()
    before = _compiles(spark)
    one_pass()
    recompiled = _compiles(spark) - before
    assert recompiled == 0, f"a third pass compiled {recompiled} classes again"

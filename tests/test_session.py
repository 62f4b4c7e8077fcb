"""The engine's Python worker daemon: workers import PySpark from the
unzipped SPARK_HOME/python tree where that is safe, and Spark's own
daemon everywhere else."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home

from seizury_hrv_featuresextraction_spark._daemon import worker_path
from seizury_hrv_featuresextraction_spark.session import worker_daemon

REPO = str(Path(__file__).resolve().parents[1])
SHIM = "seizury_hrv_featuresextraction_spark._daemon"
TREE = os.path.join(_find_spark_home(), "python")
needs_tree = pytest.mark.skipif(
    not os.path.isdir(os.path.join(TREE, "pyspark")), reason="this SPARK_HOME has no unzipped PySpark tree"
)


@needs_tree
def test_workers_import_pyspark_from_unzipped_tree(spark):
    def worker_facts(it):
        import sys

        import pyspark

        yield pyspark.__file__, list(sys.path), list(sys.path_importer_cache)

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == SHIM
    facts = spark.sparkContext.parallelize(range(4), 4).mapPartitions(worker_facts).collect()
    assert len(facts) == 4
    for file, path, cached in facts:
        assert os.path.realpath(file) == os.path.realpath(os.path.join(TREE, "pyspark", "__init__.py"))
        assert not [p for p in path if p.endswith(("pyspark.zip", ".jar"))], path
        # no importer of either archive is left for invalidate_caches to re-read
        assert not [k for k in cached if "pyspark.zip" in k or ".jar" in k], cached


def _spark_home(root: Path, version: str) -> str:
    (root / "python" / "pyspark").mkdir(parents=True)
    (root / "python" / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(root)


def test_worker_daemon_decision(tmp_path):
    """Pure: no SparkContext, since session options persist in the JVM."""
    home = _spark_home(tmp_path / "spark", pyspark.__version__)
    on_path = ["", str(tmp_path), REPO]
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert worker_daemon(master, home, on_path) == SHIM, master
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]", "k8s://host"):
        assert worker_daemon(master, home, on_path) == "pyspark.daemon", master
    # no unzipped tree, or no SPARK_HOME at all
    assert worker_daemon("local[4]", str(tmp_path / "absent"), on_path) == "pyspark.daemon"
    assert worker_daemon("local[4]", None, on_path) == "pyspark.daemon"
    # a tree of another version
    other = _spark_home(tmp_path / "other", pyspark.__version__ + ".dev0")
    assert worker_daemon("local[4]", other, on_path) == "pyspark.daemon"
    # the package is not on the daemon's starting path (--py-files only)
    assert worker_daemon("local[4]", home, ["", str(tmp_path)]) == "pyspark.daemon"


def test_daemon_path_rewrite(tmp_path):
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    zip_, py4j, jar = str(lib / "pyspark.zip"), str(lib / "py4j-src.zip"), "/jars/spark-core.jar"
    path = ["/work", zip_, py4j, jar, "/site-packages"]
    # no tree beside the archive: untouched
    assert worker_path(path) == (path, [])
    (tmp_path / "python" / "pyspark").mkdir()
    (tmp_path / "python" / "pyspark" / "__init__.py").write_text("")
    new, dropped = worker_path(path)
    assert new == ["/work", str(tmp_path / "python"), py4j, "/site-packages"]
    assert dropped == [zip_, jar]


def test_daemon_module_imports_no_pyspark():
    """The daemon module runs before anything may import from an archive,
    so neither it nor the package ``__init__`` imports PySpark."""
    code = (
        "import sys, seizury_hrv_featuresextraction_spark._daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


_SESSION_PROBE = """
import json, os, time
from seizury_hrv_featuresextraction_spark.session import get_spark

spark = get_spark(master="local[1]")
spark.sparkContext.setLogLevel("ERROR")
daemon = spark.sparkContext.getConf().get("spark.python.daemon.module")
file, pids = spark.sparkContext.parallelize([0], 1).map(
    lambda _: (__import__("pyspark").__file__, (os.getpid(), os.getppid()))
).collect()[0]
spark.stop()

def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False

deadline = time.time() + 30
while any(map(alive, pids)) and time.time() < deadline:
    time.sleep(0.2)
print(json.dumps([daemon, file, [alive(p) for p in pids]]))
"""


@needs_tree
@pytest.mark.parametrize("on_path", [True, False], ids=["shim", "fallback"])
def test_fresh_session_daemon_and_stop(tmp_path, on_path):
    """A fresh process from a cwd without the package: with the package's
    directory on PYTHONPATH it gets the engine daemon, without it Spark's
    own, whose workers import PySpark from pyspark.zip. Either way no
    Python worker outlives ``spark.stop()``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    code = _SESSION_PROBE
    if on_path:
        env["PYTHONPATH"] = REPO
    else:
        code = f"import sys; sys.path.insert(0, {REPO!r})\n" + code
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    daemon, file, alive = json.loads(out.stdout.strip().splitlines()[-1])
    if on_path:
        assert daemon == SHIM
        assert ".zip" not in file
    else:
        assert daemon == "pyspark.daemon"
        assert "pyspark.zip" in file
    assert alive == [False, False]

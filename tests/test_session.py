"""Session factory: the master it runs with, the Python worker daemon and
the driver's young generation.

``session.daemon_conf`` sets ``ocr_spark._daemon`` (which keeps zip-importer
directories across tasks) only where the daemon can import it. The
spark-submit tests launch their own JVM, from a working directory outside
the repository, with a ``PYTHONPATH`` that does not hold it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from tests.conftest import GOLDEN_PATH, REPO

PKG = REPO / "ocr_spark"
DAEMON_FILE = str(PKG / "_daemon.py")


# ---- the gate decision, Spark-free -----------------------------------------

@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]", "local[4,3]"])
def test_daemon_conf_directory_import_local_master(master):
    from ocr_spark.session import DAEMON_MODULE, daemon_conf

    conf = daemon_conf(master, str(PKG), "/opt/extra")
    assert conf == {
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            ["/opt/extra", str(REPO)]
        ),
    }
    # no PYTHONPATH set yet, or the directory already on it
    assert daemon_conf(master, str(PKG), None)[
        "spark.executorEnv.PYTHONPATH"] == str(REPO)
    assert daemon_conf(master, str(PKG), str(REPO))[
        "spark.executorEnv.PYTHONPATH"] == str(REPO)


def test_daemon_conf_zip_import_keeps_default_daemon(tmp_path):
    """``ocr_spark`` imported from ``--py-files engine.zip``: the package
    directory is a path inside the zip, which the daemon cannot import
    from before the zip reaches the path."""
    from ocr_spark.session import daemon_conf

    engine = tmp_path / "engine.zip"
    with zipfile.ZipFile(engine, "w") as z:
        z.write(DAEMON_FILE, "ocr_spark/_daemon.py")
    assert daemon_conf("local[2]", str(engine / "ocr_spark"), None) == {}
    assert daemon_conf("local[2]", str(engine / "ocr_spark"), "/opt/x") == {}


@pytest.mark.parametrize(
    "master",
    ["yarn", "spark://host:7077", "k8s://https://host:6443",
     "local-cluster[2,1,1024]"],
)
def test_daemon_conf_non_local_master_keeps_default_daemon(master):
    from ocr_spark.session import daemon_conf

    assert daemon_conf(master, str(PKG), None) == {}
    assert daemon_conf(master, str(PKG), "/opt/extra") == {}


# ---- the conf is live in the tests' session ---------------------------------

def test_session_workers_run_patched_invalidate(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "ocr_spark._daemon"
    assert str(REPO) in conf.get("spark.executorEnv.PYTHONPATH").split(
        os.pathsep)

    def report(batches):  # nested, so it is pickled by value
        import zipimport

        import pyarrow as pa

        fn = zipimport.zipimporter.invalidate_caches
        code = getattr(fn, "__code__", None)
        src = code.co_filename if code else "builtin"
        for b in batches:
            yield pa.RecordBatch.from_pydict({"src": [src] * b.num_rows})

    df = spark.range(8, numPartitions=4).mapInArrow(report, "src string")
    assert {r.src for r in df.collect()} == {DAEMON_FILE}


def test_session_driver_runs_with_fixed_young_generation(spark):
    """The builder launched the tests' JVM, so ``YOUNG_GEN`` is among its
    arguments."""
    from ocr_spark.session import YOUNG_GEN

    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert YOUNG_GEN in list(bean.getRuntimeMXBean().getInputArguments())


# ---- spark-submit -------------------------------------------------------------

_MASTER_JOB = """
import json, sys
sys.path.insert(0, {repo!r})
from ocr_spark.session import build_session

def report(batches):
    import zipimport
    import pyarrow as pa
    code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
    src = code.co_filename if code else "builtin"
    for b in batches:
        yield pa.RecordBatch.from_pydict({{"src": [src] * b.num_rows}})

spark = build_session(app_name="master-kept")
sc = spark.sparkContext
df = spark.range(4, numPartitions=2).mapInArrow(report, "src string")
out = {{
    "master": sc.master,
    "daemon": sc.getConf().get("spark.python.daemon.module", None),
    "workers": sorted({{r.src for r in df.collect()}}),
}}
spark.stop()
with open(sys.argv[1], "w") as f:
    json.dump(out, f)
"""

_PYFILES_JOB = """
import json, sys
import ocr_spark
from ocr_spark.gen import fixture_pages_df
from ocr_spark.operators.extract import extract_pages
from ocr_spark.session import build_session

spark = build_session(app_name="pyfiles-fallback")
sc = spark.sparkContext
rows = extract_pages(fixture_pages_df(spark)).collect()
out = {
    "package": ocr_spark.__file__,
    "master": sc.master,
    "daemon": sc.getConf().get("spark.python.daemon.module", None),
    "rows": [[r.url, r.warc_ts.isoformat(), r.extracted_text, r.text_sha256]
             for r in rows],
}
spark.stop()
with open(sys.argv[1], "w") as f:
    json.dump(out, f)
"""


def _spark_submit(tmp_path, job: str, *submit_args: str) -> dict:
    """Run ``job`` through ``spark-submit --master local[2]`` from
    ``tmp_path``, with the repository off ``PYTHONPATH``; return the JSON
    the job wrote."""
    if shutil.which("spark-submit") is None:
        pytest.skip("spark-submit is not on PATH")
    script = tmp_path / "job.py"
    script.write_text(job)
    result = tmp_path / "result.json"
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER",
                     "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--driver-memory", "1g",
         "--conf", "spark.ui.enabled=false", *submit_args,
         str(script), str(result)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(result.read_text())


def test_spark_submit_master_is_kept(tmp_path):
    """``build_session()`` under ``spark-submit --master local[2]`` runs at
    ``local[2]``, and with ``ocr_spark`` imported from the repository's
    directory its workers run the patched daemon."""
    out = _spark_submit(tmp_path, _MASTER_JOB.format(repo=str(REPO)))
    assert out["master"] == "local[2]"
    assert out["daemon"] == "ocr_spark._daemon"
    assert out["workers"] == [DAEMON_FILE]


def test_spark_submit_py_files_falls_back_to_default_daemon(tmp_path):
    """The ``--py-files engine.zip`` launch: ``ocr_spark`` comes from the
    zip, so PySpark's default daemon runs and the extraction matches the
    goldens."""
    engine = tmp_path / "engine.zip"
    with zipfile.ZipFile(engine, "w") as z:
        for f in sorted(PKG.rglob("*.py")):
            z.write(f, str(f.relative_to(REPO)))
    out = _spark_submit(tmp_path, _PYFILES_JOB, "--py-files", str(engine))
    assert out["package"].startswith(str(engine))
    assert out["master"] == "local[2]"
    assert out["daemon"] is None
    golden = {
        (g["url"], g["warc_ts"]): (g["extracted_text"], g["text_sha256"])
        for g in json.loads(GOLDEN_PATH.read_text())
    }
    got = {(u, ts): (text, sha) for u, ts, text, sha in out["rows"]}
    assert got == golden

"""The local sessions' Python worker daemon (``address_parser_spark._daemon``):
a zip archive is re-read only when it changed, modules shipped after the
session's first Python job still import, and confs given to ``spark-submit``
are kept."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

from address_parser_spark import _daemon

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture
def reads(monkeypatch):
    """The importers ``_daemon.invalidate_caches`` made re-read their archive."""
    seen, reread = [], _daemon._reread
    monkeypatch.setattr(_daemon, "_reread", lambda imp: seen.append(imp) or reread(imp))
    return seen


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)


def test_archive_is_reread_only_when_its_size_or_mtime_changes(tmp_path, reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"first.py": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))

    _daemon.invalidate_caches(importer)  # no stamp yet: the first call reads
    _daemon.invalidate_caches(importer)
    _daemon.invalidate_caches(importer)
    assert len(reads) == 1

    _write_zip(archive, {"first.py": "X = 1\n", "second.py": "Y = 2\n"})  # new size
    assert importer.find_spec("second") is None
    _daemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("second") is not None

    st = archive.stat()
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # same size, new mtime
    _daemon.invalidate_caches(importer)
    _daemon.invalidate_caches(importer)
    assert len(reads) == 3


def test_stamp_is_kept_per_importer(tmp_path, reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"first.py": "X = 1\n"})
    a, b = zipimport.zipimporter(str(archive)), zipimport.zipimporter(str(archive))
    _daemon.invalidate_caches(a)
    _daemon.invalidate_caches(b)  # b has not read since a did: it still reads once
    assert reads == [a, b]


def test_local_session_runs_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "address_parser_spark._daemon"

    def main_module(_):
        import sys

        yield sys.modules["__main__"].__spec__.name

    assert set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(main_module).collect()) == {
        "address_parser_spark._daemon"}


def test_udf_sees_modules_added_after_the_first_python_job(spark, tmp_path):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    assert sc.parallelize(range(4), 4).map(lambda x: x + 1).sum() == 10  # a Python job first
    tag = uuid.uuid4().hex[:8]
    plain, zipped = f"late_py_{tag}", f"late_zip_{tag}"
    (tmp_path / f"{plain}.py").write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / f"{zipped}.zip", {f"{zipped}.py": "VALUE = 'zip'\n"})
    sc.addPyFile(str(tmp_path / f"{plain}.py"))
    sc.addPyFile(str(tmp_path / f"{zipped}.zip"))

    @F.pandas_udf("string")
    def late(x):
        import importlib

        values = importlib.import_module(plain).VALUE + importlib.import_module(zipped).VALUE
        return x.map(lambda _: values)

    got = spark.range(8, numPartitions=4).select(late("id").alias("v")).distinct().collect()
    assert [r["v"] for r in got] == ["pyzip"]


_SUBMITTED = """
import json

from address_parser_spark.session import get_spark


def probe(_):
    import importlib
    import sys

    try:
        extra = importlib.import_module("submitted_extra").VALUE
    except ImportError:
        extra = None
    yield sys.modules["__main__"].__spec__.name, extra


spark = get_spark("daemon-submit", master="local[2]",
                  extra_confs={"spark.sql.shuffle.partitions": "4"})
conf = spark.sparkContext.getConf()
workers = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
print(json.dumps({
    "daemon": conf.get("spark.python.daemon.module"),
    "path": conf.get("spark.executorEnv.PYTHONPATH"),
    "workers": sorted(set(map(tuple, workers))),
}))
spark.stop()
"""


_SUBMITTED_DEFAULTS = """
import json

from address_parser_spark.session import get_spark

spark = get_spark("defaults-submit")
print(json.dumps({
    "master": spark.sparkContext.master,
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
    "tz": spark.conf.get("spark.sql.session.timeZone"),
    "rules": spark.conf.get("spark.sql.optimizer.excludedRules").split(","),
}))
spark.stop()
"""


def _submit(tmp_path, *confs: str, script: str = _SUBMITTED) -> tuple[dict, Path]:
    """``script`` (by default ``get_spark`` and a worker probe) under
    ``spark-submit --master local[2] --py-files <engine zip>`` with ``confs``
    given as ``--conf``; returns the JSON of its last stdout line, and the
    zip's path."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = str(Path(pyspark.__file__).parent / "bin" / "spark-submit")
    engine = tmp_path / "address_parser_spark.zip"
    with zipfile.ZipFile(engine, "w") as zf:
        for py in (REPO / "address_parser_spark").rglob("*.py"):
            zf.write(py, py.relative_to(REPO))
    submitted = tmp_path / "submitted.py"
    submitted.write_text(script)
    args = [spark_submit, "--master", "local[2]", "--py-files", str(engine)]
    for conf in confs:
        args += ["--conf", conf]
    proc = subprocess.run(args + [str(submitted)], capture_output=True, text=True,
                          timeout=600, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), engine


@pytest.mark.slow
def test_spark_submit_keeps_a_submitted_pythonpath(tmp_path):
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "submitted_extra.py").write_text("VALUE = 'extra'\n")
    seen, engine = _submit(tmp_path, f"spark.executorEnv.PYTHONPATH={extra}")
    assert seen["daemon"] == "address_parser_spark._daemon"
    assert seen["path"].split(os.pathsep) == [str(extra), str(engine)]
    assert seen["workers"] == [["address_parser_spark._daemon", "extra"]]


@pytest.mark.slow
def test_spark_submit_keeps_a_submitted_daemon_module(tmp_path):
    seen, _ = _submit(tmp_path, "spark.python.daemon.module=pyspark.daemon")
    assert seen["daemon"] == "pyspark.daemon"
    assert seen["path"] is None
    assert seen["workers"] == [["pyspark.daemon", None]]


@pytest.mark.slow
def test_spark_submit_confs_beat_the_engine_defaults(tmp_path):
    rules = "org.apache.spark.sql.catalyst.optimizer."
    seen, _ = _submit(tmp_path, "spark.sql.shuffle.partitions=7",
                      "spark.sql.session.timeZone=Asia/Ho_Chi_Minh",
                      f"spark.sql.optimizer.excludedRules={rules}ConstantFolding",
                      script=_SUBMITTED_DEFAULTS)
    assert seen["master"] == "local[2]"
    assert seen["shuffle"] == "7"
    assert seen["tz"] == "Asia/Ho_Chi_Minh"
    assert set(seen["rules"]) == {rules + "ConstantFolding", rules + "InferFiltersFromGenerate"}

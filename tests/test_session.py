"""Session set-up: configure_session surfaces conf failures, and the
sessions get_spark builds run their Python workers without re-reading
Spark's archives before every task."""

from __future__ import annotations

import json
import logging
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa

from aidc_2018_timeseries_spark.daemon import worker_path
from aidc_2018_timeseries_spark.session import _RUNTIME_CONFS, configure_session

ROOT = Path(__file__).resolve().parent.parent


class _RejectingConf:
    def set(self, key: str, value: str) -> None:
        raise RuntimeError(f"cannot modify static conf {key}")


class _StubSession:
    conf = _RejectingConf()


def test_configure_session_warns_once_per_failed_key(caplog):
    stub = _StubSession()
    with caplog.at_level(logging.WARNING, logger="aidc_2018_timeseries_spark.session"):
        assert configure_session(stub) is stub
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == len(_RUNTIME_CONFS)
    for record, key in zip(warnings, _RUNTIME_CONFS):
        msg = record.getMessage()
        assert key in msg
        assert "cannot modify static conf" in msg


def test_get_spark_workers_import_pyspark_from_files(spark):
    """A task's worker has no jar on its path, imported pyspark from plain
    files, holds no importer of pyspark.zip, and its per-task cache
    invalidation is cheap."""

    def worker_state(batches):
        import importlib
        import time
        import zipimport

        import pyspark

        for _ in batches:
            pass
        t0 = time.process_time()
        importlib.invalidate_caches()
        state = {
            "path": sys.path,
            "pyspark": pyspark.__file__,
            "zipimporters": [
                k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
            ],
            "invalidate_cpu_s": time.process_time() - t0,
        }
        yield pa.RecordBatch.from_pylist([{"state": json.dumps(state)}])

    row = spark.range(1, numPartitions=1).mapInArrow(worker_state, "state string").first()
    state = json.loads(row.state)
    assert not [p for p in state["path"] if p.endswith(".jar")], state["path"]
    assert ".zip" not in state["pyspark"], state["pyspark"]
    assert not [k for k in state["zipimporters"] if "pyspark.zip" in k], state["zipimporters"]
    assert state["invalidate_cpu_s"] <= 0.02, state


def _tree(root: Path, version: str) -> Path:
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    return root


def _archive(path: Path, version: str) -> Path:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return path


def test_worker_path_drops_jars_and_keeps_zip_first_on_version_mismatch(tmp_path):
    spark_zip = str(_archive(tmp_path / "pyspark.zip", "4.1.2"))
    jar = str(tmp_path / "spark-core.jar")
    stdlib = str(tmp_path / "lib")
    site = str(_tree(tmp_path / "site-packages", "4.0.0"))
    assert worker_path([spark_zip, jar, stdlib, site]) == [spark_zip, stdlib, site]


def test_worker_path_drops_zip_behind_same_version_site_packages(tmp_path):
    spark_zip = str(_archive(tmp_path / "pyspark.zip", "4.1.2"))
    jar = str(tmp_path / "spark-core.jar")
    site = str(_tree(tmp_path / "site-packages", "4.1.2"))
    assert worker_path([spark_zip, jar, site]) == [site]
    # pyspark already comes from plain files: the path keeps its order
    assert worker_path([site, spark_zip, jar]) == [site, spark_zip]


def test_package_import_does_not_import_pyspark():
    """``python -m aidc_2018_timeseries_spark.daemon`` imports the package
    before the daemon can fix the path, so the package root must not
    import pyspark."""
    out = subprocess.run(
        [sys.executable, "-c", "import sys, aidc_2018_timeseries_spark; print('pyspark' in sys.modules)"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"

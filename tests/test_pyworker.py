"""Python workers: they fork from ``grapefruit_spark.pyworker``, which skips
re-reading unchanged zip archives, and they import the package from any
driver working directory, over Unix sockets with a short path."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd

from grapefruit_spark import pyworker
from grapefruit_spark.operators.mapreduce_apps import ORACLE

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tasks_run_under_the_daemon_and_skip_unchanged_archives(spark):
    def probe(batches):
        for _ in batches:
            pass
        import importlib
        import zipimport

        reads = []
        stock = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        yield pd.DataFrame({
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "zips": [sum(isinstance(f, zipimport.zipimporter)
                         for f in sys.path_importer_cache.values())],
            "reads": [len(reads)],
        })

    row = spark.range(1).mapInPandas(probe, "module string, zips int, reads int").first()
    assert row["module"] == "grapefruit_spark.pyworker"
    assert row["zips"] > 0  # the archives are there, and not re-read
    assert row["reads"] == 0


def _write_module(archive: str, value: int) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{os.path.basename(archive)[:-4]}.py", f"VALUE = {value}\n")


def test_a_changed_archive_is_read_again(tmp_path, monkeypatch):
    name = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_module(archive, 1)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.setattr(pyworker, "_read_at", {})
    monkeypatch.syspath_prepend(archive)
    reads = []
    stock = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        assert importlib.import_module(name).VALUE == 1
        importlib.invalidate_caches()  # records the archive's signature
        n = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == n  # unchanged: not read again

        _write_module(archive, 1234)
        importlib.invalidate_caches()
        del sys.modules[name]
        assert importlib.import_module(name).VALUE == 1234
        assert reads.count(archive) == n + 1
    finally:
        sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_tasks_run_from_any_directory(tmp_path, duck):
    """A driver outside the checkout, with temp dirs too deep for a socket
    path: workers still import the package (``cli_wc_maple`` is pickled by
    reference) and the daemon's Unix socket still binds."""
    deep = tmp_path / ("t" * 40) / ("u" * 40)
    deep.mkdir(parents=True)
    assert len(str(deep)) > 80
    env = dict(
        os.environ,
        TMPDIR=str(deep),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_SUBMIT_OPTS=f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={deep}",
    )
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from grapefruit_spark.session import get_spark\n"
        "from grapefruit_spark.operators.mapreduce_apps import mj_wordcount\n"
        "spark = get_spark('any-directory', master='local[2]')\n"
        f"rows = mj_wordcount(spark, {SF_DIR!r}).collect()\n"
        "print('\\nSUM', len(rows), sum(r.cnt for r in rows))\n"
        "spark.stop()\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=400)
    assert out.returncode == 0, out.stderr[-4000:]
    want = duck.sql(f"SELECT count(*), sum(cnt) FROM ({ORACLE['mj_wordcount']})").fetchone()
    assert f"SUM {want[0]} {want[1]}" in out.stdout.splitlines()

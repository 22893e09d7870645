"""Spark's Python workers start from ``data_engineer_task_spark.pydaemon``:
the lazy zip-archive invalidation reaches every task, and the workers
can import the package whatever the driver's cwd and PYTHONPATH."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from data_engineer_task_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# On 3.13+ zipimport is lazy already and pydaemon patches nothing.
PATCHED = sys.version_info < (3, 13)


def test_python_tasks_run_the_daemon_patch(spark):
    """``__module__`` would say ``__main__`` (the daemon runs with
    ``-m``); the code object names the file it came from."""

    def invalidate_source(it):
        import zipimport

        for _ in it:
            pass
        yield pd.DataFrame(
            {"src": [zipimport.zipimporter.invalidate_caches.__code__.co_filename]}
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(invalidate_source, "src string")
        .collect()
    )
    assert len(rows) == 2
    assert all((os.path.basename(r["src"]) == "pydaemon.py") == PATCHED for r in rows), rows


_OUTSIDE_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    import pandas as pd
    from pyspark.sql import functions as F
    from data_engineer_task_spark.session import get_spark

    spark = get_spark("pydaemon-outside", cpus=1)

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    print("RESULT", sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
    spark.stop()
    """
)


def test_pandas_udf_runs_from_outside_the_repo_without_pythonpath(tmp_path):
    """The workers import the daemon module from the package, so
    ``get_spark`` must put the package root on their path itself."""
    script = tmp_path / "outside.py"
    script.write_text(_OUTSIDE_SCRIPT.format(root=ROOT))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT [1, 2, 3]" in proc.stdout, proc.stdout[-2000:]


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not PATCHED, reason="zipimport is lazy on Python 3.13+")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_archive(archive, {"zmod_a": "VALUE = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("zmod_a").VALUE == 1
    importlib.invalidate_caches()  # first call: this importer reads once
    after_first = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == after_first

    # rewritten in place: the stamp changes, so the next call re-reads
    _write_archive(archive, {"zmod_a": "VALUE = 1\n", "zmod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == after_first + 1
    assert importlib.import_module("zmod_b").VALUE == 2

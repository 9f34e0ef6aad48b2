"""The session's Python worker daemon (``xapian_spark.pydaemon``)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd

from xapian_spark import pydaemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.new"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"xs_zip_mod_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches_if_changed)
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read_directory(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read_directory)
    try:
        assert importlib.import_module("xs_zip_mod_a").VALUE == "a"
        importlib.invalidate_caches()  # records the archive's key
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"xs_zip_mod_a": "VALUE = 'a'\n",
                             "xs_zip_mod_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("xs_zip_mod_b").VALUE == "b"
    finally:
        for name in ("xs_zip_mod_a", "xs_zip_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_worker_runs_patched_invalidate_caches(spark):
    # defined here so that it is pickled by value: workers cannot import tests
    def report_invalidate_caches(batches):
        import zipimport

        for _ in batches:
            pass
        f = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"name": [f.__name__], "file": [f.__code__.co_filename]})

    rows = (
        spark.range(1)
        .repartition(1)
        .mapInPandas(report_invalidate_caches, "name string, file string")
        .collect()
    )
    patched = pydaemon.invalidate_caches_if_changed
    assert [(r.name, r.file) for r in rows] == [
        (patched.__name__, patched.__code__.co_filename)
    ]


def test_session_from_foreign_cwd_without_pythonpath(tmp_path):
    """The daemon module must import in workers started outside the repo."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        import pandas as pd
        from xapian_spark.session import get_spark

        def plus_one(batches):
            for b in batches:
                yield pd.DataFrame({{"id": b["id"] + 1}})

        spark = get_spark(master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "512m"}})
        spark.sparkContext.setLogLevel("ERROR")
        print("ROWS", sorted(r.id for r in
              spark.range(3).mapInPandas(plus_one, "id long").collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_LOCAL_DIR"] = str(tmp_path / "spark-local")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS [1, 2, 3]" in out.stdout

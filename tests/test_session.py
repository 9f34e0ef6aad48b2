"""The session's Python worker daemon (``xapian_spark.pydaemon``) and its
local relations for rows held on the driver (``session.local_df``)."""

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
from xapian_spark.plans import query as Q
from xapian_spark.session import local_df

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


def _job_ids(spark) -> set:
    """Ids of the jobs the session has run so far (listener bus drained)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None) or ())


def _collect_without_jobs(spark, df):
    before = _job_ids(spark)
    rows = df.collect()
    assert _job_ids(spark) == before, "collecting driver rows ran a Spark job"
    return rows


def test_local_df_round_trip_runs_no_job(spark):
    rows = [
        (2**31, -(2**40), 0.1, "a", [1.5, -0.0]),
        (-1, 2**62, -1e300, "", []),
        (None, None, None, None, None),
        (7, 0, 5e-324, None, [None, 2.0]),
    ]
    ddl = "a long, b bigint, x double, s string, v array<double>"
    df = local_df(spark, rows, ddl)
    assert df.schema.simpleString() == (
        "struct<a:bigint,b:bigint,x:double,s:string,v:array<double>>"
    )
    got = [tuple(r) for r in _collect_without_jobs(spark, df)]
    assert [r[:2] + r[3:] for r in got] == [r[:2] + r[3:] for r in rows]
    # doubles bit for bit (-0.0 and the smallest subnormal included)
    def hexes(rs):
        return [x if x is None else x.hex() for r in rs for x in (r[2], *(r[4] or ()))]

    assert hexes(got) == hexes(rows)

    empty = local_df(spark, [], "doc_id long, weight double")
    assert empty.schema.simpleString() == "struct<doc_id:bigint,weight:double>"
    assert _collect_without_jobs(spark, empty) == []


def test_mset_rows_collect_without_a_job(spark, matcher):
    q = Q.Or([Q.Term("return"), Q.Term("binary_search")])
    res = matcher.mset(q, 10)
    rows = _collect_without_jobs(spark, res.df)
    assert [r["rank"] for r in rows] == list(range(1, 11))
    pruned = _collect_without_jobs(spark, matcher.mset_df(q, 10, prune=True))
    assert matcher.last_prune_decision == "pruned"
    assert len(pruned) == 10
    none = matcher.mset(Q.MatchNothing())
    assert _collect_without_jobs(spark, none.df) == []

"""The fixed cost of a Python task: the worker entry module
(geokit_spark.worker_entry) and driver-built frames sent as Arrow
(session.local_frame)."""

import ast
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

import geokit_spark
from geokit_spark import worker_entry
from geokit_spark.session import PACKAGE_ROOT

PKG_DIR = Path(geokit_spark.__file__).parent


# -- every driver-built frame goes through session.local_frame


def _create_dataframe_calls():
    """(file, enclosing function, line) of each `.createDataFrame(` call
    in the package."""
    out = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))

        def walk(node, func):
            for child in ast.iter_child_nodes(node):
                inner = (
                    child.name
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                    else func
                )
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"
                ):
                    rel = path.relative_to(PKG_DIR).as_posix()
                    out.append((rel, func, child.lineno))
                walk(child, inner)

        walk(tree, None)
    return out


def test_create_dataframe_only_in_local_frame():
    calls = _create_dataframe_calls()
    stray = [c for c in calls if c[:2] != ("session.py", "local_frame")]
    assert not stray, f"build driver-side frames with session.local_frame: {stray}"
    assert calls, "local_frame itself must call createDataFrame"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_rows_and_empty_are_jvm_local(spark):
    from geokit_spark.session import local_frame

    df = local_frame(spark, [(1, "a", [1.0, 2.0]), (2, None, None)],
                     "id int, s string, xs array<double>")
    assert [tuple(r) for r in df.collect()] == [(1, "a", [1.0, 2.0]), (2, None, None)]
    empty = local_frame(spark, [], "id long, ts timestamp")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<id:bigint,ts:timestamp>"
    for d in (df, empty):
        assert "ExistingRDD" not in _plan(d)


def test_knn_plan_has_no_python_rdd_scan(spark, docs):
    from pyspark.sql import functions as F

    from geokit_spark.functions.geo import grid_cell_id, with_geocode
    from geokit_spark.operators.knn import knn

    pts = with_geocode(docs.select("doc_id")).withColumn(
        "cell_id", grid_cell_id(F.col("lon"), F.col("lat"))
    )
    out = knn(spark, pts, k=3)
    assert "ExistingRDD" not in _plan(out)
    assert out.count() > 0


def _sql_plans(spark) -> dict[int, str]:
    """{execution id: physical plan text} of the SQL executions the
    status store still holds (the newest spark.sql.ui.retainedExecutions)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        e.executionId(): e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
    }


def test_run_stage_on_fresh_root_has_no_python_rdd_scan(spark, docs, tmp_path):
    from pyspark.sql import functions as F

    from geokit_spark.plans.lineage import CheckpointTable

    work = docs.select("doc_id", (F.col("doc_id") % 7).alias("cell_id"))
    ckpt = CheckpointTable(spark, str(tmp_path / "ckpt"))
    last = max(_sql_plans(spark), default=-1)
    n_cells, rows = ckpt.run_stage("s", work)
    plans = [p for i, p in _sql_plans(spark).items() if i > last]
    assert (n_cells, rows) == (7, docs.count())
    assert plans and not any("ExistingRDD" in p for p in plans)
    assert ckpt.run_stage("s", work) == (0, 0)


# -- worker entry module


def _zip(path: Path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    archive = tmp_path / "lib.zip"
    _zip(archive, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    assert reads == [str(archive)]  # the importer's own first read
    reads.clear()
    worker_entry.guard_zip_invalidation()

    for _ in range(3):
        imp.invalidate_caches()
    assert reads == []  # unchanged: never re-read

    _zip(archive, {"mod_a.py": "X = 1\n", "mod_b.py": "Y = 2\n"})
    imp.invalidate_caches()
    assert reads == [str(archive)]  # size changed: re-read once
    assert imp.find_spec("mod_b") is not None
    imp.invalidate_caches()
    assert len(reads) == 1

    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    assert len(reads) == 2  # mtime changed: re-read


def test_drop_bundled_zips_needs_matching_version(tmp_path):
    import pyspark

    version = (Path(pyspark.__file__).parent / "version.py").read_text()
    site = str(Path(pyspark.__file__).parent.parent)
    same, other = tmp_path / "same", tmp_path / "other"
    for d, text in ((same, version), (other, "__version__ = '0.0.1'\n")):
        d.mkdir()
        _zip(d / "pyspark.zip", {"pyspark/version.py": text})
        _zip(d / "py4j-0.0-src.zip", {"py4j/__init__.py": ""})

    path = [str(other / "pyspark.zip"), str(other / "py4j-0.0-src.zip"), site]
    assert worker_entry.drop_bundled_zips(path) == []
    assert len(path) == 3

    path = [str(same / "pyspark.zip"), str(same / "py4j-0.0-src.zip"), site]
    dropped = worker_entry.drop_bundled_zips(path)
    assert dropped == [str(same / "pyspark.zip"), str(same / "py4j-0.0-src.zip")]
    assert path == [site]


def _bundled_zip_matches() -> bool:
    import pyspark

    zp = Path(os.environ.get("SPARK_HOME", "/nonexistent")) / "python/lib/pyspark.zip"
    if not zp.exists():
        return False
    with zipfile.ZipFile(zp) as z:
        bundled = z.read("pyspark/version.py")
    return bundled == (Path(pyspark.__file__).parent / "version.py").read_bytes()


def test_worker_imports_installed_pyspark(spark):
    if not _bundled_zip_matches():
        pytest.skip("no bundled pyspark.zip matching the installed pyspark")
    import pyspark

    def probe(_):
        import sys as s

        import pyspark as p

        return p.__file__, [e for e in s.path if os.path.basename(e) == "pyspark.zip"]

    got = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert got == [(pyspark.__file__, [])]


def test_udf_runs_from_session_started_outside_repo(tmp_path):
    """Workers find the package through spark.executorEnv.PYTHONPATH,
    whatever the driver's working directory and PYTHONPATH."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from geokit_spark.operators.wkbops import wkb_areas
        from geokit_spark.session import get_spark
        spark = get_spark("outside", cores=1)
        rows = wkb_areas(spark).collect()
        assert rows and all(r.area > 0 for r in rows), rows
        print("OK", len(rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.startswith("OK")

"""Session factory: python workers import the package from any cwd, and the
SQL status store is bounded."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_outside_repo(tmp_path):
    """The package is on the DRIVER's sys.path only (no PYTHONPATH) and the
    cwd is outside the repo: get_spark's warm-up and a user mapInPandas that
    imports the package must both run on the python workers, which start
    through the package's worker daemon."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from adavnceseo_crawler_spark.session import get_spark

        def probe(batches):
            import zipimport

            from adavnceseo_crawler_spark import worker_daemon

            # the worker forked from the package's daemon, which swapped in
            # the lazy zip-directory reread
            code = zipimport.zipimporter.invalidate_caches.__code__
            assert code.co_filename == worker_daemon.__file__, code
            yield from batches

        spark = get_spark(app_name="probe", master="local[1]")
        print(spark.range(3).mapInPandas(probe, "id long").count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.split()[-1] == "3"


def test_sql_status_store_is_bounded(spark):
    """The SQL status store keeps only the last few executions."""
    assert spark.conf.get("spark.sql.ui.retainedExecutions") == "10"

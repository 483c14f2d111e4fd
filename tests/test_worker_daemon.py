"""The engine's Python worker daemon (timing_explorer_spark.worker_daemon):
workers import PySpark from the unpacked tree the JVM ships, without the
jar and pyspark.zip importers whose per-task cache refresh cost ~150-200 ms."""

from __future__ import annotations

import os
import sys

from timing_explorer_spark import session, worker_daemon


def test_workers_run_the_engine_daemon(spark):
    import pyspark

    def probe(batches):
        import sys

        import pandas as pd
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        stale = [k for k in sys.path_importer_cache if ".jar" in k or "pyspark.zip" in k]
        yield pd.DataFrame({"version": [worker_pyspark.__version__], "stale": [",".join(stale)]})

    row = spark.range(1, numPartitions=1).mapInPandas(probe, "version string, stale string").first()
    assert row["version"] == pyspark.__version__
    assert row["stale"] == ""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == session.DAEMON_MODULE
    parent = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    assert parent in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_trim_keeps_pyspark_zip_without_an_unpacked_tree(tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "python" / "pyspark").mkdir(parents=True)
    (home / "python" / "pyspark" / "__init__.py").write_text("")
    unpacked_zip = str(home / "python" / "lib" / "pyspark.zip")
    bare_zip = str(tmp_path / "bare" / "python" / "lib" / "pyspark.zip")
    jar = str(home / "jars" / "spark-core.jar")
    monkeypatch.setattr(sys, "path", ["/cwd", unpacked_zip, bare_zip, jar, "/site"])
    monkeypatch.setattr(
        sys,
        "path_importer_cache",
        {jar: 1, os.path.join(jar, "org"): 2, unpacked_zip: 3,
         os.path.join(unpacked_zip, "pyspark"): 4, bare_zip: 5, "/site": 6},
    )
    worker_daemon._trim_import_path()
    assert sys.path == ["/cwd", str(home / "python"), bare_zip, "/site"]
    assert sorted(sys.path_importer_cache) == sorted([bare_zip, "/site"])


def test_get_spark_lets_the_caller_pick_the_daemon(monkeypatch):
    seen: dict[str, str] = {}

    class Builder:
        def appName(self, _name):
            return self

        def master(self, _master):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return "session"

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    monkeypatch.setattr(session, "ensure_confs", lambda s: s)
    session.get_spark(extra_conf={
        "spark.python.daemon.module": "custom.daemon",
        "spark.executorEnv.PYTHONPATH": "/deps",
    })
    assert seen["spark.python.daemon.module"] == "custom.daemon"
    assert seen["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/deps", session._PACKAGE_PARENT]
    )

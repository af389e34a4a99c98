"""Python worker daemon (pyworker.py): workers import the installed pyspark,
never Spark's archives, and never a different pyspark from the driver."""

import zipfile

import pandas as pd
import pyspark

from flink_training_exercises_spark.pyworker import installed_first


def test_worker_imports_installed_pyspark(spark):
    # nested so it pickles by value: workers cannot import this test module
    def _worker_view(batches):
        import sys

        import pyspark as worker_pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "path": [list(sys.path)],
                "file": [worker_pyspark.__file__],
                "version": [worker_pyspark.__version__],
            }
        )

    row = (
        spark.range(1)
        .repartition(1)
        .mapInPandas(_worker_view, "path array<string>, file string, version string")
        .collect()[0]
    )
    assert not [p for p in row["path"] if p.endswith(".jar")]
    assert ".zip" not in row["file"] and ".jar" not in row["file"]
    assert row["version"] == pyspark.__version__


def _fake_pyspark(tmp_path, installed, archived):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f'__version__: str = "{installed}"\n')
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{archived}"\n')
    jar = tmp_path / "spark-core.jar"
    jar.write_bytes(b"")
    return [str(tmp_path), str(archive), str(jar), str(site)]


def test_installed_first_reorders_matching_version(tmp_path):
    path = _fake_pyspark(tmp_path, "4.1.2", "4.1.2")
    assert installed_first(path) == [path[0], path[3], path[1]]


def test_installed_first_keeps_spark_order(tmp_path):
    # another installed version: the archive (the JVM's own) must win
    path = _fake_pyspark(tmp_path, "3.5.0", "4.1.2")
    assert installed_first(path) is path
    # no installed pyspark at all
    assert installed_first(path[:3]) == path[:3]

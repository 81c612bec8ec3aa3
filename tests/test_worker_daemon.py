"""The Python worker daemon that `get_spark` sessions fork from
(`calamari_spark._worker_daemon`), and worker imports from any working
directory."""

import os
import re
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import calamari_spark
from calamari_spark._worker_daemon import lean_path

ROOT = Path(__file__).resolve().parents[1]


def _zip(path: Path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def test_lean_path_drop_rule(tmp_path):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "version.py").write_bytes(b'__version__ = "4.1.2"\n')
    jar = _zip(tmp_path / "spark-core.jar", {"org/Foo.class": b"\xca\xfe"})
    same = tmp_path / "same"
    other = tmp_path / "other"
    same.mkdir()
    other.mkdir()
    same_zip = _zip(same / "pyspark.zip", {"pyspark/version.py": b'__version__ = "4.1.2"\n'})
    other_zip = _zip(other / "pyspark.zip", {"pyspark/version.py": b'__version__ = "4.0.0"\n'})
    path = [str(tmp_path), same_zip, other_zip, jar, str(site)]
    cache = {p: object() for p in path}
    cache[same_zip + os.sep + "pyspark"] = object()
    cache[jar + os.sep + "org"] = object()
    cache[same_zip + "2"] = object()  # shares a prefix, not inside the archive

    new_path, new_cache = lean_path(path, cache)

    assert new_path == [str(tmp_path), other_zip, str(site)]
    assert set(new_cache) == {str(tmp_path), other_zip, str(site), same_zip + "2"}
    assert all(new_cache[k] is cache[k] for k in new_cache)


def test_python_task_has_no_archive_importers(spark):
    import pyspark

    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield zips, sys.path, pyspark.__version__

    [(zips, path, version)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert [z for z in zips if not re.search(r"python3\d+\.zip$", z)] == []
    assert not any(p.endswith(".jar") for p in path)
    assert version == pyspark.__version__


def test_workers_import_package_from_any_cwd(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from calamari_spark.session import get_spark

        def run(batches):
            import calamari_spark
            for b in batches:
                b["v"] = calamari_spark.__version__
                yield b

        spark = get_spark("cwd_probe", cores=2)
        rows = spark.range(3).mapInPandas(run, "id long, v string").collect()
        print("VERSIONS", sorted({{r.v for r in rows}}))
        spark.stop()
    """)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert f"VERSIONS [{calamari_spark.__version__!r}]" in r.stdout


"""Session set-up: the engine's Python worker daemon
(``cuvs_spark.pydaemon``) and the default driver heap.

The daemon checks are structural: which importer class serves which
archive in a live worker, that imports still resolve through it, and
that a worker starts when neither the driver's working directory nor
its ``PYTHONPATH`` holds the package.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# pyspark sub-modules a worker does not import on its own; the first one
# not yet loaded in the worker is imported through the sealed importer.
_UNLOADED_CANDIDATES = ("pyspark.resource.requests", "pyspark.streaming.util",
                        "pyspark.mllib.common", "pyspark.ml.util")


def _one_task(spark, fn, schema: str):
    rows = spark.range(1, numPartitions=1).mapInPandas(fn, schema).collect()
    assert len(rows) == 1
    return rows[0]


def test_spark_archives_use_sealed_importer(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd
        for _ in batches:
            pass
        spark_archives = {}
        for importer in sys.path_importer_cache.values():
            if isinstance(importer, zipimport.zipimporter) and (
                    importer.archive.endswith("pyspark.zip")
                    or importer.archive.endswith(".jar")):
                spark_archives.setdefault(importer.archive, set()).add(
                    type(importer).__name__)
        name = next(m for m in _UNLOADED_CANDIDATES if m not in sys.modules)
        mod = importlib.import_module(name)
        yield pd.DataFrame({
            "archives": [sorted(spark_archives)],
            "classes": [sorted(set().union(*spark_archives.values()))],
            "module": [name],
            "loader_class": [type(mod.__spec__.loader).__name__],
        })

    row = _one_task(spark, probe, "archives array<string>, classes array<string>, "
                                  "module string, loader_class string")
    assert any(a.endswith("pyspark.zip") for a in row.archives), row.archives
    assert any(a.endswith(".jar") for a in row.archives), row.archives
    assert row.classes == ["SealedZipImporter"]
    # a pyspark sub-module first imported inside the task still resolves,
    # through the sealed pyspark.zip importer
    assert row.module in _UNLOADED_CANDIDATES
    assert row.loader_class == "SealedZipImporter"


def test_added_py_file_keeps_stock_importer(spark, tmp_path):
    mod_name = f"pydaemon_probe_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{mod_name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{mod_name}.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd
        for _ in batches:
            pass
        mod = importlib.import_module(mod_name)
        loader = mod.__spec__.loader
        yield pd.DataFrame({"value": [mod.VALUE],
                            "stock": [type(loader) is zipimport.zipimporter]})

    row = _one_task(spark, probe, "value long, stock boolean")
    assert row.value == 7
    assert row.stock


def test_workers_start_without_package_on_driver_path(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from cuvs_spark import get_spark

        def double(batches):
            for b in batches:
                yield b * 2

        spark = get_spark("pydaemon_path_test", cores=2, shuffle_partitions=2)
        df = spark.range(0, 10, 1, 2).mapInPandas(double, "id long")
        print("SUM", sum(r.id for r in df.collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["CUVS_SPARK_DRIVER_MEM"] = "512m"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "SUM 90" in out.stdout


def test_default_driver_memory_is_half_of_ram_capped(monkeypatch):
    from cuvs_spark import session

    def sysconf_for(total_bytes):
        return lambda name: {"SC_PAGE_SIZE": 4096,
                             "SC_PHYS_PAGES": total_bytes // 4096}[name]

    monkeypatch.setattr(os, "sysconf", sysconf_for(16 * 2**30))
    assert session._default_driver_memory() == "8192m"
    monkeypatch.setattr(os, "sysconf", sysconf_for(512 * 2**30))
    assert session._default_driver_memory() == "49152m"

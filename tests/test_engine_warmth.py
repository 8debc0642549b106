"""A warm engine stays warm: no per-task re-read of zipped imports in the
Python workers, no per-run recompilation of generated code in the JVM,
and session sizing that follows the host."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import courlan_spark  # noqa: F401 — installs the zipimport replacement
from courlan_spark import _zipcache
from courlan_spark.plans import session as S
from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline
from courlan_spark.sources.pages import generate_pages, pages_view

EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zipped_modules(tmp_path, monkeypatch):
    "A zip on sys.path; the modules imported from it are forgotten after."
    archive = tmp_path / "warmth_mods.zip"
    _write_zip(archive, {"warmth_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    for name in ("warmth_mod_a", "warmth_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


def test_replacement_installed_only_where_reread_is_eager():
    installed = zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches
    assert installed == EAGER
    _zipcache.install()  # idempotent
    assert (
        zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches
    ) == EAGER


def test_changed_archive_is_reread(zipped_modules):
    import warmth_mod_a

    assert warmth_mod_a.A == 1
    _write_zip(zipped_modules, {"warmth_mod_a": "A = 1\n", "warmth_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    import warmth_mod_b

    assert warmth_mod_b.B == 2


def test_unchanged_archive_is_not_reread(zipped_modules, monkeypatch):
    import warmth_mod_a  # noqa: F401

    importlib.invalidate_caches()  # first call per archive reads it
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda archive: reads.append(archive) or real(archive)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(zipped_modules) not in reads


def test_worker_uses_the_replacement(spark):
    "Spark's Python worker resets import caches per task through the shim."

    @F.pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import zipimport

        import courlan_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        eager = not hasattr(zipimport.zipimporter, "_get_files")
        return pd.Series([f"{eager} {fn.__module__}.{fn.__qualname__}"] * len(ids))

    eager, name = spark.range(1).select(probe("id")).first()[0].split()
    if eager == "True":
        assert name == "courlan_spark._zipcache.invalidate_caches"
    else:
        assert name == "zipimport.zipimporter.invalidate_caches"


def test_second_identical_run_compiles_no_generated_code(spark, tmp_path):
    """The codegen cache holds every class of a run (about 160 on this
    corpus, past Spark's default bound of 100), so a second identical
    run compiles nothing.  AQE is off for the two runs: it re-plans
    joins from the sizes of the stages finished so far, the order in
    which the pipeline's concurrent stages finish varies with timing,
    and so a later run can pick a join shape no earlier run compiled
    (2-4 classes on this corpus, cached from then on)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        S.CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    pages = pages_view(generate_pages(spark, 400))
    config = DedupConfig(jaccard_threshold=0.6, snapshot_mode="minimal")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        DedupPipeline(spark, str(tmp_path / "a"), config, count_rows=False).run(pages)
        before = compilations.getCount()
        DedupPipeline(spark, str(tmp_path / "b"), config, count_rows=False).run(pages)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert compilations.getCount() - before == 0


@pytest.mark.parametrize(
    "total_kb, heap",
    [(16_479_424, "8046m"), (2**27, "24576m"), (600_000, "512m")],
)
def test_default_driver_mem_is_half_the_host(tmp_path, total_kb, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1 kB\n")
    assert S.default_driver_mem(str(meminfo)) == heap


def test_default_driver_mem_without_meminfo(tmp_path):
    assert S.default_driver_mem(str(tmp_path / "absent")) == "24g"


def test_failed_warm_up_never_fails_the_session():
    class Conf(dict):
        def set(self, key, value):
            self[key] = value

    class BrokenSession:
        conf = Conf()

        def range(self, *args, **kwargs):
            raise RuntimeError("engine refused the warm-up query")

    spark = BrokenSession()
    with pytest.warns(RuntimeWarning, match="engine refused the warm-up query"):
        S._warm_engine(spark)
    assert "spark.courlan.engineWarmed" not in spark.conf

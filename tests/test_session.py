"""Process-level set-up in ``xesmf_spark.session``: the zipimporter
cache hook that keeps Python workers from re-reading every archive on
``sys.path`` at the start of each task."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from xesmf_spark.session import install_zip_cache_hook

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the re-read is lazy on Python >= 3.12; no hook"
)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    install_zip_cache_hook()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import zmod_a

    assert zmod_a.VALUE == 1
    importlib.invalidate_caches()  # first read under the hook
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files

    # rewritten archive: the next invalidation reads it again, and the
    # new member imports
    _write_zip(archive, {"zmod_a.py": "VALUE = 1\n", "zmod_b.py": "VALUE = 2\n"})
    with pytest.raises(ImportError):
        import zmod_b  # noqa: F401
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not files
    import zmod_b

    assert zmod_b.VALUE == 2
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_worker_running_an_xesmf_spark_udf_is_patched(spark):
    """A Python worker that unpickles an xesmf_spark function imports the
    package, which installs the hook in that worker."""
    from xesmf_spark import vectorized

    def probe(batches):
        import zipimport as zi

        vectorized._scratch("probe", 1)  # an xesmf_spark function
        fn = zi.zipimporter.invalidate_caches
        for pdf in batches:
            yield pdf.assign(patched=f"{fn.__module__}.{fn.__name__}")

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "id long, patched string")
        .select("patched")
        .distinct()
        .collect()
    )
    assert [r["patched"] for r in rows] == ["xesmf_spark.session.invalidate_caches"]

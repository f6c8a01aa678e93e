"""Python-worker set-up: ``skip_unchanged_zip_rescans`` keeps
``importlib.invalidate_caches()`` from re-reading zip archives that have
not changed, and still re-reads one that has."""

import os
import subprocess
import sys
import textwrap

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter reads lazily on Python >= 3.13"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter, so the patch never reaches the pytest process.
RESCAN_SCRIPT = textwrap.dedent("""
    import importlib, os, sys, time, zipfile, zipimport

    from newocr_spark.pipeline.session import skip_unchanged_zip_rescans

    archive = os.path.join(sys.argv[1], "mods.zip")
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    zipimport._read_directory = counting_read

    def write(*names):
        time.sleep(0.01)  # a distinct mtime_ns even on coarse clocks
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(f"{n}.py", f"NAME = {n!r}\\n")

    def rescans():
        del reads[:]
        importlib.invalidate_caches()
        return reads.count(archive)

    write("m1")
    sys.path.insert(0, archive)
    import m1
    for sub in ("a", "b", "c"):  # more importers on one archive, as for subpackages
        sys.path_importer_cache[f"{archive}/{sub}"] = zipimport.zipimporter(f"{archive}/{sub}")
    sharing = 4
    assert rescans() == sharing, "without the patch every importer re-reads"

    skip_unchanged_zip_rescans()
    patched = zipimport.zipimporter.invalidate_caches
    skip_unchanged_zip_rescans()
    assert zipimport.zipimporter.invalidate_caches is patched, "installed twice"
    assert rescans() == 0
    assert rescans() == 0

    write("m1", "m2")
    assert rescans() >= 1, "a rewritten archive must be re-read"
    import m2
    assert m2.NAME == "m2"
    assert rescans() == 0

    os.remove(archive)
    rescans()  # no exception
    try:
        import m3
    except ImportError:
        pass
    else:
        raise AssertionError("import from a deleted archive succeeded")
    print("ok")
""")


def test_zip_rescans_skip_only_unchanged_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", RESCAN_SCRIPT, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_worker_skips_zip_rescans_after_install(spark):
    def rescan_probe(batches):
        """Zip-directory reads of one ``invalidate_caches()`` in this
        worker with the stock method, then after the install (-1 with no
        zip importer). A reused worker may hold the patch already; the
        stock method is then the one it wraps."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        from newocr_spark.pipeline.session import skip_unchanged_zip_rescans

        def reads_of_one_invalidate():
            count = [0]
            real_read = zipimport._read_directory

            def counting_read(path):
                count[0] += 1
                return real_read(path)

            zipimport._read_directory = counting_read
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = real_read
            return count[0]

        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        installed = zipimport.zipimporter.invalidate_caches
        zipimport.zipimporter.invalidate_caches = getattr(installed, "__wrapped__", installed)
        before = reads_of_one_invalidate() if zips else -1
        zipimport.zipimporter.invalidate_caches = installed
        skip_unchanged_zip_rescans()
        after = reads_of_one_invalidate() if zips else -1
        for _pdf in batches:
            pass
        yield pd.DataFrame({"zips": [zips], "before": [before], "after": [after]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(rescan_probe, "zips long, before long, after long")
        .collect()[0]
    )
    if row.zips == 0:
        pytest.skip("the Python worker imports from no zip archive")
    assert row.before > 0
    assert row.after == 0

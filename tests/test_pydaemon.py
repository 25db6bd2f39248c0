"""The Python worker daemon (pydaemon.py): archive pruning, what the
workers of a ``get_spark`` session import, and a launch from a working
directory that does not hold the package."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

from social_media_ai_engineering_etl_spark import pydaemon
from social_media_ai_engineering_etl_spark import session
from social_media_ai_engineering_etl_spark.session import (
    PACKAGE_ROOT, worker_pythonpath)

VERSION = b'__version__ = "1.0"\n'


def _zip(path, members: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


@pytest.fixture
def site_dir(tmp_path):
    """A directory entry with package ``pkg`` and module ``mod.py``."""
    d = tmp_path / "site"
    (d / "pkg").mkdir(parents=True)
    (d / "pkg" / "__init__.py").write_bytes(b"")
    (d / "pkg" / "version.py").write_bytes(VERSION)
    (d / "mod.py").write_bytes(b"X = 1\n")
    return str(d)


def test_archive_shadowed_by_identical_directory_is_dropped(tmp_path,
                                                            site_dir):
    # files only in the archive (its tests) do not keep it
    archive = _zip(tmp_path / "pkg.zip", {
        "pkg/__init__.py": b"", "pkg/version.py": VERSION,
        "pkg/tests/test_x.py": b"", "mod.py": b"X = 1\n"})
    path = [archive, site_dir]
    assert pydaemon.prune(path, {}) == [archive]
    assert path == [site_dir]


def test_archive_with_different_version_is_kept(tmp_path, site_dir):
    archive = _zip(tmp_path / "pkg.zip", {
        "pkg/__init__.py": b"", "pkg/version.py": b'__version__ = "2.0"\n'})
    path = [archive, site_dir]
    assert pydaemon.prune(path, {}) == []
    assert path == [archive, site_dir]


def test_archive_with_different_module_is_kept(tmp_path, site_dir):
    archive = _zip(tmp_path / "mod.zip", {"mod.py": b"X = 2\n"})
    assert pydaemon.prune([archive, site_dir], {}) == []


def test_python_free_jar_is_dropped(tmp_path, site_dir):
    jar = _zip(tmp_path / "core.jar", {
        "META-INF/MANIFEST.MF": b"Manifest-Version: 1.0\n",
        "org/apache/Foo.class": b"\xca\xfe\xba\xbe"})
    path = [site_dir, jar]
    assert pydaemon.prune(path, {}) == [jar]
    assert path == [site_dir]


def test_package_without_directory_twin_is_kept(tmp_path, site_dir):
    archive = _zip(tmp_path / "other.zip", {
        "pkg/__init__.py": b"", "pkg/version.py": VERSION,
        "other/__init__.py": b""})
    assert pydaemon.prune([archive, site_dir], {}) == []


def test_dropped_entries_leave_importer_cache(tmp_path, site_dir):
    archive = _zip(tmp_path / "pkg.zip", {
        "pkg/__init__.py": b"", "pkg/version.py": VERSION})
    kept = _zip(tmp_path / "kept.zip", {"solo/__init__.py": b""})
    inner = os.path.join(archive, "pkg") + os.sep
    cache = {archive: object(), inner: object(), site_dir: object(),
             kept: object()}
    pydaemon.prune([archive, kept, site_dir], cache)
    assert set(cache) == {site_dir, kept}


def test_import_without_running_imports_no_pyspark():
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "import social_media_ai_engineering_etl_spark.pydaemon; "
         "print(sorted(m for m in sys.modules "
         "if m.split('.')[0] in ('pyspark', 'py4j')))",
         PACKAGE_ROOT],
        capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_worker_pythonpath_appends_the_package_root(monkeypatch):
    sep = os.pathsep
    assert worker_pythonpath(None) == PACKAGE_ROOT
    assert worker_pythonpath(f"/a{sep}/b") == f"/a{sep}/b{sep}{PACKAGE_ROOT}"
    assert worker_pythonpath(f"{PACKAGE_ROOT}{sep}/a") == \
        f"{PACKAGE_ROOT}{sep}/a"
    # an installed package: site-packages stays behind the stdlib
    monkeypatch.setattr(session.site, "getsitepackages",
                        lambda: [PACKAGE_ROOT])
    assert worker_pythonpath("/a") == "/a"


def _worker_report(batches):
    import sys
    import zipimport

    import pyspark
    for _ in batches:
        pass
    main = sys.modules["__main__"].__spec__
    yield pd.DataFrame({
        "pyspark_file": [pyspark.__file__],
        "zipimporters": [sum(isinstance(f, zipimport.zipimporter)
                             for f in sys.path_importer_cache.values())],
        "daemon": [main.name if main else ""]})


def test_workers_import_pyspark_from_its_directory(spark):
    import pyspark
    if not os.path.isfile(pyspark.__file__):
        pytest.skip("pyspark is installed only as an archive")
    rows = (spark.range(4, numPartitions=2)
            .mapInPandas(_worker_report, "pyspark_file string, "
                         "zipimporters long, daemon string").collect())
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r.pyspark_file), r.pyspark_file
        assert r.zipimporters == 0
        assert r.daemon == pydaemon.__name__


FOREIGN_CWD_RUN = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from social_media_ai_engineering_etl_spark.operators.udtfs import (
        NextFitPackUDTF)
    from social_media_ai_engineering_etl_spark.session import get_spark

    def daemon(batches):
        import pandas as pd
        for _ in batches:
            pass
        yield pd.DataFrame({"daemon": [sys.modules["__main__"].__spec__.name]})

    spark = get_spark("foreign-cwd")
    spark.sparkContext.setLogLevel("ERROR")
    daemons = (spark.range(4, numPartitions=2)
               .mapInPandas(daemon, "daemon string").collect())
    spark.udtf.register("next_fit_pack", NextFitPackUDTF)
    spark.createDataFrame(
        [("en", 0, i, 200) for i in range(5)],
        "lang string, shard long, doc_id long, tok long",
    ).createOrReplaceTempView("docs")
    packed = spark.sql(
        "SELECT doc_id, bin_id FROM next_fit_pack("
        "TABLE(docs) PARTITION BY (lang, shard) ORDER BY doc_id)").collect()
    print(json.dumps({"daemons": sorted({r.daemon for r in daemons}),
                      "packed": sorted(map(list, packed))}))
    spark.stop()
""")


def test_daemon_launches_from_a_foreign_working_directory(tmp_path):
    """The package is only on the driver's ``sys.path``: not in the
    working directory the workers start in, not on ``PYTHONPATH``.  The
    daemon module and the module-level UDTF must still import on the
    workers; if they do not, the job fails and so does this test."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", FOREIGN_CWD_RUN, PACKAGE_ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["daemons"] == [pydaemon.__name__]
    assert got["packed"] == [[0, 0], [1, 0], [2, 1], [3, 1], [4, 2]]

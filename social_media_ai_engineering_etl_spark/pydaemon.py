"""Python worker daemon that imports PySpark from its installed directory.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``PYTHONPATH``.
Before every task a worker runs ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``; on Python 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory.  With those three archives that is 16 importers and
about 0.15 s of CPU per task, whatever the task holds (SCALING.md "Python
tasks per slot").

When the interpreter also has PySpark installed as a directory (a pip
install, which is what the Spark driver process imports), the archives
only shadow it.  ``session.get_spark`` sets ``spark.python.daemon.module``
to this module.  Run as ``__main__``, it drops every shadowed archive
from ``sys.path`` before anything imports pyspark, removes their
importers from ``sys.path_importer_cache`` and then runs
``pyspark.daemon.manager()``; the workers it forks inherit the pruned
path.

An archive is shadowed when every top-level package in it is also found,
first, in a directory entry of ``sys.path``, with an identical
``version.py`` (``__init__.py`` when the archive's package has no
``version.py``); a top-level module must be byte-identical.  An archive
with no Python in it, such as the jar, is always dropped.  Anything not
proven shadowed, or unreadable, stays on the path: a worker imports
PySpark from a directory only when it carries the archive's exact
``version.py``.

Standard library only: importing this module imports no pyspark.
"""

from __future__ import annotations

import os
import sys
import zipfile


def _twin(top: str, dirs: list[str]) -> str | None:
    """The first directory entry that provides top-level name ``top``
    (``pkg`` or ``mod.py``), the one an import picks once archives are
    gone."""
    marker = top if top.endswith(".py") else os.path.join(top, "__init__.py")
    return next((d for d in dirs if os.path.isfile(os.path.join(d, marker))),
                None)


def _shadowed(archive: str, dirs: list[str]) -> bool:
    """True when every top-level package and module in ``archive`` is
    provided, identically, by one of the directories ``dirs``."""
    try:
        with zipfile.ZipFile(archive) as zf:
            names = set(zf.namelist())
            tops = {n.split("/", 1)[0] for n in names
                    if n.endswith((".py", ".pyc"))}
            for top in tops:
                if top.endswith(".py"):
                    member = top
                else:
                    member = next((m for m in (f"{top}/version.py",
                                               f"{top}/__init__.py")
                                   if m in names), None)
                    if member is None:   # bytecode-only or namespace
                        return False
                twin = _twin(top, dirs)
                if twin is None:
                    return False
                with open(os.path.join(twin, *member.split("/")), "rb") as f:
                    if f.read() != zf.read(member):
                        return False
    except (OSError, zipfile.BadZipFile):
        return False
    return True


def prune(path: list | None = None, cache: dict | None = None) -> list[str]:
    """Drop every shadowed archive from ``path`` (default ``sys.path``)
    in place, and its importers (the archive's and those of the package
    directories inside it) from ``cache`` (default
    ``sys.path_importer_cache``).  Returns the dropped entries."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    dirs = [p or os.getcwd() for p in path if os.path.isdir(p or os.curdir)]
    dropped = [p for p in path if p and zipfile.is_zipfile(p)
               and _shadowed(p, dirs)]
    path[:] = [p for p in path if p not in dropped]
    for key in list(cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del cache[key]
    return dropped


if __name__ == "__main__":
    prune()
    from pyspark import daemon

    daemon.manager()

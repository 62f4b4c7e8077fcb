"""Python worker daemon that imports PySpark from the unzipped tree.

Spark starts an executor's Python daemon with ``…/python/lib/pyspark.zip``
and the spark-core jar on ``sys.path``. Before every task PySpark's worker
calls ``importlib.invalidate_caches()``, and on Python 3.11 that makes
each cached zipimporter re-read its archive's directory: 1,328 entries
in pyspark.zip (one importer per imported subpackage) and 5,359 in the
jar, 0.2–0.36 s per task on a 4-vCPU host.

This module puts the unzipped ``…/python`` tree in place of pyspark.zip,
drops the jar, forgets the importers already cached for both, and then
runs ``pyspark.daemon`` as ``__main__``, as ``python -m pyspark.daemon``
would, keeping ``sys.argv[1]`` (the worker module). ``session.get_spark``
selects it only where the tree is present and of the calling
process's PySpark version.

It must run before anything imports from an archive, so it imports only
the standard library, and the package ``__init__`` imports nothing.
"""

import os
import runpy
import sys


def worker_path(path: list[str]) -> tuple[list[str], list[str]]:
    """(new sys.path, dropped entries): ``…/python/lib/pyspark.zip`` becomes
    ``…/python`` and ``.jar`` entries go. The path is returned unchanged
    when no pyspark.zip has an unzipped tree beside it."""
    out, dropped = [], []
    for p in path:
        tree = os.path.dirname(os.path.dirname(p))
        if os.path.basename(p) == "pyspark.zip" and os.path.isfile(
            os.path.join(tree, "pyspark", "__init__.py")
        ):
            out.append(tree)
            dropped.append(p)
        elif p.endswith(".jar"):
            dropped.append(p)
        else:
            out.append(p)
    if not any(os.path.basename(p) == "pyspark.zip" for p in dropped):
        return list(path), []
    return out, dropped


def main() -> None:
    sys.path[:], dropped = worker_path(sys.path)
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]
    # workers import this package from their own path, as under the
    # default daemon (which may be a --py-files copy, not this one)
    sys.modules.pop(__spec__.parent, None)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()

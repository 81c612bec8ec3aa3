"""Python worker daemon for `session.get_spark` sessions: `pyspark.daemon`
behind a leaner import path.

Spark puts `pyspark.zip`, the py4j zip and the spark-core jar at the head of
every worker's `sys.path`, and `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()` on every task. On CPython 3.11 that makes
each cached `zipimporter` re-read its whole archive directory: about 16
importers and 0.2 s of CPU per task. The jar holds no Python, and the zips
are redundant when the rest of the path has the same pyspark / py4j
unpacked, so they are dropped here once and forked workers inherit the
cleaned path. Stdlib imports only: nothing may load from an archive first.
"""

import os
import re
import sys
import zipfile
from pathlib import Path


def lean_path(path: list, cache: dict) -> tuple:
    """(path, cache) without the archives a worker does not need: every
    `*.jar`, and `pyspark.zip` / `py4j-*.zip` when an unpacked package
    elsewhere on the path has a byte-identical `version.py`."""
    drop = {entry for entry in path if entry.endswith(".jar")}
    for entry in path:
        m = re.fullmatch(r"(pyspark)\.zip|(py4j)-.*\.zip", os.path.basename(entry))
        if not m or not zipfile.is_zipfile(entry):
            continue
        pkg = m.group(1) or m.group(2)
        with zipfile.ZipFile(entry) as zf:
            ours = zf.read(f"{pkg}/version.py")
        twins = (Path(other, pkg, "version.py") for other in path if other != entry)
        if any(t.is_file() and t.read_bytes() == ours for t in twins):
            drop.add(entry)
    inside = tuple(d + os.sep for d in drop)
    return ([p for p in path if p not in drop],
            {k: v for k, v in cache.items() if k not in drop and not k.startswith(inside)})


if __name__ == "__main__":
    try:
        path, cache = lean_path(sys.path, sys.path_importer_cache)
    except Exception:
        pass  # the path stays as it was, which only costs speed
    else:
        sys.path[:] = path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(cache)
    from pyspark.daemon import manager

    manager()

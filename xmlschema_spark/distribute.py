"""Ship the package to Spark executors (the spark-submit --py-files
pattern, per the north rule; reference analog: the CLI driver packaging
at cli.py:234-278), and keep the Python workers from paying for the
archives they import from.

Python workers resolve cloudpickled UDF module references via their own
sys.path, not the driver's — so any session whose driver didn't start
inside the repo needs the package registered with addPyFile. Idempotent
per SparkContext.

Every engine function that Spark runs in a Python worker is wrapped in
worker_kernel, which runs drop_zip_finders when the kernel starts and
again when it finishes. PySpark's worker calls
importlib.invalidate_caches() before every task
(worker_util.setup_spark_files), and on CPython 3.11 and 3.12 each
zipimporter in sys.path_importer_cache then re-reads its archive's whole
central directory. With pyspark.zip, the spark-core jar, py4j's zip and
this package's zip on the workers' path, that was a quarter of a
CPU-second per task before any kernel code ran. A kernel's first-time
imports can rebuild finders after the entry drop, hence the second drop
on the way out. This module pickles by value, so the workers call the
helpers without importing the package."""

from __future__ import annotations

import functools
import hashlib
import inspect
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import cloudpickle

_SENT_ATTR = "_xmlschema_spark_pyfile"

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def drop_zip_finders() -> None:
    """Remove every zipimporter from sys.path_importer_cache, so the
    worker's next invalidate_caches() finds no archive to re-read. The
    dict is a cache: an import that needs one of these paths rebuilds
    its finder through sys.path_hooks, and zipimporter reuses the
    directory it already read (zipimport._zip_directory_cache).
    FileFinder and None entries stay: invalidating a directory's finder
    is cheap and picks up new files. Archives do not change under a
    running worker."""
    cache = sys.path_importer_cache
    for k in list(cache):
        if isinstance(cache.get(k), zipimport.zipimporter):
            cache.pop(k, None)


def worker_kernel(fn):
    """Wrap a function that Spark runs in a Python worker (a mapInArrow /
    mapInPandas generator, an applyInPandas body) so that the zip finders
    are dropped when it starts and again when it finishes — for a
    generator, when it is exhausted or closed. The wrapper reports fn's
    signature, which PySpark reads to decide what to pass."""
    if inspect.isgeneratorfunction(fn):
        def kernel(*args, **kwargs):
            drop_zip_finders()
            try:
                yield from fn(*args, **kwargs)
            finally:
                drop_zip_finders()
    else:
        def kernel(*args, **kwargs):
            drop_zip_finders()
            try:
                return fn(*args, **kwargs)
            finally:
                drop_zip_finders()
    functools.update_wrapper(kernel, fn)
    kernel.__signature__ = inspect.signature(fn)
    return kernel


def package_zip(pkg_dir: str) -> str:
    """Zip of the .py sources under pkg_dir, named by a hash of their
    paths and bytes in the system temp dir: a checkout never ships
    another checkout's code, and an unchanged tree reuses its zip.
    Written through a unique temp file and os.replace, so concurrent
    writers never share a partial file."""
    root = os.path.dirname(pkg_dir)
    srcs = sorted(os.path.join(d, f) for d, _dirs, files in os.walk(pkg_dir)
                  for f in files if f.endswith(".py"))
    h = hashlib.sha256()
    for s in srcs:
        with open(s, "rb") as f:
            h.update(os.path.relpath(s, root).encode() + b"\0"
                     + f.read() + b"\0")
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"xmlschema_spark_pkg_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(suffix=".zip.tmp",
                                   dir=os.path.dirname(zip_path))
        try:
            with os.fdopen(fd, "wb") as out, zipfile.ZipFile(out, "w") as z:
                for s in srcs:
                    z.write(s, os.path.relpath(s, root))
            os.replace(tmp, zip_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return zip_path


def ensure_distributed(spark) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SENT_ATTR, False):
        return
    sc.addPyFile(package_zip(os.path.dirname(os.path.abspath(__file__))))
    setattr(sc, _SENT_ATTR, True)

"""Ship the package to Spark executors (the spark-submit --py-files
pattern, per the north rule; reference analog: the CLI driver packaging
at cli.py:234-278).

Python workers resolve cloudpickled UDF module references via their own
sys.path, not the driver's — so any session whose driver didn't start
inside the repo needs the package registered with addPyFile. Idempotent
per SparkContext."""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

_SENT_ATTR = "_xmlschema_spark_pyfile"


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

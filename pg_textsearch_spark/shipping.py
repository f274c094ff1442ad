"""Ship the package to Spark Python workers (the --py-files story).

On a real cluster the engine is distributed with
``spark-submit --py-files pg_textsearch_spark.zip`` (north_rule). When
the engine is driven as a library from an arbitrary cwd (the driver
harness, notebooks), workers would otherwise fail to unpickle our
pandas UDFs with ModuleNotFoundError. ``ensure_shipped(spark)`` zips
the package once per process and registers it with
``sparkContext.addPyFile`` — the programmatic equivalent of
--py-files, idempotent per SparkContext. The library calls it where
work enters it (``builder.build_segment``, ``BM25Index``), so callers
need not.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_shipped_ctx_ids: set[int] = set()


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the package for --py-files / addPyFile. Returns the path.

    Without ``out_path`` the zip goes to the temp dir
    (``tempfile.gettempdir()``, so ``TMPDIR`` applies) and is removed
    when the process exits: executors fetch an added file lazily, so it
    must outlive any SparkContext the process stops."""
    if out_path is None:
        out_path = os.path.join(
            tempfile.gettempdir(), f"pg_textsearch_spark-{os.getpid()}.zip"
        )
        atexit.register(_remove, out_path)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "pg_textsearch_spark", os.path.relpath(full, _PKG_DIR)
                )
                zf.write(full, rel)
    return out_path


def ensure_shipped(spark) -> None:
    """Idempotently make the package importable on executors. A
    package imported from a zip (``--py-files``) is there already."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped_ctx_ids or not os.path.isdir(_PKG_DIR):
        return
    zip_path = build_pyfiles_zip()
    sc.addPyFile(zip_path)
    _shipped_ctx_ids.add(key)

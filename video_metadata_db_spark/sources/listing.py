"""Directory-scan source: the reference's ``os.walk`` stage as a DataFrame.

The reference walks each root single-node with in-walk directory pruning
and an extension whitelist (``video_metadata_db.py:975-1064``).
``list_library`` is the same driver-side walk: filtered subtrees are
pruned during the walk, so they are never even listed, and the rows come
back as ``LISTING_SCHEMA`` beside the pruned directories themselves.
Extension/dir filters can then be applied as Catalyst predicates
(functions.scalar) — the walk-time prune is kept for parity and because
not-listing is cheaper than list-then-filter.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import DIRECTORY_FILTERS
from ..schemas import LISTING_SCHEMA


def list_library(
    spark: SparkSession, roots: Iterable[str], volume_label: str = ""
) -> tuple[DataFrame, list[str]]:
    """One driver-side walk of ``roots`` → (LISTING_SCHEMA rows, the
    filtered directories the walk refused to enter).  The second item
    is where the reference drops its ``.nomedia`` markers (:947-971),
    so ``-n`` needs no walk of its own."""
    rows: list[tuple[str, str, str, str, int, datetime, str]] = []
    filtered: list[str] = []
    for root in dict.fromkeys(roots):
        for path_dir, sub_dirs, file_names in os.walk(root, topdown=True):
            filtered.extend(os.path.join(path_dir, d) for d in sub_dirs if d in DIRECTORY_FILTERS)
            # prune in-place so os.walk never descends (parity :1014)
            sub_dirs[:] = [d for d in sub_dirs if d not in DIRECTORY_FILTERS]
            for fname in file_names:
                full = os.path.join(path_dir, fname)
                try:
                    st = os.stat(full)
                except OSError:
                    continue
                ext = fname.rpartition(".")[2] if "." in fname else ""
                mtime = datetime.fromtimestamp(st.st_mtime, tz=timezone.utc).replace(tzinfo=None)
                dir_name = os.path.basename(path_dir)
                rows.append((full, dir_name, fname, ext, st.st_size, mtime, volume_label))
    return spark.createDataFrame(rows, LISTING_SCHEMA), filtered


def list_files(spark: SparkSession, roots: Iterable[str], volume_label: str = "") -> DataFrame:
    """Driver-side recursive listing of ``roots`` → LISTING_SCHEMA rows."""
    return list_library(spark, roots, volume_label)[0]

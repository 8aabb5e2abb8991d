"""Directory-scan source: the reference's ``os.walk`` stage as a DataFrame.

The reference walks each root single-node with in-walk directory pruning
and an extension whitelist (``video_metadata_db.py:975-1064``).
``list_files`` is the same driver-side walk: filtered subtrees are pruned
during the walk, so they are never even listed, and the rows come back
as ``LISTING_SCHEMA``.  Extension/dir filters can then be applied as
Catalyst predicates (functions.scalar) — the walk-time prune is kept for
parity and because not-listing is cheaper than list-then-filter.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import DIRECTORY_FILTERS
from ..schemas import LISTING_SCHEMA


def _walk_one(
    root: str, volume_label: str
) -> Iterator[tuple[str, str, str, str, int, datetime, str]]:
    for path_dir, sub_dirs, file_names in os.walk(root, topdown=True):
        # prune in-place so os.walk never descends (parity :1014)
        sub_dirs[:] = [d for d in sub_dirs if d not in DIRECTORY_FILTERS]
        for fname in file_names:
            full = os.path.join(path_dir, fname)
            try:
                st = os.stat(full)
            except OSError:
                continue
            ext = fname.rpartition(".")[2] if "." in fname else ""
            yield (
                full,
                os.path.basename(path_dir),
                fname,
                ext,
                st.st_size,
                datetime.fromtimestamp(st.st_mtime, tz=timezone.utc).replace(tzinfo=None),
                volume_label,
            )


def list_files(spark: SparkSession, roots: Iterable[str], volume_label: str = "") -> DataFrame:
    """Driver-side recursive listing of ``roots`` → LISTING_SCHEMA rows."""
    rows = [r for root in dict.fromkeys(roots) for r in _walk_one(root, volume_label)]
    return spark.createDataFrame(rows, LISTING_SCHEMA)

"""Filesystem side-effect sinks (SURVEY.md §2.1).

The reference touches a ``.nomedia`` marker file in every filtered
directory so Kodi skips it (``nomedia_file_create``,
``video_metadata_db.py:947-971``).  A side-effect is not a row, so here
it runs as a ``mapInPandas`` stage that REPORTS what it did — each
marker attempt yields a result row (created / existed / error), giving
the side-effect the same dead-letter discipline as the probe stage
instead of fire-and-forget ``foreach``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

NOMEDIA = ".nomedia"

MARKER_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("dir_path", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # created | existed | error
        T.StructField("error", T.StringType(), True),
    ]
)


def create_nomedia_markers(dirs: DataFrame) -> DataFrame:
    """Touch ``{dir}/.nomedia`` in every input directory; return a
    result row per attempt.  Distributed: each task touches its own
    partition's directories (only meaningful where tasks share the
    filesystem — driver-collect first on multi-node object storage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for d in pdf["dir_path"]:
                marker = os.path.join(d, NOMEDIA)
                try:
                    if os.path.exists(marker):
                        out.append((d, "existed", None))
                    else:
                        with open(marker, "a", encoding="utf-8"):
                            pass
                        out.append((d, "created", None))
                except OSError as exc:
                    out.append((d, "error", str(exc)[:200]))
            yield pd.DataFrame(out, columns=["dir_path", "status", "error"])

    return dirs.mapInPandas(run, MARKER_RESULT_SCHEMA)

"""Provenance-stamped PHASES.json writer (ADVICE r7 item 3).

`tools/ann_phases.py` and `tools/components_phases.py` used to print
their phase splits for a human to paste into PHASES.json, which meant
the file carried no record of WHICH code produced the numbers, so a
stale split could ride along next to fresh measurements.  `record_phases`
merges a tool's entries into PHASES.json and stamps the current git
commit + wall-clock, so a reader can compare the stamp against HEAD.
"""

from __future__ import annotations

import json
import subprocess
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PHASES_PATH = REPO / "PHASES.json"


#: Paths whose last-touching commit identifies "the code that produced
#: the numbers".  Committing the measurement artifact itself (or docs)
#: must not invalidate the measurement — only a code change can.
CODE_PATHS = ("video_metadata_db_spark", "tools", "__spark_entry__.py")


def current_commit(repo: Path = REPO) -> str | None:
    """Short hash of the last commit touching the CODE paths (not HEAD:
    the PHASES.json commit itself would otherwise stale its own stamp,
    the r8 chicken-and-egg)."""
    try:
        out = subprocess.run(
            ["git", "-C", str(repo), "log", "-1", "--format=%h", "--",
             *CODE_PATHS],
            capture_output=True,
            text=True,
            check=True,
            timeout=10,
        ).stdout.strip()
        return out or None
    except Exception:
        return None


def record_phases(entries: dict) -> None:
    """Merge `entries` into PHASES.json and restamp provenance."""
    data: dict = {}
    if PHASES_PATH.exists():
        try:
            data = json.loads(PHASES_PATH.read_text())
        except ValueError:
            data = {}
    data.update(entries)
    data["provenance"] = {
        "commit": current_commit(),
        "measured_at_unix": int(time.time()),
    }
    PHASES_PATH.write_text(json.dumps(data, indent=1) + "\n")

"""Status routing and exit policy (SURVEY §2.2 F10 / §2.5 A7).

The reference sorts finished tiles into processed/skipped/failed/existing
lists and picks the process exit code from them
(``gfw_pixetl/pipes/pipe.py:137-168``, ``pixetl.py:64-88``): 137 iff any
tile failed because its subprocess was OOM-killed, 1 on any other
failure, 0 otherwise; the manifest upload is suppressed when anything
failed. Here statuses live in a column of the one-row-per-tile status
frame; each policy is one collect of that column, bucketed in Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

KILLED_STATUS = "failed - subprocess was killed"


def _statuses(statuses: DataFrame) -> list[str | None]:
    """The status column, collected in one job over the one-row-per-tile
    frame; the callers bucket it in Python."""
    return [r.status for r in statuses.select("status").collect()]


def _failed(status: str | None) -> bool:
    return status is not None and status.startswith("failed")


def status_tallies(statuses: DataFrame) -> dict[str, int]:
    """A7: counts per status bucket (processed/skipped/failed/existing)."""
    out = {"processed": 0, "skipped": 0, "failed": 0, "existing": 0}
    for s in _statuses(statuses):
        if s == "processed":
            out["processed"] += 1
        elif s is not None and s.startswith("existing"):
            out["existing"] += 1
        elif _failed(s):
            out["failed"] += 1
        else:
            out["skipped"] += 1
    return out


def exit_code(statuses: DataFrame) -> int:
    """F10 exit policy (``gfw_pixetl/pixetl.py:73-88``)."""
    failed = [s for s in _statuses(statuses) if _failed(s)]
    if KILLED_STATUS in failed:
        return 137
    return 1 if failed else 0


def should_upload_manifest(statuses: DataFrame) -> bool:
    """Manifest only on all-success (``pipes/pipe.py:163-166``)."""
    return not any(_failed(s) for s in _statuses(statuses))

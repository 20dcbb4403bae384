"""Atomic JSON manifests: the one writer and reader every commit record uses.

Checkpoint unit/fit/job manifests, curate stage manifests, the incremental
dedup index's ``index.json`` and commit/compaction manifests, and the
windowed-PCA model index all go through these two functions, so the
crash-safety claim "a manifest appears fully or not at all" holds in one
place:

* :func:`write_atomic` writes ``path + ".tmp"``, flushes and fsyncs it,
  ``os.replace``s it onto ``path`` and then fsyncs the parent directory, so
  both the bytes and the rename survive a power loss.
* :func:`read` returns ``None`` for a missing manifest.  A final-name file
  can no longer be torn, so malformed JSON there means outside corruption:
  it raises ``ValueError`` naming the path instead of reading as "not
  done".  Leftover ``.tmp`` files are never read.
"""

from __future__ import annotations

import json
import os
from typing import Any


def write_atomic(path: str, obj: Any) -> None:
    """Write ``obj`` as JSON to ``path`` atomically and durably."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def read(path: str) -> Any:
    """The JSON at ``path``, or ``None`` when the file does not exist."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None
    except json.JSONDecodeError as e:
        raise ValueError(f"malformed manifest {path!r}: {e}") from e

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

Every manifest carries ``format_version`` (:data:`FORMAT_VERSION`).
:func:`write_atomic` stamps it; :func:`read` treats a manifest without it
as version 1 (the layout every manifest had before the field existed),
raises ``ValueError`` naming the path and both versions on any other
value, and returns the manifest without the field.
"""

from __future__ import annotations

import json
import os
from typing import Any

#: the manifest layout this package writes and reads
FORMAT_VERSION = 1


def write_atomic(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to ``path`` atomically and durably, stamped
    with ``format_version``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({**obj, "format_version": FORMAT_VERSION}, f, indent=1,
                  sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(os.path.abspath(path)), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def read(path: str) -> Any:
    """The JSON at ``path`` without its ``format_version``, or ``None`` when
    the file does not exist."""
    try:
        with open(path) as f:
            obj = json.load(f)
    except FileNotFoundError:
        return None
    except json.JSONDecodeError as e:
        raise ValueError(f"malformed manifest {path!r}: {e}") from e
    version = obj.pop("format_version", 1)
    if version != FORMAT_VERSION:
        raise ValueError(
            f"manifest {path!r} has format_version {version!r}; this "
            f"package reads format_version {FORMAT_VERSION}")
    return obj

"""Atomic JSON manifests, and the one resume ledger built on them.

Every manifest (checkpoint, curate, incremental-dedup index and commits,
windowed-PCA model index) goes through :func:`write_atomic` and
:func:`read`, so "a manifest appears fully or not at all" holds in one
place.  :func:`write_atomic` fsyncs ``path + ".tmp"``, renames it onto
``path`` and fsyncs the directory, so bytes and rename survive a power
loss.  :func:`read` returns ``None`` for a missing manifest and raises
``ValueError`` naming the path on malformed JSON (a final-name file cannot
be torn; ``.tmp`` files are never read).  Manifests are stamped
``format_version`` (:data:`FORMAT_VERSION`); one without it reads as
version 1, any other version raises.

:class:`Ledger` is the resume protocol of the two stage runners
(``plans/checkpoint.py`` per conv_id unit, ``jobs/curate_corpus.py`` per
stage) over ``<out_dir>/_manifest/``: **check** each unit or stage (a
valid one is skipped), **invalidate** its manifest and ``job.json``
before its data is overwritten, write the **data**, **commit** the
manifest last, then **summarize** the committed manifests in
``job.json``.  A kill between invalidate and commit leaves data without a
manifest, never beside an older run's valid one, so the validated readers
refuse it.  The crash hook models that kill: it raises
:class:`SimulatedCrash` in place of the (k+1)-th unit or stage commit.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any, Callable

#: the manifest layout this package writes and reads
FORMAT_VERSION = 1

#: the ledger's directory under a runner's output dir
MANIFEST_DIR = "_manifest"


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


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
    _fsync_dir(os.path.dirname(os.path.abspath(path)))


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


def input_fingerprint(*paths: str) -> str:
    """sha256 over the (path, size, mtime_ns) listing of the input files:
    "is this manifest about the same immutable input bytes?"."""
    h = hashlib.sha256()
    for root in paths:
        if root is None:
            h.update(b"<none>")
            continue
        if os.path.isfile(root):    # e.g. the driver's documents.parquet
            st = os.stat(root)
            h.update(f"{os.path.basename(root)}|{st.st_size}|"
                     f"{st.st_mtime_ns}\n".encode())
            continue
        if not os.path.isdir(root):
            # os.walk on a missing/remote path yields nothing, so every such
            # input would fingerprint alike and wrongly resume
            raise FileNotFoundError(
                f"input_fingerprint: {root!r} is not a local directory; "
                "for remote/Iceberg inputs pass a snapshot-id fingerprint "
                "(plans.checkpoint.iceberg_fingerprint) instead of a path "
                "listing")
        for dirpath, dirnames, filenames in sorted(os.walk(root)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, name)
                st = os.stat(full)
                rel = os.path.relpath(full, root)
                h.update(f"{rel}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


class SimulatedCrash(RuntimeError):
    """Raised by the ledger's test-only crash hook to model a mid-run kill."""


class Ledger:
    """The resume protocol of one run over ``<out_dir>/_manifest/``;
    ``fail_after`` (tests only) is the crash hook's ``k``."""

    def __init__(self, out_dir: str, fail_after: int | None = None):
        self.dir = os.path.join(out_dir, MANIFEST_DIR)
        os.makedirs(self.dir, exist_ok=True)
        self.fail_after = fail_after
        self.commits = 0

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def valid(self, path: str, expect: dict[str, Any],
              data_dir: str) -> dict[str, Any] | None:
        """The manifest at ``path`` if every ``expect`` field matches and
        ``data_dir`` exists, else ``None``."""
        man = read(path)
        if (man is None or any(man.get(k) != v for k, v in expect.items())
                or not os.path.exists(data_dir)):
            return None
        return man

    def invalidate(self, *paths: str) -> None:
        """Remove ``paths`` and ``job.json``, then fsync the directory if
        anything was removed."""
        removed = 0
        for p in (*paths, self.path("job.json")):
            if os.path.exists(p):
                os.remove(p)
                removed += 1
        if removed:
            _fsync_dir(self.dir)

    def commit(self, path: str, record: dict[str, Any],
               counted: bool = True) -> None:
        """Write ``record`` to ``path`` after its data; a ``counted`` (unit
        or stage) commit passes the crash hook first."""
        if counted:
            if self.fail_after is not None and self.commits >= self.fail_after:
                raise SimulatedCrash(f"injected crash before {path}")
            self.commits += 1
        write_atomic(path, record)

    def summarize(self, paths: list[str], aggregate: Callable) -> dict:
        """Write and return ``job.json``: ``aggregate`` of the committed
        manifests at ``paths``, each of which must exist."""
        mans = [read(p) for p in paths]
        if None in mans:
            raise RuntimeError("manifest missing at summary time: "
                               f"{paths[mans.index(None)]}")
        job = aggregate(mans)
        write_atomic(self.path("job.json"), job)
        return job

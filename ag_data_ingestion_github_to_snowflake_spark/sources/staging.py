"""Scratch paths: every temp dir the package creates lives under one
root, ``{tmp}/spark_graft``, with one of two lifetimes.

- ``staged`` keeps a derived copy of fixture tables (partitioned
  rewrite, streaming source directory, bucketed layout) and reuses it
  across builds and processes. Its one freshness rule: the copy is
  reused iff its ``_staged`` marker is at least as new as every source
  path, and as every file under a source that is a directory. A
  fixture rewritten in place therefore restages on the next build; an
  unchanged one never does. The marker appears atomically (write temp
  + rename) after the build, so an interrupted build is never trusted.
  Two processes staging the same dataset at the same moment are not
  coordinated.
- ``scratch_dir`` is a per-build output that each build rewrites. It is
  unique to the process, so a concurrent process never rewrites it
  under a lazy read, and it is removed when the process exits. A
  process killed before its exit hooks ran leaves its dirs behind; the
  next process to ask for a scratch dir removes them.

Both key the dir by the WHOLE dataset path (``stage_dir``): two roots
ending in ``sf0.01`` never share one. Try/finally temp dirs are made
with ``tempfile.mkdtemp(dir=scratch_root())``.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable


def scratch_root() -> str:
    """``{tmp}/spark_graft``, created on first use. Read per call, so a
    ``TMPDIR`` pinned before the first temp-file call holds it."""
    root = os.path.join(tempfile.gettempdir(), "spark_graft")
    os.makedirs(root, exist_ok=True)
    return root


def stage_dir(prefix: str, sf: str) -> str:
    """Deterministic per-dataset dir: ``{root}/{prefix}_{base}_{h8}``
    where ``h8`` is 8 hex chars of the absolute normalized path — the
    basename keeps it readable, the hash makes it collision-free."""
    norm = os.path.abspath(os.path.normpath(sf))
    h8 = hashlib.sha256(norm.encode()).hexdigest()[:8]
    return os.path.join(scratch_root(), f"{prefix}_{os.path.basename(norm)}_{h8}")


def _write_marker(marker: str) -> None:
    """Write the staleness marker atomically: temp file in the same
    directory, then ``os.replace`` (atomic on POSIX)."""
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(marker), prefix="._marker_"
    )
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write("staged\n")
        os.replace(tmp, marker)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def _newest_mtime(path: str) -> float:
    """mtime of ``path``, or of the newest file under it if it is a dir."""
    newest = os.path.getmtime(path)
    for root, _, files in os.walk(path):
        for name in files:
            newest = max(newest, os.path.getmtime(os.path.join(root, name)))
    return newest


def staged(
    prefix: str, sf: str, sources: Iterable[str], build: Callable[[str], None]
) -> str:
    """Return ``stage_dir(prefix, sf)`` holding a fresh staged copy.

    ``sources`` are the fixture paths (relative to ``sf``) the copy is
    derived from. If the ``_staged`` marker is older than any of them,
    or missing, the stage is emptied, ``build(stage)`` writes the copy
    and the marker is written last. Spark's file sources skip
    ``_``-prefixed files, so the marker never reads as data."""
    stage = stage_dir(prefix, sf)
    marker = os.path.join(stage, "_staged")
    newest = max(_newest_mtime(os.path.join(sf, s)) for s in sources)
    try:
        if os.path.getmtime(marker) >= newest:
            return stage
    except OSError:
        pass  # no marker: never staged, or staging did not finish
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    build(stage)
    _write_marker(marker)
    return stage


_SCRATCH: set[str] = set()


def _prune_dead_scratch() -> None:
    """Remove every ``{root}/*_pid{N}`` dir whose process N is gone."""
    for path in glob.glob(os.path.join(scratch_root(), "*_pid*")):
        pid = path.rpartition("_pid")[2]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user


def scratch_dir(prefix: str, sf: str) -> str:
    """Return an absent path ``{stage_dir(prefix, sf)}_pid{pid}`` for a
    build to write its output to; whatever an earlier build of this
    process left there is removed first. The dir is removed at process
    exit, not by the caller: the returned DataFrame reads it lazily.
    The first call in a process also removes dead processes' dirs."""
    path = f"{stage_dir(prefix, sf)}_pid{os.getpid()}"
    if not _SCRATCH:
        _prune_dead_scratch()
    if path not in _SCRATCH:
        _SCRATCH.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    return path

"""Harness scratch space: the only code that knows where the io and
streaming tiers' staged fixtures and checkpoints live, when a fixture is
restaged, and who deletes it.

Everything lives under one directory per process, ``<base>/spark_graft/<pid>``.
``<base>`` is decided once, on first use: ``/dev/shm`` when it has
``MIN_FREE_BYTES`` free, else ``/tmp``.  tmpfs keeps disk IO out of fixture
choreography that is not the operator under measurement; the gate sends a
small container ``/dev/shm`` (Docker defaults to 64 MB) to ``/tmp`` instead
of failing with ENOSPC.  Pinning the choice means free space crossing the
floor mid-process never restages a fixture or moves a checkpoint.  The
``<pid>`` makes the directory its own ownership record: one ``atexit`` hook
removes it in the process that created it, and in no other.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil

# Floor for choosing /dev/shm.  io03–io05 plus s03–s11 run once in one
# process at sf0.1 leave 36 MB in 565 entries — 2.0x the source parquet
# bytes, 13% of the floor.
MIN_FREE_BYTES = 256 << 20
_BASES = ("/dev/shm", "/tmp")  # preference order; the last is the fallback

_root: str | None = None
_RUN_IDS = itertools.count()
_STAGED: dict[str, tuple | None] = {}


def _base(min_free_bytes: int = MIN_FREE_BYTES) -> str:
    """The first of ``_BASES`` with ``min_free_bytes`` free, else the last."""
    for base in _BASES[:-1]:
        try:
            st = os.statvfs(base)
        except OSError:
            continue
        if st.f_bavail * st.f_frsize >= min_free_bytes:
            return base
    return _BASES[-1]


def _remove(path: str, owner: int) -> None:
    # A forked child inherits the hook; only the creating process deletes.
    if os.getpid() == owner:
        shutil.rmtree(path, ignore_errors=True)


def root() -> str:
    """This process's scratch directory, decided on first use and pinned."""
    global _root
    if _root is None:
        _root = f"{_base()}/spark_graft/{os.getpid()}"
        atexit.register(_remove, _root, os.getpid())
    return _root


def _path(sf_dir: str, leaf: str) -> str:
    return f"{root()}/{os.path.basename(sf_dir.rstrip('/'))}/{leaf}"


def fresh(sf_dir: str, name: str) -> str:
    """A path no earlier call in this process returned — for fixtures whose
    write is the operator under measurement, or that are mutated after
    staging."""
    return _path(sf_dir, f"{name}_{next(_RUN_IDS)}")


def checkpoint(name: str) -> str:
    """Explicit ``checkpointLocation`` for streaming query ``name``.  Spark's
    implicit one lands in java.io.tmpdir (disk)."""
    return f"{root()}/ckpt/{name}"


def _source_fingerprint(sf_dir: str, name: str):
    """Cheap identity of a source table on disk — (file count, total
    bytes, max mtime_ns) over ``<sf_dir>/<name>.parquet`` (file or
    directory), or None when it cannot be read."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            n = total = newest = 0
            for dirpath, _dirs, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(dirpath, f))
                    n += 1
                    total += st.st_size
                    newest = max(newest, st.st_mtime_ns)
            return (n, total, newest)
        st = os.stat(path)
        return (1, st.st_size, st.st_mtime_ns)
    except OSError:
        return None


def stage_once(sf_dir: str, name: str, source: str, write) -> str:
    """Stage a PURE input fixture once per process: a layout that is a
    deterministic function of (sf_dir, source table) is written by the
    first call and reused by later ones, so timed runs measure the operator
    that reads it rather than the fixture write.  The memo is keyed on the
    source table's fingerprint, so a regenerated sf_dir restages instead of
    serving a stale layout.  ``write(path)`` must leave a complete fixture
    at ``path`` (mode="overwrite" writers — safe after an interrupted
    stage)."""
    fp = _source_fingerprint(sf_dir, source)
    path = _path(sf_dir, name)
    if fp is None or _STAGED.get(path) != fp:
        write(path)
        _STAGED[path] = fp
    return path

"""Session staging: inputs a query reads but does not itself compute.

The reference bulk-loads its inputs once, then queries. The engine's
equivalents — a checkpointed shingle frame, a fitted quantizer, a copy of
a table in another format, a catalog table's session view — are built once
per Spark session through one memo, ``@staged(name)``:

- The key is ``(spark, args)``, the SparkSession object the caller passes:
  temp views belong to one session and checkpoint blocks die with their
  application, so another session (``spark.newSession()``, or one after a
  restart) never sees an entry it cannot use. The key costs no JVM call.
- Each entry carries a fingerprint, ``(name, size, mtime_ns)`` of every
  argument that is a path on disk (a file, or each entry of a directory
  and of its subdirectories). A call whose fingerprint differs rebuilds
  and replaces the entry, so a rewritten fixture invalidates itself.
- ``per_session=True`` is for a build whose product is session state
  (temp views): one entry per session, rebuilt and replaced when called
  with other arguments.
- ``REGISTRY`` lists every stager by name with its build and hit counts
  and last build time; ``clear`` evicts one session's entries, or all.

``disk_stage`` is the cross-process counterpart for deterministic input
files.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import json
import os
import shutil
import stat
import tempfile
import time
from collections.abc import Callable

REGISTRY: dict[str, Stager] = {}


def _dir_entries(path: str) -> list:
    """(name, stat) of each entry of a directory and of each entry of its
    subdirectories: a catalog directory's tables may be files or
    directories of part files, and a rewrite of either must show."""
    out = []
    with os.scandir(path) as it:
        for e in it:
            out.append((e.name, e.stat()))
            if e.is_dir():
                with os.scandir(e.path) as sub:
                    out += [(f"{e.name}/{s.name}", s.stat()) for s in sub]
    return out


def _fingerprint(args: tuple) -> tuple:
    """(name, size, mtime_ns) of each argument that is a path on disk."""
    out = []
    for a in args:
        if not isinstance(a, str):
            continue
        try:
            st = os.stat(a)
            if stat.S_ISDIR(st.st_mode):
                entries = _dir_entries(a)
            else:
                entries = [(os.path.basename(a), st)]
        except OSError:  # not a path, or gone: nothing to fingerprint
            continue
        out.append(tuple(sorted((n, s.st_size, s.st_mtime_ns) for n, s in entries)))
    return tuple(out)


class Stager:
    """A memoized ``fn(spark, *args)``; see the module docstring."""

    def __init__(self, name: str, fn: Callable, per_session: bool):
        functools.update_wrapper(self, fn)
        self.name = name
        self.fn = fn
        self.per_session = per_session
        self.memo: dict[tuple, tuple[tuple, object]] = {}
        self.builds = 0
        self.hits = 0
        self.last_build_s: float | None = None

    def __call__(self, spark, *args):
        key = (spark,) if self.per_session else (spark, args)
        stamp = (args, _fingerprint(args)) if self.per_session else _fingerprint(args)
        hit = self.memo.get(key)
        if hit is not None and hit[0] == stamp:
            self.hits += 1
            return hit[1]
        t0 = time.perf_counter()
        value = self.fn(spark, *args)
        self.last_build_s = time.perf_counter() - t0
        self.builds += 1
        self.memo[key] = (stamp, value)
        return value

    @property
    def per_sf(self) -> bool:
        """True for a ``fn(spark, sf_dir)`` stager: one catalog directory in."""
        return list(inspect.signature(self.fn).parameters) == ["spark", "sf_dir"]


def staged(name: str, per_session: bool = False) -> Callable[[Callable], Stager]:
    """Register ``fn(spark, *args)`` as the stager ``name``."""

    def wrap(fn: Callable) -> Stager:
        if name in REGISTRY:
            raise ValueError(f"stager {name!r} is already registered")
        REGISTRY[name] = Stager(name, fn, per_session)
        return REGISTRY[name]

    return wrap


def clear(spark=None) -> int:
    """Evict every stager's entries for one SparkSession, or all of them;
    returns how many were dropped. Dropping the last reference to a
    checkpointed frame lets Spark's ContextCleaner reclaim its blocks."""
    n = 0
    for s in REGISTRY.values():
        for key in [k for k in s.memo if spark is None or k[0] is spark]:
            del s.memo[key]
            n += 1
    return n


def session_tmpdir(prefix: str) -> str:
    """mkdtemp removed at interpreter exit: staged inputs are per-process
    scratch, and without the hook every fresh session leaks a copy."""
    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


# --- cross-process stages ---------------------------------------------------
#
# Deterministic input files (the CNPJ fixture drop and its oracle feed) are
# staged once per machine and user, not once per process: each is a
# directory under a per-user root of mode 0700, published by an atomic
# rename, with a manifest of every file and its size. A stage whose
# manifest is missing, or whose files are missing or resized (a tmp cleaner
# reaped a shard), is rebuilt.

STAGE_ROOT = os.path.join(tempfile.gettempdir(), f"etl_cnpjs-{os.getuid()}")
_MANIFEST = "_MANIFEST.json"


def _private_root() -> None:
    """Create STAGE_ROOT as a 0700 directory of this user, or refuse it."""
    os.makedirs(STAGE_ROOT, mode=0o700, exist_ok=True)
    st = os.lstat(STAGE_ROOT)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
        raise PermissionError(f"{STAGE_ROOT} is not a directory owned by uid {os.getuid()}")
    if stat.S_IMODE(st.st_mode) != 0o700:
        os.chmod(STAGE_ROOT, 0o700)


def _read_manifest(dest: str) -> dict | None:
    """The stage's manifest, if every file it lists is there at its size."""
    try:
        with open(os.path.join(dest, _MANIFEST)) as f:
            manifest = json.load(f)
        sizes_ok = all(
            os.path.getsize(os.path.join(dest, rel)) == size
            for rel, size in manifest["files"].items()
        )
        return manifest if sizes_ok and "meta" in manifest else None
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return None


def disk_stage(dest: str, build: Callable[[str], object]) -> tuple[str, object]:
    """Stage ``build(work_dir)``'s files at ``dest``, a path under
    STAGE_ROOT, once across processes; returns (dest, the JSON value build
    returned, kept in the manifest). ``build`` must be deterministic:
    concurrent processes race, and the loser serves the winner's files."""
    _private_root()
    manifest = _read_manifest(dest)
    if manifest is None:
        parent = os.path.dirname(dest)
        os.makedirs(parent, mode=0o700, exist_ok=True)
        work = tempfile.mkdtemp(prefix=".build-", dir=parent)
        try:
            files = {}
            manifest = {"files": files, "meta": build(work)}
            for d, _, fs in os.walk(work):
                for f in fs:
                    path = os.path.join(d, f)
                    files[os.path.relpath(path, work)] = os.path.getsize(path)
            with open(os.path.join(work, _MANIFEST), "w") as f:
                json.dump(manifest, f)
            if _read_manifest(dest) is None:  # absent or stale: clear it
                shutil.rmtree(dest, ignore_errors=True)
            os.rename(work, dest)
        except BaseException as exc:
            shutil.rmtree(work, ignore_errors=True)
            # a rename that lost to a concurrent process serves its stage
            manifest = _read_manifest(dest) if isinstance(exc, OSError) else None
            if manifest is None:
                raise
    return dest, manifest["meta"]

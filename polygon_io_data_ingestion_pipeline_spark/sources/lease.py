"""Maintenance lease: TTL'd mutual exclusion for plain-parquet lakes.

A plain parquet lake has no commit ledger, so two concurrent
copy-on-write maintainers can silently lose rows: each captures a file
listing at read time, and whichever partition rewrite lands last
replaces the partition from its STALE snapshot — the other
writer's rows vanish without an error (proven in
tests/test_lake_lease.py).  Table formats solve this with optimistic
commit protocols; for this lake the maintenance operations
(:func:`~..sources.lake.compact_lake`, ``delete_from_lake``,
``merge_into_lake``) and the streaming sinks serialize instead behind
one coarse lease — maintenance is rare and partition-granular, so a
single writer at a time costs nothing at 100 TB while removing the
lost-update race entirely.

Mechanics — scheme-portable (file://, hdfs://, s3a:// with a
consistent store) because everything goes through the Hadoop
FileSystem API:

- acquire = atomic ``create(path, overwrite=False)`` of
  ``<lake>/_maintenance.lock`` (underscore-prefixed: invisible to
  Spark's readers).  The payload records holder + a random token.
- a crashed holder cannot deadlock the lake: a lock older than
  ``ttl_sec`` (by the filesystem's own modification time — no clock
  agreement between holders needed) is broken and re-acquired.  Live
  holders must finish within the TTL; pick ``ttl_sec`` above the
  longest expected maintenance run.
- release deletes the lock only if it still carries OUR token — a
  holder whose expired lease was broken must not delete the new
  owner's lock.
"""

from __future__ import annotations

import json
import time
import uuid

LOCK_NAME = "_maintenance.lock"


class LeaseHeldError(RuntimeError):
    """The lake's maintenance lease is held by another live writer."""


class LakeLease:
    """Context manager serializing read-modify-write lake maintenance.

    >>> with LakeLease(spark, lake_path, holder="compactor"):
    ...     # exclusive: no other leased maintainer or sink can interleave
    """

    def __init__(
        self,
        spark,
        lake_path: str,
        holder: str = "maintenance",
        ttl_sec: float = 600.0,
        timeout_sec: float = 60.0,
        poll_sec: float = 0.25,
        lock_path: str | None = None,
    ) -> None:
        self._spark = spark
        self._holder = holder
        self._ttl_sec = float(ttl_sec)
        self._timeout_sec = float(timeout_sec)
        self._poll_sec = float(poll_sec)
        self._token = uuid.uuid4().hex
        # default: inside the lake (underscore file, invisible to scans).
        # Operations that REPLACE the whole directory (IVF rebalance
        # swap) must pass a lock_path OUTSIDE it, or deleting the dir
        # would free the lease mid-swap and let a waiter recreate the
        # directory under the rename.
        self._lock_path = lock_path or (lake_path.rstrip("/") + "/" + LOCK_NAME)
        self._held = False

    # -- Hadoop FS plumbing -------------------------------------------------
    def _fs_and_path(self):
        jpath = self._spark._jvm.org.apache.hadoop.fs.Path(self._lock_path)
        fs = jpath.getFileSystem(self._spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _local_path(self) -> str | None:
        """The POSIX path when the lock lives on the local filesystem,
        else None. Matters for atomicity: Hadoop's LOCAL create(...,
        overwrite=False) is exists-check-then-open — two contending
        threads can both pass the check and both believe they hold the
        lease (caught by the contention stress test). POSIX
        O_CREAT|O_EXCL is genuinely atomic, so local locks go through
        it; on HDFS-like stores create IS an atomic namespace op and
        the Hadoop path is correct."""
        if "://" not in self._lock_path:
            return self._lock_path
        if self._lock_path.startswith("file:"):
            jpath = self._spark._jvm.org.apache.hadoop.fs.Path(self._lock_path)
            return jpath.toUri().getPath()
        return None

    def _try_create(self) -> bool:
        payload = json.dumps(
            {"holder": self._holder, "token": self._token, "ttl_sec": self._ttl_sec}
        ).encode()
        local = self._local_path()
        if local is not None:
            import os as _os

            _os.makedirs(_os.path.dirname(local) or ".", exist_ok=True)
            try:
                fd = _os.open(local, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
            except FileExistsError:
                return False
            except OSError:
                return False
            try:
                _os.write(fd, payload)
            finally:
                _os.close(fd)
            return True
        fs, jpath = self._fs_and_path()
        try:
            out = fs.create(jpath, False)  # atomic on HDFS-like stores
        except Exception:  # FileAlreadyExistsException via py4j
            return False
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        return True

    def _read_payload(self) -> dict | None:
        local = self._local_path()
        if local is not None:
            # local fast path: the acquire loop polls age+payload every
            # poll_sec across many contending threads; keeping those
            # reads off the py4j gateway avoids starving a waiter
            # behind other threads' JVM round-trips
            try:
                with open(local, "rb") as fh:
                    buf = fh.read()
            except OSError:
                return None
            try:
                return json.loads(buf.decode())
            except ValueError:
                return {}
        fs, jpath = self._fs_and_path()
        try:
            stream = fs.open(jpath)
        except Exception:
            return None  # vanished between exists-check and open
        try:
            try:
                # one py4j call for the whole payload (commons-io ships
                # on the Spark classpath)
                buf = bytes(
                    self._spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                )
            except Exception:
                # fallback: byte-at-a-time (tiny payloads, ~100 bytes)
                acc = bytearray()
                for _ in range(4096):
                    b = stream.read()
                    if b < 0:
                        break
                    acc.append(b)
                buf = bytes(acc)
        finally:
            stream.close()
        try:
            return json.loads(bytes(buf).decode())
        except ValueError:
            return {}

    def _age_sec(self, path: str | None = None) -> float | None:
        target = path if path is not None else self._lock_path
        if self._local_path() is not None:
            import os as _os

            try:
                mtime = _os.path.getmtime(self._loc(target))
            except OSError:
                return None
            return max(0.0, time.time() - mtime)
        jpath = self._spark._jvm.org.apache.hadoop.fs.Path(target)
        fs = jpath.getFileSystem(self._spark._jsc.hadoopConfiguration())
        try:
            st = fs.getFileStatus(jpath)
        except Exception:
            return None
        return max(0.0, time.time() - st.getModificationTime() / 1000.0)

    def _loc(self, p: str) -> str:
        """Local POSIX form of a path (same derivation as _local_path)."""
        if "://" not in p:
            return p
        jp = self._spark._jvm.org.apache.hadoop.fs.Path(p)
        return jp.toUri().getPath()

    def _hadoop_rename(self, src: str, dst: str) -> bool:
        fs, _ = self._fs_and_path()
        jsrc = self._spark._jvm.org.apache.hadoop.fs.Path(src)
        jdst = self._spark._jvm.org.apache.hadoop.fs.Path(dst)
        try:
            return bool(fs.rename(jsrc, jdst))  # fails rather than overwrite
        except Exception:
            return False

    def _capture(self, src: str, dst: str) -> bool:
        """Atomically move the SHARED file at ``src`` to our private
        unique name ``dst``; False when lost (src vanished first).  The
        single-winner primitive of the break protocol: for one file
        instance at ``src`` exactly one concurrent renamer succeeds.
        Locally this must be one ``os.rename`` call — a link+unlink pair
        is NOT atomic: a stalled breaker's late unlink would delete
        whatever instance lives at ``src`` by then, exactly the
        delete-wrong-instance bug this protocol removes.  ``dst`` is
        token-unique so rename-clobber semantics never matter.
        Preserves mtime, so expiry is re-verifiable on the capture."""
        local = self._local_path()
        if local is not None:
            import os as _os

            try:
                _os.rename(self._loc(src), self._loc(dst))
            except OSError:
                return False
            return True
        return self._hadoop_rename(src, dst)

    def _restore(self, src: str, dst: str) -> bool:
        """NON-clobbering move of our PRIVATE file ``src`` back to the
        shared path ``dst``; False when dst is occupied.  Locally this
        is link (atomic, fails on existing dst) + unlink — safe here
        because only we reference ``src``, unlike the capture
        direction.  Plain os.rename would silently REPLACE a waiter's
        fresh lock at ``dst``."""
        local = self._local_path()
        if local is not None:
            import os as _os

            try:
                _os.link(self._loc(src), self._loc(dst))
            except OSError:
                return False
            try:
                _os.unlink(self._loc(src))
            except OSError:
                pass
            return True
        return self._hadoop_rename(src, dst)

    def _delete(self, path: str) -> None:
        if self._local_path() is not None:
            import os as _os

            try:
                _os.remove(self._loc(path))
            except OSError:
                pass
            return
        jpath = self._spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self._spark._jsc.hadoopConfiguration())
        try:
            fs.delete(jpath, False)
        except Exception:
            pass

    def _try_create_at(self, path: str, payload: bytes) -> bool:
        """Atomic exclusive create of an arbitrary sibling file (same
        primitive as :meth:`_try_create`, parameterized for the breaker
        sub-lock)."""
        if self._local_path() is not None:
            import os as _os

            lp = self._loc(path)
            try:
                fd = _os.open(lp, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
            except OSError:
                return False
            try:
                _os.write(fd, payload)
            finally:
                _os.close(fd)
            return True
        jpath = self._spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self._spark._jsc.hadoopConfiguration())
        try:
            out = fs.create(jpath, False)
        except Exception:
            return False
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        return True

    def _read_payload_at(self, path: str) -> dict | None:
        saved = self._lock_path
        try:
            self._lock_path = path
            return self._read_payload()
        finally:
            self._lock_path = saved

    # -- lease protocol ------------------------------------------------------
    def acquire(self) -> "LakeLease":
        deadline = time.time() + self._timeout_sec
        while True:
            if self._try_create():
                self._held = True
                return self
            # the deadline bounds EVERY retry path — including create
            # failing for a non-exists reason (permissions, fs outage),
            # where the lock file never appears and age stays None
            if time.time() >= deadline:
                current = self._read_payload() or {}
                raise LeaseHeldError(
                    f"could not acquire maintenance lease on {self._lock_path} "
                    f"within {self._timeout_sec:.0f}s (held by "
                    f"{current.get('holder', '?')})"
                )
            age = self._age_sec()
            if age is None:
                time.sleep(self._poll_sec)  # just released, or create errors
                continue
            current = self._read_payload() or {}
            ttl = float(current.get("ttl_sec", self._ttl_sec))
            if age > ttl:
                if not self._break_expired(ttl):
                    # lost the breaker mutex (or the observation went
                    # stale): another waiter is doing the work — wait
                    # like every other retry path instead of spinning
                    # stat/create calls against the store for its whole
                    # critical section
                    time.sleep(self._poll_sec)
                continue
            time.sleep(self._poll_sec)

    def _break_expired(self, observed_ttl: float) -> bool:
        """Single-winner break of an expired lock instance.

        A bare delete-then-create is racy: two waiters that both observe
        the expired lock can interleave so waiter B's delete removes
        waiter A's FRESHLY CREATED lock, after which both hold the
        "exclusive" lease.  Instead the breaker first atomically RENAMES
        the lock to a unique per-breaker name — for any one file
        instance exactly one renamer wins — and only the winner deletes
        it and proceeds to the normal create race.  Rename preserves
        mtime, so the winner re-verifies expiry on the instance it
        actually captured: if the captured instance is NOT expired (the
        near-impossible case where another breaker completed a full
        break+delete+create between our stat and our rename), it is a
        freshly created lock stolen from its rightful holder and is
        atomically restored (non-clobbering, so a waiter's new lock is
        never overwritten).  The residual window — a waiter creating at
        the bare path inside the microseconds our restore is in flight —
        requires two nested sub-millisecond races where the old code
        failed on one TTL-wide race; on restore failure we poll-retry
        within our own deadline and otherwise leave the captured file in
        place as evidence rather than delete a live holder's lease.

        The rename is additionally guarded by a BREAKER MUTEX (a short-
        TTL sibling sub-lock): breaking serializes, and the expiry check
        is REDONE while holding the mutex, so a breaker never acts on a
        stale observation.  Without it, a breaker preempted for a few
        milliseconds between its age check and its rename can capture a
        successor's fresh lock — and while it holds that capture the
        bare path is momentarily empty, letting a waiter create and
        violate mutual exclusion before any restore can land (observed
        in the contention stress test).  With the mutex, capturing a
        fresh lock requires a breaker that crashed INSIDE the mutex
        plus a holder that exceeded its TTL — and the capture-verify-
        restore path still backstops even that."""
        breaker = self._lock_path + ".breaker"
        break_ttl = 10.0
        b_age = self._age_sec(breaker)
        if b_age is not None and b_age > break_ttl:
            # a breaker crashed inside the mutex: clear it.  A bare
            # delete suffices at THIS level — if two waiters both clear
            # and both enter, the single-winner rename below still
            # admits only one capture per lock instance.
            self._delete(breaker)
        payload = json.dumps({"holder": self._holder, "token": self._token}).encode()
        if not self._try_create_at(breaker, payload):
            return False  # another breaker is at work; re-observe next loop
        try:
            age = self._age_sec()
            current = self._read_payload() or {}
            ttl = float(current.get("ttl_sec", observed_ttl))
            if age is None or age <= ttl:
                return False  # stale observation: the lock is gone or fresh
            trophy = self._lock_path + ".break-" + self._token
            if not self._capture(self._lock_path, trophy):
                # holder released in the window — the bare path is free,
                # so an immediate create retry is worthwhile
                return True
            self._finish_break(trophy, ttl)
            return True
        finally:
            self._delete(breaker)

    def _finish_break(self, trophy: str, observed_ttl: float) -> None:
        """Verify-and-drop (or restore) a captured lock instance —
        rename preserves mtime, so the captured file re-verifies on its
        own evidence."""
        t_age = self._age_sec(trophy)
        t_payload = self._read_payload_at(trophy) or {}
        t_ttl = float(t_payload.get("ttl_sec", observed_ttl))
        if t_age is None or t_age > t_ttl:
            # captured a genuinely expired instance: its holder is
            # contractually dead (must finish within TTL) — safe to drop
            self._delete(trophy)
            return
        # captured a FRESH lock: restore it to its holder
        deadline = time.time() + self._timeout_sec
        while not self._restore(trophy, self._lock_path):
            t_age = self._age_sec(trophy)
            if t_age is None:
                return  # trophy gone: restore actually landed / cleaned up
            if t_age > t_ttl:
                # the captured lease expired while we waited to give it
                # back: its holder is contractually done — drop it
                # instead of reinserting a zombie lock
                self._delete(trophy)
                return
            if time.time() >= deadline:
                return  # leave trophy as evidence; never delete a live lease
            time.sleep(self._poll_sec)

    def release(self) -> None:
        """Delete the lock only if it is still OURS — via the same
        rename-fencing as the break path.  A read-token-then-delete has
        a TOCTOU hole: between reading our own token and deleting, an
        expired lease can be broken and a new holder's lock created,
        and the bare delete would destroy the new holder's lease.
        Renaming first captures one instance atomically; we delete it
        only when it carries our token, else restore it untouched."""
        if not self._held:
            return
        self._held = False
        pre = self._read_payload()
        if pre is not None and pre.get("token") not in (None, self._token):
            return  # lease expired and was taken over: not ours to touch
        trophy = self._lock_path + ".rel-" + self._token
        if not self._capture(self._lock_path, trophy):
            return  # lock already broken/taken and possibly released
        payload = self._read_payload_at(trophy) or {}
        # Delete ONLY on a positive token match.  An unreadable payload
        # (transient read failure, partial write) yields token None —
        # treating that as "ours" would delete a successor's live lease
        # we just captured, the exact mutual-exclusion violation the
        # rename-fencing rewrite exists to prevent.  When in doubt,
        # restore: worst case we reinsert our own expired lock, which
        # the next acquirer breaks normally.
        if payload.get("token") == self._token:
            self._delete(trophy)
            return
        # not ours / unreadable (lease expired + taken over): give it back
        ttl = float(payload.get("ttl_sec", self._ttl_sec))
        deadline = time.time() + self._timeout_sec
        while not self._restore(trophy, self._lock_path):
            t_age = self._age_sec(trophy)
            if t_age is None:
                return
            if t_age > ttl:
                self._delete(trophy)  # expired while waiting: drop, not zombie
                return
            if time.time() >= deadline:
                return  # leave as evidence; never delete another's lease
            time.sleep(self._poll_sec)

    def __enter__(self) -> "LakeLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()

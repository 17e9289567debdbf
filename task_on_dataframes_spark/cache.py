"""Plan-keyed result cache — the reference's memoized async execution
(M10: serve.py:38-107) rebuilt on parquet.

The reference keys a pickle file by ``mmh3.hash(url_query)`` and a
Celery worker re-executes the whole pipeline on a miss. Here the key is
the md5 of the canonical plan serialization, the payload is a parquet
directory (columnar, splittable, reloadable by ANY Spark cluster), and
"async" is simply: the write is a Spark job. A sentinel
``_IN_PROGRESS`` marker plays the role of the reference's
datetime-in-pickle in-flight state.

A miss runs the plan exactly once, in the parquet write; :meth:`store`
and :meth:`load` both return the frame read back from the written
files, so later actions scan the result, never the lineage. Each cache
instance keeps one read handle per key — the frame plus its row count,
summed from the part-file footers on the driver (:meth:`rows`) — and
trusts it only while the key's ``_SUCCESS`` file is unchanged. A hit
on a handle therefore costs no Spark job of its own: the caller's page
collect is the only one. Concurrent :meth:`get_or_compute` calls for
one key share one write: the first caller computes, the others wait
for it and then load.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import threading
import traceback
from collections import OrderedDict
from concurrent.futures import Future, ThreadPoolExecutor, wait
from typing import List, NamedTuple, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from .plans.solve import Action


def plan_key(actions: List[Action], goal: List[str]) -> str:
    """Stable digest of a plan: task names, bindings, returns, goal."""
    payload = json.dumps(
        {
            "goal": sorted(goal),
            "actions": [
                {
                    "task": a.Task,
                    "bindings": [
                        [b.frame, b.column, b.arg, repr(b.var), b.req_index]
                        for b in a.Bindings
                    ],
                    "returns": [[p if p is not None else -1, n] for p, n in a.Returns],
                }
                for a in actions
            ],
        },
        sort_keys=True,
    )
    return hashlib.md5(payload.encode()).hexdigest()


#: read handles one cache instance keeps, least recently used dropped
#: first; each pins a DataFrame and its JVM file index
_MAX_HANDLES = 256


def _footer_rows(d: str) -> Optional[int]:
    """Rows in the parquet directory ``d``, summed from the footers of
    the files Spark reads (names starting with ``_`` or ``.``, such as
    ``_SUCCESS`` and ``.crc`` checksums, are skipped like Spark skips
    them). Metadata only: no Spark job, no data pages read. ``None``
    when any footer cannot be read (no pyarrow, a foreign file, a
    directory deleted meanwhile); the caller then counts through Spark,
    as ``registry.common._scan_parts`` degrades on the same failures."""
    try:
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )
    except Exception:
        return None


class _Handle(NamedTuple):
    """One read of a cached result, valid while the key's ``_SUCCESS``
    keeps ``stamp``. ``rows`` is ``None`` until counted when the footers
    could not be read."""

    stamp: Tuple[int, int, int]
    frame: DataFrame
    rows: Optional[int]


class ResultCache:
    def __init__(self, root: Optional[str] = None, max_workers: int = 4):
        self.root = root or os.path.join(tempfile.gettempdir(), "tada_spark_cache")
        os.makedirs(self.root, exist_ok=True)
        # background materialization: the reference hands the plan to a
        # Celery worker and polls a pickle marker (serve.py:47-107);
        # here a driver-side thread pool submits the Spark write job —
        # Spark job submission is thread-safe on one SparkSession, and
        # executors parallelize the work regardless of which driver
        # thread launched it.
        self._pool = ThreadPoolExecutor(
            max_workers=max_workers, thread_name_prefix="tada-cache"
        )
        self._futures: dict = {}
        # key -> _Handle, filled by store and the first load, at most
        # _MAX_HANDLES of them; guarded by _lock because the pool's _run
        # threads store while request threads load
        self._handles: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def _dir(self, key: str) -> str:
        return os.path.join(self.root, key)

    def status(self, key: str) -> str:
        """'done' | 'in_progress' | 'error' | 'missing'
        (reference: serve.py:81-107)."""
        with self._lock:
            fut = self._futures.get(key)
        if fut is not None and not fut.done():
            # a live future outranks the filesystem: parquet overwrite
            # clears the directory (markers included) mid-write
            return "in_progress"
        return self.status_fs_unlocked(key)

    def error(self, key: str) -> Optional[str]:
        """Traceback text of a failed background materialization."""
        p = os.path.join(self.root, f"{key}._ERROR")
        if os.path.exists(p):
            with open(p) as fh:
                return fh.read()
        return None

    def submit(self, key: str, compute) -> str:
        """Kick off background materialization of ``compute()`` under
        ``key`` unless it is already done/in flight; returns the status
        AFTER the submit ('in_progress' on a fresh submit). The caller
        polls :meth:`status` — the reference's wait-page loop
        (serve.py:81-93)."""
        with self._lock:
            fut = self._futures.get(key)
            if fut is not None and not fut.done():
                return "in_progress"
            st = self.status_fs_unlocked(key)
            if st in ("done", "error"):
                return st
            d = self._dir(key)
            os.makedirs(d, exist_ok=True)
            open(os.path.join(d, "_IN_PROGRESS"), "w").close()
            self._futures[key] = self._pool.submit(self._run, key, compute)
        return "in_progress"

    def status_fs_unlocked(self, key: str) -> str:
        d = self._dir(key)
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            return "done"
        if os.path.exists(os.path.join(self.root, f"{key}._ERROR")):
            return "error"
        if os.path.exists(os.path.join(d, "_IN_PROGRESS")):
            return "in_progress"
        return "missing"

    def _run(self, key: str, compute) -> None:
        try:
            self.store(compute(), key)
        except Exception:
            with open(os.path.join(self.root, f"{key}._ERROR"), "w") as fh:
                fh.write(traceback.format_exc())
            shutil.rmtree(self._dir(key), ignore_errors=True)

    def _stamp(self, key: str) -> Optional[Tuple[int, int, int]]:
        """``(inode, mtime_ns, size)`` of the key's ``_SUCCESS``, or
        ``None`` if it is missing. A rewrite of the directory by any
        cache instance on this root recreates the file, so the inode
        changes even where the mtime clock is too coarse to tell."""
        try:
            st = os.stat(os.path.join(self._dir(key), "_SUCCESS"))
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_mtime_ns, st.st_size

    def _handle(self, key: str, stamp) -> Optional[_Handle]:
        """The kept handle for ``key`` if it matches ``stamp``; a stale
        one is dropped."""
        with self._lock:
            handle = self._handles.get(key)
            if handle is None:
                return None
            if stamp is None or handle.stamp != stamp:
                del self._handles[key]
                return None
            self._handles.move_to_end(key)
            return handle

    def _keep(self, key: str, handle: _Handle) -> _Handle:
        with self._lock:
            self._handles[key] = handle
            self._handles.move_to_end(key)
            while len(self._handles) > _MAX_HANDLES:
                self._handles.popitem(last=False)
        return handle

    def _read(self, key: str, stamp, frame: DataFrame) -> _Handle:
        """Keep ``frame``, read from the key's parquet, as its handle
        for ``stamp``."""
        return self._keep(
            key, _Handle(stamp, frame, _footer_rows(self._dir(key)))
        )

    def load(self, spark: SparkSession, key: str) -> Optional[DataFrame]:
        """The cached result as a frame over its parquet files, or
        ``None`` unless the key is done. The files are read once per
        ``_SUCCESS`` stamp; later loads return the kept frame."""
        stamp = self._stamp(key) if self.status(key) == "done" else None
        handle = self._handle(key, stamp)  # drops a missing or stale one
        if stamp is None:
            return None
        if handle is None:
            handle = self._read(key, stamp, spark.read.parquet(self._dir(key)))
        return handle.frame

    def rows(self, key: str) -> Optional[int]:
        """Row count of the cached result, or ``None`` if the key has no
        result on disk. Free after :meth:`load` or :meth:`store` on this
        instance: the handle holds it. Otherwise it is summed from the
        part-file footers, which is also ``None`` if they cannot be
        read."""
        stamp = self._stamp(key)
        handle = self._handle(key, stamp)
        if handle is None:
            return None if stamp is None else _footer_rows(self._dir(key))
        if handle.rows is None:  # footers unreadable: count once in Spark
            handle = self._keep(
                key, handle._replace(rows=handle.frame.count())
            )
        return handle.rows

    def store(self, df: DataFrame, key: str) -> DataFrame:
        """Materialize ``df`` under ``key`` (its one execution) and
        return the frame read back from the written files."""
        d = self._dir(key)
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_IN_PROGRESS"), "w").close()
        df.write.mode("overwrite").parquet(d)
        # parquet overwrite clears the marker file with the directory;
        # ensure it is gone even if the write path changes
        p = os.path.join(d, "_IN_PROGRESS")
        if os.path.exists(p):
            os.remove(p)
        # the schema is known, so the read-back infers none (no job)
        frame = df.sparkSession.read.schema(df.schema).parquet(d)
        return self._read(key, self._stamp(key), frame).frame

    def get_or_compute(
        self, spark: SparkSession, key: str, compute
    ) -> DataFrame:
        """The cached result, computed and stored on a miss. While one
        call computes a key, other calls for it wait and then load:
        a second overwrite would delete the files the first call's
        frame reads."""
        while True:
            hit = self.load(spark, key)
            if hit is not None:
                return hit
            with self._lock:
                fut = self._futures.get(key)
                leader = fut is None or fut.done()
                if leader:
                    fut = self._futures[key] = Future()
            if not leader:
                # the other computation may fail; then this call leads
                wait([fut])
                continue
            try:
                return self.store(compute(), key)
            finally:
                with self._lock:
                    if self._futures.get(key) is fut:
                        del self._futures[key]
                fut.set_result(None)

    def invalidate(self, key: str) -> None:
        shutil.rmtree(self._dir(key), ignore_errors=True)
        err = os.path.join(self.root, f"{key}._ERROR")
        if os.path.exists(err):
            os.remove(err)
        with self._lock:
            self._futures.pop(key, None)
            self._handles.pop(key, None)

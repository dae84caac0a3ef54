"""Batch high-watermark checkpointing and the single-writer lease
(reference ST2: src/checkpoint_manager.py — resumable progress as JSON).

The reference tracks ``last_processed_index`` and skips re-enumeration
on resume (can_resume :96-98, get_resume_info :100-108). The batch
engine analog: persist the max committed sequence value; the next run
filters ``seq > watermark`` — a pushed-down range predicate, so resume
cost scales with NEW data only. Structured Streaming's
checkpointLocation (streaming/jobs.py) is the streaming counterpart.
Both runners hold the lease for a whole run (``lease()``)."""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import tempfile
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CheckpointLeaseError(RuntimeError):
    """Another live run holds this checkpoint's lease.

    The reference assumes exactly one process per queue/checkpoint
    (src/queue_manager.py:34-50, src/checkpoint_manager.py:39-47), so
    two runs there silently double-process the queue or interleave
    watermark commits; here the second concurrent runner fails fast."""


@dataclass
class CheckpointState:
    """Reference checkpoint record shape (src/checkpoint_manager.py:9-17),
    minus wall-clock fields that would break determinism in tests."""

    watermark: int = -1
    total_processed: int = 0
    runs: int = 0
    status: str = "idle"


class HighWatermarkCheckpoint:
    def __init__(self, path: str) -> None:
        self.path = path
        self._lock_fd: int | None = None

    # Single-writer lease: an exclusive flock(2) on the lock file, held
    # by one open file description until release(). The kernel drops it
    # when the holder closes the fd or dies, so a crashed run leaves
    # nothing to reap and no pid is ever read. Each acquire() opens its
    # own description, so two threads of one driver fence each other.
    # The file is never unlinked: a contender could then lock the old
    # inode while a third run creates and locks a new one.

    @property
    def lock_path(self) -> str:
        return self.path + ".lock"

    def acquire(self) -> None:
        """Take the lease or raise CheckpointLeaseError, never wait: a
        runner queued behind another on one checkpoint is operator error."""
        os.makedirs(os.path.dirname(self.lock_path) or ".", exist_ok=True)
        fd = os.open(self.lock_path, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError as e:
            os.close(fd)
            if isinstance(e, BlockingIOError):
                raise CheckpointLeaseError(
                    f"checkpoint {self.path} is leased by a live run "
                    f"(lock {self.lock_path})"
                ) from None
            raise
        self._lock_fd = fd

    def release(self) -> None:
        fd, self._lock_fd = self._lock_fd, None
        if fd is not None:
            os.close(fd)

    @contextlib.contextmanager
    def lease(self):
        self.acquire()
        try:
            yield self
        finally:
            self.release()

    def load(self) -> CheckpointState:
        if not os.path.exists(self.path):
            return CheckpointState()
        with open(self.path, encoding="utf-8") as f:
            return CheckpointState(**json.load(f))

    def save(self, state: CheckpointState) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump(asdict(state), f)
            os.replace(tmp, self.path)  # atomic commit
        except BaseException:
            os.unlink(tmp)  # a failed write (e.g. ENOSPC) leaves no stray
            raise

    def incremental(self, df: DataFrame, seq_col: str) -> DataFrame:
        """Rows newer than the committed watermark (pushdown-friendly)."""
        return df.filter(F.col(seq_col) > self.load().watermark)

    def commit_values(
        self,
        watermark: int | None,
        n_disposed: int,
        n_processed: int | None = None,
    ) -> CheckpointState:
        """Advance the watermark from PRECOMPUTED aggregates: the
        caller's sink jobs already saw every row (Observation on a
        DataFrame write, or the JSON sink's per-partition max), so no
        extra scan of the source runs. Call AFTER the sink write
        succeeds (at-least-once + idempotent sink ≡ the reference's
        overwrite=True story, ST3).

        ``watermark`` is max(seq) over EVERYTHING the run disposed of —
        successes AND dead-lettered rows (the reference's mark_failed
        also advances past failures, src/checkpoint_manager.py);
        otherwise a failed row above the max success id would be
        re-selected and re-dead-lettered on every later run. It is None
        when the batch was empty; ``n_disposed`` gates the advance.
        ``n_processed`` overrides the amount added to
        ``total_processed`` (e.g. count only sink-written rows while the
        watermark still covers the dead-lettered ones — total_processed
        seeds the consecutive output-file numbering, L3)."""
        state = self.load()
        if n_disposed and watermark is not None:
            state.watermark = int(watermark)
            state.total_processed += int(
                n_disposed if n_processed is None else n_processed
            )
        state.runs += 1
        state.status = "processing"
        self.save(state)
        return state

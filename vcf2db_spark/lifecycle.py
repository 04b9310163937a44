"""Scratch space and release-on-next-call resource lifecycle.

Scratch root: every file the package writes for its own use — format
round trips, lakehouse tables, stream checkpoints and upsert state, the
gemini cohort, the fingerprint store, staged stream sources, the worker
package zip — lives under ONE per-process directory,
``tempfile.mkdtemp(prefix="vcf2db-")``. It is created on first use, so
it honours ``TMPDIR`` (and ``tempfile.tempdir``), and it is removed at
interpreter exit after every ``Lifecycle`` has been released. Nothing
is cached across processes, so nothing can be read stale or leak past
the process. Executors write and read these directories too, so the
root must be on a filesystem they share with the driver (local mode).

Lifecycle: several declared queries return DataFrames whose plans
lazily read resources created during the call — persisted
intermediates (anomaly_mad, curate), scratch directories holding
written files (orc_roundtrip, compact_files, streaming upserts). The
resource must OUTLIVE the call (the caller hasn't executed the plan
yet), but a bench/driver sweep calls the same query hundreds of times
per session, so resources must not accumulate. Contract: each operator
owns one ``Lifecycle``; a new call releases the previous call's
holdings first (``fresh_dir`` does this for directories), so at most
one generation is ever live. Consume (collect/write) each returned
DataFrame before invoking the same operator again.

Thread-safe: the holdings list swap happens under a lock, so two
threads racing the same operator cannot double-release or leak a
generation (the release callbacks themselves are idempotent —
``unpersist`` and ``rmtree(ignore_errors=True)``).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import weakref
from collections.abc import Callable

#: every Lifecycle registers here so interpreter exit releases the LAST
#: generation too — release-on-next-call cannot fire after the final
#: call of a process
_REGISTRY: list[weakref.ref] = []
_ROOT: str | None = None
_ROOT_LOCK = threading.Lock()


def scratch_root() -> str:
    """The per-process scratch root, created on first use."""
    global _ROOT
    with _ROOT_LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="vcf2db-")
        return _ROOT


def scratch_dir(tag: str) -> str:
    """A new empty directory ``<scratch root>/<tag>-<random>`` that lives
    until the process exits (a ``Lifecycle`` releases it sooner)."""
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=scratch_root())


def _release_all_at_exit() -> None:
    for ref in _REGISTRY:
        lc = ref()
        if lc is not None:
            lc.release()
    if _ROOT is not None:
        shutil.rmtree(_ROOT, ignore_errors=True)


atexit.register(_release_all_at_exit)


class Lifecycle:
    """Holds release callbacks for the most recent call of one operator."""

    def __init__(self) -> None:
        self._held: list[Callable[[], None]] = []
        self._lock = threading.Lock()
        self.dirs: list[str] = []  # introspection (tests): held dir paths
        _REGISTRY.append(weakref.ref(self))

    def release(self) -> None:
        """Release everything held from the previous call (idempotent)."""
        with self._lock:
            held, self._held = self._held, []
            self.dirs = []
        for fn in reversed(held):
            try:
                fn()
            except Exception:
                pass  # session stopped / dir already gone

    def hold(self, fn: Callable[[], None]) -> None:
        with self._lock:
            self._held.append(fn)

    def hold_df(self, df):
        """Track a persisted DataFrame; returns it for chaining."""
        self.hold(df.unpersist)
        return df

    def hold_dir(self, path: str) -> str:
        """Track a scratch directory; returns the path for chaining."""
        self.hold(lambda: shutil.rmtree(path, ignore_errors=True))
        with self._lock:
            self.dirs.append(path)
        return path

    def fresh_dir(self, tag: str) -> str:
        """Release the previous generation, then hold and return a new
        ``scratch_dir(tag)``."""
        self.release()
        return self.hold_dir(scratch_dir(tag))

"""glibc allocator tuning for allocation-heavy numeric paths.

Measured pathology (r13 optimization round, guide §5): on the bench
VM, first-touch page faults on freshly mmap'd memory run at ~8 MB/s
(a 32 MB numpy temporary pays ~4 s before any arithmetic happens).
glibc's default M_MMAP_THRESHOLD (128 KB, dynamic) routes every large
allocation through a fresh ``mmap`` and every free through ``munmap``,
so the SAME buffer sizes re-fault on EVERY expression evaluation —
an Arrow/pandas UDF that builds a large numpy temporary per batch
re-pays the fault bill per call. Raising the mmap threshold keeps
those buffers on the sbrk heap, and raising the trim threshold stops
``free`` from returning the heap to the kernel, so pages fault once
per process and are reused:

    (2000×8)@(8×2000) matmul, fresh result buffer each call:
        default tunables:   0.80 s per call (steady state)
        tuned:              0.002 s per call  (~400×)

The effect on the POI city cycle (``poi_cycle``) has not been
measured.

This is allocator configuration, not caching: every query still
computes from its inputs; only the page-fault churn per allocation
changes. The threshold keeps at most ~256 MB of free heap per arena
resident, bounded and small against executor memory budgets.

:func:`tune_malloc` runs at package import, so it covers BOTH the
driver process and every PySpark worker (workers import this package
when unpickling UDFs, before any data-path allocation). ``mallopt``
only affects allocations made after the call; it is a no-op on
non-glibc platforms. ``session.get_spark`` hands the same
:func:`threshold_bytes` to the JVM it launches (and the workers that
JVM spawns) through ``MALLOC_MMAP_THRESHOLD_``/``MALLOC_TRIM_THRESHOLD_``.
Resize or opt out via ``SPARK_GRAFT_MALLOC_THRESHOLD`` (bytes; 0
disables); :data:`THRESHOLD_BYTES` is the default.
"""

from __future__ import annotations

import os

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3
THRESHOLD_BYTES = 256 * 1024 * 1024

_applied = False


def threshold_bytes() -> int:
    """The mmap/trim threshold in bytes: ``SPARK_GRAFT_MALLOC_THRESHOLD``
    when set to an integer, else :data:`THRESHOLD_BYTES`. A value ≤ 0
    means no tuning."""
    try:
        return int(
            os.environ.get("SPARK_GRAFT_MALLOC_THRESHOLD", str(THRESHOLD_BYTES))
        )
    except ValueError:
        return THRESHOLD_BYTES


def tune_malloc() -> bool:
    """Apply the mmap/trim thresholds once per process. Returns True
    when glibc accepted both tunables."""
    global _applied
    if _applied:
        return True
    threshold = threshold_bytes()
    if threshold <= 0:
        return False
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt.argtypes = [ctypes.c_int, ctypes.c_int]
        libc.mallopt.restype = ctypes.c_int
        ok = bool(libc.mallopt(_M_MMAP_THRESHOLD, threshold)) and bool(
            libc.mallopt(_M_TRIM_THRESHOLD, threshold)
        )
    except Exception:  # noqa: BLE001 — non-glibc / restricted loader
        return False
    _applied = ok
    return ok

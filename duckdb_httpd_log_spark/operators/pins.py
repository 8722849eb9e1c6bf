"""The one pin primitive. ``pin(df)`` persists a frame that a query
reads more than once, and the registered query that built it owns it.

A pin is ``persist(MEMORY_AND_DISK)``: a CacheManager entry that keeps
the frame's lineage and plan statistics, so a lost block is recomputed
instead of failing the query, and every reference to the pinned
subtree reads one InMemoryRelation. ``plans.registry.register`` wraps
each query in ``owned``: the outermost registered call collects the
pins made while it builds, nested registered calls included, and they
are unpersisted when the caller drops the DataFrame it returned.
Outside any owned call a pin lives as long as the frame it pinned.

Pin lifetime: a frame derived from a query's result reads the pins
only while that result is alive. Derived after the result is dropped,
it recomputes from lineage, with the same rows.
"""

from __future__ import annotations

import functools
import gc
import threading
import weakref

from py4j.protocol import Py4JError
from pyspark import StorageLevel

_owner = threading.local()
_in_gc = False


def _gc_phase(phase, _info):
    global _in_gc
    _in_gc = phase == "start"


gc.callbacks.append(_gc_phase)


def _unpersist(jdfs):
    for jdf in reversed(jdfs):  # dependents first: nothing is re-cached
        try:
            jdf.unpersist(False)
        except Py4JError:  # the session or its JVM is already gone
            pass


def _release(jdfs):
    # a drop found by the cyclic GC may have interrupted a py4j call on
    # this thread, whose connection a nested call would share
    if _in_gc:
        threading.Thread(target=_unpersist, args=(jdfs,), daemon=True).start()
    else:
        _unpersist(jdfs)


def _release_with(df, jdfs):
    weakref.finalize(df, _release, jdfs).atexit = False


def pin(df):
    """Persist ``df`` for as long as its owner lives."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    pins = getattr(_owner, "pins", None)
    if pins is None:
        _release_with(df, [df._jdf])
    else:
        pins.append(df._jdf)
    return df


def owned(fn):
    """Make the DataFrame ``fn`` returns own every pin made while it runs."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        if getattr(_owner, "pins", None) is not None:
            return fn(*args, **kwargs)  # nested: the outer call owns the pins
        _owner.pins = pins = []
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            _release(pins)
            raise
        finally:
            _owner.pins = None
        if pins:
            _release_with(out, pins)
        return out

    return run

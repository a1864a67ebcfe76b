"""Shared crash-injection helper for publish-protocol tests.

Every caller of ``sources.files.publish_parquet`` (parquet MERGE,
incremental rollup, in-place compaction, the streaming upsert sink) is
tested by crashing its publish after each possible os-mutation count;
this context manager is that fault injector, so each crash-matrix test
is a few lines instead of a hand-rolled patch/count/raise/restore dance
(and the restore can't be forgotten — leaking a patched os.rename would
poison every later test in the Spark session).
"""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def crash_after(n: int, *targets):
    """Patch each ``(module, attr)`` in ``targets`` with a wrapper sharing
    ONE call counter: the first ``n`` calls (across all targets, in
    execution order) succeed, every later call raises
    ``OSError("injected crash")``. Yields the counter list (``[calls]``)
    for tests that want to assert how far the protocol got."""
    calls = [0]
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr in targets]

    def wrap(fn):
        def guarded(*args, **kwargs):
            if calls[0] >= n:
                raise OSError("injected crash")
            calls[0] += 1
            return fn(*args, **kwargs)

        return guarded

    try:
        for mod, attr, fn in originals:
            setattr(mod, attr, wrap(fn))
        yield calls
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)

"""Session-lifetime cache bookkeeping for persisted intermediates.

Several operators persist() an intermediate whose lifetime must extend
past their own return — range-partitioned global ranks pin their
boundary sample (operators/rank.py), MinHash pins the shared shingle
set, quality tiers pin the per-doc score frame, and
``multimodal_phash_neardup`` (plans/multimodal_ops.py) pins its
(doc_id, phash) proxy so the PNG round-trip kernel runs once instead
of once per plan branch. The r5/r6 protocol
(stacking handles on a ``_pinned_intermediates`` DataFrame attribute
and hoping callers invoke ``rank.release``) leaked in every production
path: the attribute is lost through any further transformation and
neither bench.py nor the external driver ever called release.

This module replaces that with a process-global GENERATION-scoped
registry: operators ``track()`` each persisted handle into the current
generation, and the ``@query`` wrapper (plans/catalog.py) calls
:func:`advance_generation` at the START of building each query. A
generation's caches are released only when it falls ``RELEASE_DEPTH``
builds behind — so with the default depth of 2, building query B
keeps query A's pins alive, and a consumer that builds TWO catalog
queries before collecting the first (to join or compare them — the r7
ADVICE scenario) still computes A against its pinned boundaries.
Only when query C is built does A's generation drain. A catalog sweep
therefore holds at most two queries' caches at any moment instead of
accumulating MEMORY_AND_DISK entries for the life of the session.

Residual contract (now depth-based instead of strictly sequential):
a query's result must be collected within ``RELEASE_DEPTH - 1``
subsequent builds, or its pinned frames may be recomputed — for
ranked frames the range boundaries would re-sample (operators/rank.py)
and partition attribution could silently shift. Consumers juggling
more in-flight queries can raise :data:`RELEASE_DEPTH` (or call
:func:`set_release_depth`) before building. For
``multimodal_phash_neardup`` a released pin is not a correctness
risk: its plan silently falls back to recomputing the pHash kernel in
each of its four branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# How many query generations keep their caches alive. Depth 1 is the
# old release-at-next-build behavior; depth 2 (default) additionally
# survives the build-two-then-collect pattern.
RELEASE_DEPTH = 2

_GENERATIONS: list[list[DataFrame]] = [[]]


def track(df: DataFrame) -> DataFrame:
    """Register an (already-persisted) frame for deferred release and
    return it unchanged."""
    _GENERATIONS[-1].append(df)
    return df


def advance_generation() -> None:
    """Open a new tracking generation and unpersist every frame in
    generations that have fallen ``RELEASE_DEPTH`` builds behind.
    Called by the ``@query`` wrapper at the start of each build."""
    _GENERATIONS.append([])
    while len(_GENERATIONS) > max(1, RELEASE_DEPTH):
        for df in _GENERATIONS.pop(0):
            df.unpersist()


def set_release_depth(depth: int) -> None:
    """Raise/lower how many query generations stay pinned (min 1).
    Lowering takes effect IMMEDIATELY — already-overdue generations
    are released now, not at the next build (a consumer lowering the
    depth to reclaim executor memory before a build-free final action
    would otherwise wait on an advance_generation that never comes)."""
    global RELEASE_DEPTH
    if depth < 1:
        raise ValueError(f"release depth must be >= 1, got {depth}")
    RELEASE_DEPTH = depth
    while len(_GENERATIONS) > depth:
        for df in _GENERATIONS.pop(0):
            df.unpersist()


def release_all() -> None:
    """Unpersist every tracked frame in every generation (idempotent
    per frame — frames an operator already unpersisted early are
    no-ops)."""
    while _GENERATIONS:
        for df in _GENERATIONS.pop(0):
            df.unpersist()
    _GENERATIONS.append([])


def tracked_count() -> int:
    """Number of currently tracked handles across all live generations
    (test introspection)."""
    return sum(len(g) for g in _GENERATIONS)

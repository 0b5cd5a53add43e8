"""Per-fixture memo for relations/artifacts that are pure functions of
the registered model.

Two classes of cached values:

* **Driver-collected STATIC dimension data** — the benchmark shingle
  set (contamination family), the fixed probe vectors (ANN family):
  small constants a production job broadcasts once, re-collected here
  per query invocation only because the bench/gate re-enters the query
  function.
* **Pretrained artifacts** — the perplexity LM relations, the BM25
  inverted index, the BPE merge table, the exact ground-truth ranking
  the ANN scoreboards grade against.  In production these are trained/
  built ONCE and served to every query (the reference memoizes its
  meta-scan the same way — MetaTableHolder.needUpdate,
  hbase-tools-api/.../meta/MetaTableHolder.java); retraining per query
  would be the wrong production shape, so the query-path cost we
  measure is scoring/serving, not training.  Training stays fully
  in-plan (a DataFrame build, never a driver loop) and IS measured on
  the first build.

Keying: every entry is keyed on (sf_dir, key) plus the Spark
application id and the ANALYZED PLAN of the views the value derives
from (semanticHash), so a test that re-registers ``documents`` with
different content under the same sf_dir gets a rebuild, not a stale
artifact, and a restarted session never sees a dead handle.  Once a new
fingerprint's build succeeds, the superseded entries of its key are
evicted so their checkpoint blocks become collectable.

One lifecycle for served artifacts: ``artifact`` makes the artifact's
directory under ``workdir``, fills it, memoizes what the fill returns
and owns the directory from then on.  A fill that raises removes the
directory and leaves the memo as it was; evicting the entry removes its
directory, so a superseded index or model is gone once its successor
is built, not when the process exits.  The entries derived from the
same content (serving handles that may read the directory) are evicted
with it.  A stream store's fill first checks that the view is the
on-disk fixture it drains (``streaming.jobs.drain_fixture``); the
view's hash is in the key, so a swapped view is a new key whose fill
refuses it.  ``model_cached`` is the same memo for values that own no
directory.
"""

from __future__ import annotations

import shutil
from typing import Any, Callable

from . import workdir

#: (sf_dir, key, fingerprint) -> (value, the directory it owns or None)
_CACHE: dict[tuple, tuple[Any, str | None]] = {}

#: Monotone counter of memo LOOKUPS (hit or miss).  bench.py diffs it
#: around each query run to annotate which queries serve from memoized
#: artifacts (round-6 verdict: the artifact must separate build cost
#: from warm serving instead of hiding the build in run 1 of 5).
_TOUCHES = 0


def touches() -> int:
    return _TOUCHES


def _dep_fingerprint(spark, deps: tuple[str, ...]) -> str:
    """Semantic hash of each dependency view's analyzed plan.

    Stable across re-reads of the same parquet path; changes whenever a
    view is re-registered over different content (a fresh LogicalRDD /
    LocalRelation canonicalizes to a different hash).  Analysis-only —
    no job runs.

    The Spark application id is part of the fingerprint: cached values
    may be DataFrames holding localCheckpoint blocks, which die with
    their session — a restarted session in the same process must
    rebuild rather than be served a dead handle (parquet-backed views
    would otherwise fingerprint identically across sessions)."""
    parts = [spark.sparkContext.applicationId]
    for dep in deps:
        df = spark.table(dep)
        parts.append(str(df._jdf.queryExecution().analyzed().semanticHash()))
    return "|".join(parts)


def _evict(k: tuple) -> None:
    """Drop entry ``k``.  If it owned a directory, remove the directory
    and every entry derived from the same content (same sf_dir and
    fingerprint): a serving handle memoized beside an artifact may
    read the directory, and must not outlive it."""
    doomed = [k]
    if _CACHE[k][1] is not None:
        doomed += [c for c in _CACHE if c != k and (c[0], c[2]) == (k[0], k[2])]
    for c in doomed:
        owned = _CACHE.pop(c)[1]
        if owned is not None:
            shutil.rmtree(owned, ignore_errors=True)


def _memo(m, key: str, deps: tuple[str, ...], build: Callable[[], tuple]) -> Any:
    """The one memo body: ``build()`` returns (value, owned dir or
    None).  A build that raises leaves the memo as it was; only after
    it succeeds are the superseded entries of ``key`` evicted."""
    global _TOUCHES
    _TOUCHES += 1
    k = (m.sf_dir, key, _dep_fingerprint(m.spark, deps))
    if k not in _CACHE:
        entry = build()
        for old in [c for c in _CACHE if c[:2] == k[:2]]:
            _evict(old)
        _CACHE[k] = entry
    return _CACHE[k][0]


def model_cached(
    m,
    key: str,
    builder: Callable[[], Any],
    deps: tuple[str, ...] = ("documents",),
) -> Any:
    """Memoize ``builder()`` per (sf_dir, key, content-of-deps).

    ``m`` is a catalog.Model; ``deps`` are the views the value derives
    from.  A build that raises leaves the memo as it was."""
    return _memo(m, key, deps, lambda: (builder(), None))


def artifact(
    m,
    key: str,
    fill: Callable[[str], Any],
    deps: tuple[str, ...] = ("documents",),
) -> Any:
    """The one way a served artifact is made: on a miss, a fresh
    ``workdir`` directory named after ``key`` is filled by
    ``fill(path)``, which returns the value to memoize (the path, or a
    handle read from it).  The entry owns the directory: a fill that
    raises removes it, and evicting the entry removes it."""

    def build() -> tuple:
        path = workdir.scratch(m.spark, f"{key}_")
        try:
            return fill(path), path
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise

    return _memo(m, key, deps, build)


def checkpointed(
    m,
    key: str,
    builder: Callable[[], Any],
    deps: tuple[str, ...] = ("documents",),
):
    """``model_cached`` specialization for DataFrames: eagerly
    localCheckpoints the built relation so every consumer reuses the
    materialized blocks instead of re-running the training lineage.
    At 100 TB this is a persisted table (Delta/parquet artifact); the
    serving-path twins (``materialize_ppl_lm``, the inverted index)
    are that shape — this is the in-session equivalent."""
    return model_cached(
        m, key, lambda: builder().localCheckpoint(eager=True), deps
    )

"""Session memo: the one way to memoize a session-bound relation, plus
the gate for derived fixtures written under ``.fixtures``.

``@session_memo`` memoizes a function of ``(spark, *args)`` — lazy
table readers, localCheckpoint'd edge/label/index relations, measured
stats — keyed by ``(applicationId, id(spark), *args)``. ``id(spark)``
is in the key because one SparkContext can host several SparkSessions
(the driver harness builds its own; ``newSession()``), and a DataFrame
executes under the conf of the session that CREATED it: a key without
it hands session B a plan bound to session A's conf. The memoized
value references its session, so the id cannot be recycled while the
entry is alive.

Memoized relations make SHARED-SESSION timing readings order-
dependent: the query that happens to run first pays the build, every
later family member rides it. ``evict_all()`` drops every registered
cache so a caller (bench.py --isolate-families) can fence timing
sections.
"""

from __future__ import annotations

import functools
import inspect
import shutil
from pathlib import Path
from typing import Callable

#: Derived fixtures (stream splits, layout rewrites, the e-commerce
#: datagen tables) live under this gitignored directory.
FIXTURE_ROOT = Path(__file__).resolve().parents[1] / ".fixtures"

_REGISTRY: list[dict] = []


def register_cache(cache: dict) -> dict:
    """Register a module-level cache dict for bulk eviction; returns
    the dict so modules can register at definition site."""
    _REGISTRY.append(cache)
    return cache


def session_memo(fn: Callable) -> Callable:
    """Memoize ``fn(spark, *args)`` per SparkSession. Arguments are
    bound to ``fn``'s signature first, so positional and keyword calls
    with the same arguments share one entry."""
    cache = register_cache({})
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def memo(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (spark.sparkContext.applicationId, id(spark),
               *list(bound.arguments.values())[1:])
        if key not in cache:
            cache[key] = fn(spark, *args, **kwargs)
        return cache[key]

    return memo


def _unpersist(obj) -> None:
    """Best-effort unpersist of a cache value: ``.persist()``'d
    DataFrames (e.g. the src-partitioned edge copy) hold executor
    storage through the CacheManager until explicitly released —
    clearing the dict alone leaves the blocks live until the Python/
    JVM references happen to be GC'd, so repeated --isolate-families
    cycles would accumulate edge copies.
    localCheckpoint'd relations report is_cached=False here and stay
    on the existing ContextCleaner GC path."""
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        try:
            if obj.is_cached:
                obj.unpersist()
        except Exception:
            pass  # a dead session's DataFrame: nothing to release
    elif isinstance(obj, dict):
        for member in obj.values():
            _unpersist(member)
    elif isinstance(obj, (tuple, list)):
        for member in obj:
            _unpersist(member)


def evict_all() -> int:
    """Clear every registered cache — ``.persist()``'d values are
    unpersisted first; checkpointed relations are then unreferenced
    and GC'd by the ContextCleaner. Returns the number of evicted
    entries."""
    n = 0
    for cache in _REGISTRY:
        n += len(cache)
        for value in cache.values():
            _unpersist(value)
        cache.clear()
    return n


def source_sig(sf_dir: str, table: str = "events") -> str:
    """Content signature of a source table: (size, mtime_ns) of every
    file under <table>.parquet. A fixture derived from a table is
    gated on this signature — if the testdata is regenerated, a
    fixture gated only on its own existence would silently serve
    STALE rows and every oracle comparison through it would be
    wrong."""
    src = Path(sf_dir) / f"{table}.parquet"
    parts = sorted(src.rglob("*")) if src.is_dir() else [src]
    return ";".join(f"{p.name}:{p.stat().st_size}:{p.stat().st_mtime_ns}"
                    for p in parts if p.is_file())


def derived_fixture(root: Path, sig: str, build: Callable[[], object],
                    force: bool = False) -> Path:
    """(Re)build the fixture directory ``root`` unless its ``_DONE``
    records ``sig``: wipe ``root``, run ``build()`` (which writes under
    it), drop Hadoop's ``.crc`` side files, then record ``sig`` in
    ``_DONE``. ``force`` rebuilds regardless (e.g. a catalog table
    the files back is missing from the session). Returns ``root``."""
    done = root / "_DONE"
    if force or not (done.exists() and done.read_text() == sig):
        shutil.rmtree(root, ignore_errors=True)
        build()
        for crc in root.rglob("*.crc"):
            crc.unlink()
        root.mkdir(parents=True, exist_ok=True)
        done.write_text(sig)
    return root

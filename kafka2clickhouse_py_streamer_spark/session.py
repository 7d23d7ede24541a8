"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every conf here is chosen to also be
the right default on a large cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy switch) so plans self-correct at 100 TB.
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics are stable and
  match the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-UDF path (the only sanctioned Python hot
  path).
- Shuffle partitions default to cores locally; on a real cluster AQE's
  coalescing makes the initial number far less critical.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(
    app_name: str = "kafka2clickhouse-py-streamer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters are env-overridable (reference parity: the reference is
    fully env-driven, main.py:542-578): ``SPARK_GRAFT_CPUS`` sets local
    parallelism, ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` the shuffle width.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round-13 join defaults (optimization guide §3.1): let the
        # planner pick a SHUFFLED HASH join instead of sort-merge when
        # one side fits a per-partition hash map — the engine's join
        # sides are mostly small aggregated frames (vocab counts,
        # candidate sets, per-doc sizes) where SMJ's two sorts are
        # pure overhead. AQE additionally rewrites SMJ→SHJ at runtime
        # when every post-shuffle partition is under the threshold
        # (64 MB — same bound as the broadcast threshold below, so a
        # partition the planner would happily broadcast can also be
        # hash-built). Measured A/B/A at sf0.1: p07 3.59→2.28–2.52 s,
        # d21 0.77→0.44–0.46 s; no query slower outside noise. Both
        # env-overridable for clusters whose build sides exceed
        # executor memory (SMJ's graceful spill is the safe fallback
        # there — set SPARK_GRAFT_PREFER_SMJ=true).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", str(64 * 1024 * 1024)),
        )
        # Shuffle codec stays lz4 (the Spark default), measured not
        # assumed (round-14 A/B at sf1, interleaved sessions, top-5
        # shuffle-heavy queries): zstd was equal-or-worse everywhere —
        # d24 5.9-6.5 s lz4 vs 11.8 s zstd (the Levenshtein verify is
        # CPU-bound; zstd's extra compression CPU competes with it),
        # d17/p07/d03/p14 within noise. At cluster network volumes the
        # trade can flip, so the knob is env-overridable.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture events.parquet has shipped as timestamp[ns] in some
        # rounds; keep the legacy long read enabled so that vintage
        # still loads (operators/base.normalize_event_time converts
        # every vintage — ns-long, NTZ, timestamp — uniformly)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable-mode iter_materialize (functions/graph.py) writes a
        # checkpoint file per iteration; let the ContextCleaner delete
        # them once their RDDs are GC'd instead of accumulating for the
        # application lifetime (r7 advice)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# The one session-scoped memo: derived substrates (plane counts, trained
# centroids, the kNN graph, CC labels, the phash table) and per-schema
# compiled ingest plans, each immutable for one SparkContext's view of
# its inputs. Keyed on applicationId (unique per context, never
# recycled), not a Python id(): an id() can be reused after a session
# is garbage-collected and would serve a dead context's frames. No
# lock: the one-step get cannot race a clear, and two threads missing
# the same key at once (streaming triggers run on their own thread)
# both build the same value, the later insert winning.
_SESSION_CACHE: dict[tuple, object] = {}
_SESSION_CACHE_MAX = 64  # past this, the next insert clears the store


def session_cached(
    spark: SparkSession, key: tuple, build: Callable[[], T]
) -> T:
    """The value stored under ``(applicationId, *key)``; ``build()``
    (which never returns None) runs only when that key is missing. A
    clear (bound or release) only drops references: cached frames are
    lineage-cut or plain values, so a consumer still holding one keeps
    a valid object, and the next call rebuilds the same rows."""
    full = (spark.sparkContext.applicationId, *key)
    value = _SESSION_CACHE.get(full)
    if value is None:
        value = build()
        if len(_SESSION_CACHE) > _SESSION_CACHE_MAX:
            _SESSION_CACHE.clear()
        _SESSION_CACHE[full] = value
    return value


def release_session_cache() -> int:
    """Drop every session-cache entry (no unpersist); return how many."""
    n = len(_SESSION_CACHE)
    _SESSION_CACHE.clear()
    return n

"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter at cluster scale too: AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for any pandas-UDF boundary, and a shuffle
partition count sized by the caller (default 32 to match the test harness,
overridden per-deployment — at 100 TB you'd set this to ~2-3x total cores or
rely on AQE's coalescing from a high initial value).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make ``qvarn_mr_spark`` importable on executor Python workers.

    cloudpickle serializes module-level functions BY REFERENCE, so any
    closure touching this package (mapInPandas decoders, pandas reducers)
    needs the package on the workers' import path. ``addPyFile`` distributes
    a zip at runtime — it works on sessions we didn't build (the test
    driver's, a cluster's) where env-var PYTHONPATH fixes are too late.
    Idempotent per session."""
    import tempfile
    import zipfile

    if spark.conf.get("spark.qvarn_mr.shipped", None) == "true":
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "qvarn_mr_spark_pyfiles.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    spark.conf.set("spark.qvarn_mr.shipped", "true")


#: Stack of active cache scopes (innermost last). Module-level on the
#: driver only — executors never see it.
_CACHE_SCOPES: list = []


def pin(df):
    """``df.persist()`` that a :func:`cache_scope` can release.

    Library operators pin reused intermediates (LM tables, melted LSH
    signatures, shingle tables) so one logical pass computes them once.
    Spark keeps such blocks until the session dies; in a long-lived
    session (a notebook, a service, the test driver) that's executor
    memory leaked one operator call at a time. ``pin`` persists exactly
    like before, but ALSO registers the frame with the innermost active
    :func:`cache_scope`, which unpersists everything it saw on exit.
    With no scope active, behavior is unchanged (session-lifetime
    cache)."""
    df = df.persist()
    if _CACHE_SCOPES:
        _CACHE_SCOPES[-1].append(df)
    return df


#: FIFO of frames pinned by serving-path entry points OUTSIDE any
#: cache_scope, capped at SERVE_PIN_BUDGET (oldest unpersisted first).
#: Guarded by _SERVE_PINS_LOCK: the stated use case is long-lived
#: serving loops, and concurrent probe builders (e.g. a reader thread
#: alongside index_cdc_bench's writer thread) would otherwise race the
#: append/evict section — over-popping or leaving the list above budget.
_SERVE_PINS: list = []
_SERVE_PINS_LOCK = threading.Lock()
SERVE_PIN_BUDGET = 32


def serve_pin(df):
    """:func:`pin` for hot serving-path entry points (`probe_*`).

    A probe call pins its routing frame so the collect-then-join
    lifetime computes routing once. Inside a :func:`cache_scope` that
    pin is released on scope exit — but a long-lived serving loop
    (notebook, service) calling probes bare would leak one persisted
    frame per call for the life of the session. ``serve_pin`` bounds
    that: with a scope active it IS ``pin``; without one, the frame
    joins a FIFO capped at ``SERVE_PIN_BUDGET`` and the oldest entry is
    unpersisted when the cap is exceeded. Unpersisting an
    already-consumed routing frame is safe — a straggling action would
    just recompute the (delta-bounded) routing expression."""
    if _CACHE_SCOPES:
        return pin(df)
    df = df.persist()
    evicted: list = []
    with _SERVE_PINS_LOCK:
        _SERVE_PINS.append(df)
        while len(_SERVE_PINS) > SERVE_PIN_BUDGET:
            evicted.append(_SERVE_PINS.pop(0))
    # unpersist outside the lock — it's a py4j round-trip
    for old in evicted:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to release
    return df


class cache_scope:
    """Deterministic release of operator-internal persists::

        with cache_scope():
            out = bigram_surprisal(docs).collect()
        # the LM tables pinned inside are unpersisted here

    Scopes nest; each releases only the frames pinned while it was the
    innermost. Unpersist is non-blocking (executors drop blocks
    asynchronously) and runs even when the body raises. Entering returns
    the scope, whose ``pinned`` list is visible for tests/debugging."""

    def __init__(self):
        self.pinned: list = []

    def append(self, df) -> None:
        self.pinned.append(df)

    def __enter__(self):
        _CACHE_SCOPES.append(self)
        return self

    def __exit__(self, *exc) -> None:
        _CACHE_SCOPES.remove(self)
        for df in self.pinned:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped — nothing to release
        self.pinned.clear()


def get_spark(
    app_name: str = "qvarn-mr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    # Executor Python workers unpickle closures that reference this package
    # (foreachBatch, mapInPandas); make it importable no matter where the
    # consumer script lives. Local mode workers inherit the driver env;
    # spark.executorEnv covers cluster mode.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else ""))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, join-strategy
        # switching. Essential at scale; harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow makes pandas-UDF / toPandas boundaries vectorized.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events table stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects by default; read as long (ns since epoch —
        # incidentally the reference's own timestamp convention,
        # processor.py:88-90) and convert in load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        # One incremental batch generates more distinct codegen classes
        # than the default 100-entry cache holds, so with it every batch
        # compiled its plans anew (about 60 Janino compiles, ~0.5 s, on a
        # two-view CDC batch); 1,000 entries keep a batch's plans warm.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()

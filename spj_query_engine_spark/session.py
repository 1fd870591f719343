"""SparkSession factory and session tuning.

Replaces the reference engine's global runtime knobs — page size
(``src/QueryMain.java:28`` → ``Batch.setPageSize``) and the buffer budget split
across joins (``src/qp/optimizer/BufferManager.java:14-20``) — with Spark's
own memory manager plus a small set of Catalyst/AQE switches.  The reference's
``.stat``-driven cost model (``src/qp/optimizer/PlanCost.java``) maps onto
Spark CBO fed by ``ANALYZE TABLE`` (see :mod:`spj_query_engine_spark.catalog`).

Designed for a real cluster: every config here is also valid under a
multi-executor master; ``local[N]`` is only the test harness default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that must be set before the JVM starts.
_BUILD_TIME_CONF = {
    "spark.sql.shuffle.partitions": None,  # filled from env/cores at build
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.ui.enabled": "false",
    # CBO mirrors the reference's .stat-file costing (PlanCost.java) — it only
    # activates when tables carry ANALYZE statistics.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Fresh NON-daemon python workers (the TWS pre-init runner, python
    # streaming sources) must connect back within this window or the query
    # dies with "Python worker failed to connect back".  The 15s default
    # assumes an idle machine; a cold interpreter start (pyspark imports +
    # usersite processing) under a loaded/slow host was measured tripping
    # it twice in one full-suite run (r09).  Context-level conf — read at
    # launch, no effect on steady-state throughput.
    "spark.python.authenticate.socketTimeout": "120s",
}

# Configs that are safe to (re)apply on an existing session — used when the
# driver hands us a session we didn't build.
_RUNTIME_CONF = {
    # AQE = runtime re-planning; subsumes the reference's randomized
    # iterative-improvement optimizer (RandomOptimizer.java) and its recursive
    # hash-join overflow recovery (HashJoin.java:480-506 → AQE skew split).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics for oracle comparison (DuckDB is
    # UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas_udf / mapInPandas / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The testdata's events table stores TIMESTAMP(NANOS) parquet, which the
    # vectorized reader rejects; read nanos as long and let the catalog
    # convert back to TimestampType (micros) at scan.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    """Shuffle-partition default: env override, else 2×cores capped at 64.

    At 100 TB on a 1000-executor cluster this would instead be sized so a
    post-shuffle partition is ~128-256 MB; AQE coalescing makes the static
    number a ceiling, not a commitment.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return min(64, (os.cpu_count() or 8))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable configs to an existing session (idempotent)."""
    for key, value in _RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Some confs may be frozen on a foreign session; never fail a
            # query over a tuning knob.
            pass
    return spark


def ensure_active_session(spark: SparkSession) -> None:
    """Pin the JVM thread-local ACTIVE session to ``spark``.

    Spark resolves USER-DEFINED (Python) data sources through
    ``SparkSession.getActiveSession``'s per-session DataSourceManager — not
    through the DataFrame's own session — and ``DataFrameWriter.save`` /
    ``DataFrameReader.load`` do not re-scope the thread-local before that
    lookup.  A py4j call can land on a connection thread whose active
    session is unset (a fresh connection spun up mid-application) or points
    at a clone (:func:`clone_session` work), at which point a source
    registered on the main session moments earlier resolves to
    [DATA_SOURCE_NOT_FOUND] (observed: u08's ``jsonlsink`` failing only in
    full 259-entry runs; reproduced deterministically by setting the active
    session to a clone before ``save()``).  Pinning is exactly what
    ``builder.getOrCreate`` does on the calling thread and has no other
    observable effect; call it before registering/using a Python data
    source."""
    try:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:
        pass  # no py4j gateway (e.g. Spark Connect) — nothing to pin


def clone_session(
    spark: SparkSession, shuffle_partitions: int | None = None
) -> SparkSession:
    """A fresh ISOLATED session over the same SparkContext whose SQLConf
    mirrors the parent's explicit settings, optionally with its own
    shuffle-partition count.

    ``newSession()`` shares the context, table cache, and global temp views
    but starts its SQLConf from launch-time conf only — the parent's later
    ``conf.set`` calls (engine tuning, test-set ``spj.*`` overrides) are
    not inherited.  ``RuntimeConfig.getAll`` enumerates exactly those
    explicit entries (~30, one py4j hop each), so the clone behaves like
    the parent in every observable way while a conf change on it can never
    leak back — the primitive behind :func:`scoped`, which the coarse scope
    and the streaming runners use instead of mutating the session-global
    ``spark.sql.shuffle.partitions``."""
    sub = spark.newSession()
    try:
        jconf = spark._jsparkSession.conf().getAll()
        jmap = spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMap(
            jconf
        )
        for e in jmap.entrySet().toArray():
            try:
                sub.conf.set(e.getKey(), e.getValue())
            except Exception:
                pass  # frozen/static conf — already inherited at launch
    except Exception:
        # no py4j gateway to enumerate (e.g. Spark Connect) — fall back to
        # the package's own runtime confs
        tune_session(sub)
    if shuffle_partitions is not None:
        sub.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return sub


#: scoped sessions, ONE per (applicationId, frozen scope conf) — see
#: :func:`scoped`
_SCOPED: dict[tuple, SparkSession] = {}
_ENTRY_SEP = "\u0001"


def _spj_conf(spark: SparkSession) -> dict[str, str]:
    """The session's explicit ``spj.*`` entries, read in ONE py4j round
    trip: the JVM renders its conf map as ``key -> value`` entries joined by
    a control character (conf keys never contain `` -> ``).  Walking
    ``spark.conf.getAll`` instead costs one round trip per entry (49 ms
    for 32 entries, ``local[4]`` on a 4-core host)."""
    try:
        flat = spark._jsparkSession.conf().getAll().mkString(_ENTRY_SEP)
    except Exception:
        # no py4j gateway (e.g. Spark Connect)
        return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spj.")}
    entries = (e.partition(" -> ") for e in flat.split(_ENTRY_SEP))
    return {k: v for k, _, v in entries if k.startswith("spj.")}


def scoped(parent: SparkSession, conf: dict[str, object]) -> SparkSession:
    """An ISOLATED session over ``parent``'s SparkContext whose SQLConf is
    the parent's explicit conf plus ``conf`` — the one way the engine plans
    a subtree under different settings (Catalyst plans every query under
    its session's SQLConf) without mutating the caller's session.

    One clone is cached per (application, ``conf`` items): creating one
    (:func:`clone_session`, ~30 py4j conf hops + ``newSession``) is a
    measurable fixed cost per query, while the scopes the engine asks for
    take only a handful of distinct values.  Two scopes with different
    ``conf`` never share a session, so concurrent scopes cannot run under
    each other's settings.  The clone's ``conf`` is set once, at creation;
    every ``spj.*`` key is re-synced from ``parent`` on EVERY call — set
    where the parent has it, unset where it does not — so an override
    changed on the parent after the clone was made is never served stale.
    The re-sync costs two round trips plus one per changed key."""
    items = tuple(
        sorted(
            (k, str(v).lower() if isinstance(v, bool) else str(v))
            for k, v in conf.items()
        )
    )
    key = (parent.sparkContext.applicationId, items)
    sub = _SCOPED.get(key)
    if sub is None:
        sub = clone_session(parent)
        for k, v in items:
            sub.conf.set(k, v)
        sub = _SCOPED.setdefault(key, sub)  # a racing creator's clone is dropped
    want, have = _spj_conf(parent), _spj_conf(sub)
    for k in have.keys() - want.keys():
        sub.conf.unset(k)
    for k, v in want.items():
        if have.get(k) != v:
            sub.conf.set(k, v)
    return sub


def get_spark(
    app_name: str = "spj_query_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    # If the runtime lacks google.protobuf (needed worker-side by Spark 4's
    # transformWithStateInPandas state-server client), expose the vendored
    # wire-format shim through PYTHONPATH BEFORE the JVM gateway launches:
    # the TWS driver worker is spawned by the JVM with the JVM's inherited
    # environment and does not process addPyFile includes, so the env var
    # is the only channel that reaches it.  A real protobuf always wins —
    # the shim path is appended only when no real distribution resolves.
    # NOTE the import succeeding is NOT enough to skip the export: if this
    # process already loaded the SHIM via sys.path (ensure_protobuf(None),
    # e.g. an earlier test in the same pytest run), the import succeeds here
    # while the TWS driver worker — a fresh process that only sees the env
    # var — would still crash on `from google.protobuf import descriptor`.
    shim = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "_vendor", "protoshim"
    )
    try:
        import google.protobuf as _gp

        _gp_file = getattr(_gp, "__file__", None) or ""
        shim_needed = os.path.abspath(_gp_file).startswith(
            os.path.abspath(shim) + os.sep
        )
    except ImportError:
        shim_needed = True
    if shim_needed:
        current = os.environ.get("PYTHONPATH", "")
        if shim not in current.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                f"{current}{os.pathsep}{shim}" if current else shim
            )
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]"))
    conf = dict(_BUILD_TIME_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or default_parallelism())
    conf.update(_RUNTIME_CONF)
    conf.update(extra_conf or {})
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)

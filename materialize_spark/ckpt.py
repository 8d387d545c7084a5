"""Lineage-break policy for maintained state (the delta-MV hot path).

Every stateful streaming operator breaks lineage with
``DataFrame.localCheckpoint``: state parts, folded supports, table
snapshots and published results would otherwise accumulate plans that
grow with commit count. ``eager=True`` (the historical default) runs one
synchronous Spark job per call — measured with cProfile on
sqlfront_delta_mv_q21_exists at sf0.01, 146 such jobs accounted for
~127 s of a 199 s run: per-commit maintenance cost was dominated by
checkpoint-job latency, not by the actual delta computation
(OPTIMIZATION_r13.md).

``eager=False`` builds the IDENTICAL plan: Spark's ``Dataset.checkpoint``
runs physical planning at call time either way and wraps the result RDD
in the same ``LogicalRDD`` leaf (so every attribute-id / constraint /
relation-dedup behavior downstream is byte-identical); the only
difference is that the eager variant runs ``rdd.count()`` immediately
while the lazy one lets the first downstream action compute-and-persist
the checkpointed RDD as part of its own job. Deferral is value-safe here
because every checkpointed plan in this engine reads only immutable
inputs: literal row frames, prior checkpoints, persisted arrangements,
and append-only spill-tier generations (spill writes always go to a
fresh ``gen<N>`` directory, never overwrite a live one), and
time-dependent expressions are resolved to literals at plan-build time
(tick times are Python datetimes; ``current_timestamp`` is folded by the
optimizer during the checkpoint's own physical planning).

``SPARK_GRAFT_EAGER_CKPT=1`` restores the eager behavior (debugging aid:
it localizes a failure to the commit that built the bad plan).

Breaks of in-session state are sized from Catalyst statistics. A break
qualifies when every leaf of its optimized plan is an in-session
relation (``LocalRelation``, ``OneRowRelation``) or a checkpoint of one
(``LogicalRDD``): such estimates count decoded bytes in the session. A
plan that reads catalog data (a parquet scan, whose estimate is its
compressed file size; a persisted table; any other source), or a
checkpoint of such a plan, keeps the session's settings, as before,
so its broadcast builds run when the break is planned.
A qualifying break is planned under scoped confs (one ``try/finally``
restores them all, also when planning raises):

- Partitions follow the data. In-session tables start as stats-bearing
  ``LocalRelation``s (``catalog.empty_relation``) and a ``LogicalRDD``
  keeps its origin's statistics through ``localCheckpoint``, so a
  maintained frame's optimized plan carries a finite ``sizeInBytes``.
  A break plans its exchanges at n = clamp(ceil(bytes / PARTITION_BYTES),
  1, ``spark.sql.shuffle.partitions``) partitions and coalesces its
  output to n: a few-row delta runs as one task per stage, and a table
  snapshot no longer gains a partition per append. The estimate is an
  upper bound, so an unknown, large or join-inflated frame (n at the
  cap) keeps the session's partitioning.
- No broadcast joins. A broadcast build runs when its plan is prepared,
  so inside a break it would run at break time, and the retained break
  plans keep their hash relations alive: each multi-column-key build
  holds a 64 MiB Tungsten page. With statistics on every in-session
  input, Catalyst broadcasts most maintenance joins; on a correlated
  min (TPC-H q2) shape the live heap after a full GC grew ~450 MB per
  commit and a 24 GiB-heap JVM on a 16 GiB host was killed within 40
  commits, while with broadcasts off in breaks it stayed at ~85 MB.
  Breaks therefore plan shuffled joins at n partitions, and a lazy
  break runs no job. Reads of published views are transient plans and
  keep the session's broadcast threshold.

Whole-stage codegen is off in every break below the planner data gate
(see ``lineage_break``). The confs are session-wide and are read while
a plan is built and physically planned, so nothing else may plan while
a break holds them: ``MzSession`` runs one statement at a time under
its ``statement_lock``, and its pgwire and HTTP servers hold the same
lock while they collect a result.
"""

from __future__ import annotations

import os
import weakref
from collections import OrderedDict
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

from materialize_spark.catalog import PARTITION_BYTES, light_maintenance_plans

EAGER: bool = os.environ.get("SPARK_GRAFT_EAGER_CKPT", "") == "1"

_CODEGEN_KEY = "spark.sql.codegen.wholeStage"
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
_BROADCAST_KEY = "spark.sql.autoBroadcastJoinThreshold"

# Per-session memo of spark.sql.codegen.wholeStage as last READ here.
# Sound because lineage_break is the only engine site that flips the
# conf and it always restores the pre-toggle value before returning.
_CODEGEN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

# Leaves whose size estimate counts decoded in-session bytes.
_SESSION_LEAVES = frozenset({"LocalRelation", "LogicalRDD", "OneRowRelation"})

# Per session: checkpoints of plans that read catalog data, keyed by
# their leaf's first line (``LogicalRDD [a#1, b#2], false``; a
# checkpoint keeps its plan's attribute ids), least recently seen
# first. A break over one of them plans like a break over the catalog
# data itself.
_CATALOG_CKPTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CATALOG_CKPTS_MAX = 1 << 16


def _conf(spark, key: str) -> str | None:
    try:
        return spark.conf.get(key)
    except (Py4JError, PySparkException):
        return None


def _codegen_conf(spark) -> str | None:
    v = _CODEGEN.get(spark)
    if v is None:
        v = _conf(spark, _CODEGEN_KEY) or "?"
        _CODEGEN[spark] = v
    return v


@contextmanager
def _scoped_confs(spark, changes: dict[str, tuple[str, str]]):
    """Hold each ``key`` at ``new`` for the block, given as
    ``{key: (new, old)}``; one ``finally`` puts every key that was set
    back to ``old``, also when planning raises."""
    done = []
    try:
        for key, (new, _old) in changes.items():
            spark.conf.set(key, new)
            done.append(key)
        yield
    finally:
        for key in done:
            spark.conf.set(key, changes[key][1])


def _reads_only_session_state(spark, plan) -> bool:
    """Whether every leaf of the optimized ``plan`` is an in-session
    relation or a checkpoint not known to read catalog data."""
    seen = _CATALOG_CKPTS.get(spark)
    ok = True
    for leaf in plan.collectLeaves().mkString("\0").split("\0"):
        head = leaf.split("\n", 1)[0]
        if head.split(" ", 1)[0] not in _SESSION_LEAVES:
            ok = False
        elif seen is not None and head in seen:
            seen.move_to_end(head)  # live state stays registered
            ok = False
    return ok


def _remember_catalog_ckpt(spark, out: DataFrame) -> None:
    try:
        head = out._jdf.queryExecution().analyzed().toString()
    except (Py4JError, PySparkException):
        return
    seen = _CATALOG_CKPTS.setdefault(spark, OrderedDict())
    seen[head.split("\n", 1)[0]] = None
    if len(seen) > _CATALOG_CKPTS_MAX:
        seen.popitem(last=False)


def _break_partitions(plan, cap: int) -> int:
    """Partitions a break of the optimized ``plan`` needs:
    ceil(sizeInBytes / PARTITION_BYTES) clamped to [1, cap]. An unknown
    estimate (Long.MaxValue, or a failed read) gives ``cap``."""
    try:
        size = int(plan.stats().sizeInBytes())
    except (Py4JError, PySparkException):
        return cap
    return max(1, min(cap, -(-size // PARTITION_BYTES)))


def lineage_break(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` with the engine-wide eagerness and sizing
    policy (module docstring).

    The returned frame is tagged ``_mz_leaf`` so the fresh-alias
    ``_ckpt`` helpers can skip re-breaking a frame that IS already a
    checkpoint leaf (each ``localCheckpoint`` costs a full Catalyst
    planning pass — ~50 ms even for a literal frame). Skipping is
    sound: returning the SAME object means the same relation, which
    downstream plans may reference repeatedly (ordinary
    self-reference); the sibling-id hazard needs two DIFFERENT
    relations sharing exprIds, which the fresh-alias path still
    prevents for every newly built part."""
    spark = df.sparkSession
    changes = {}
    if light_maintenance_plans(spark) and _codegen_conf(spark) == "true":
        # Below the planner data gate, the break's whole-stage-codegen
        # compile is pure driver cost (per-commit literals make each
        # generated source novel — the janino cache never hits; measured
        # 6.9 s -> 3.9 s of break time on warm q21_exists, OPTIMIZATION_
        # r14.md). The conf read is memoized per session (only this
        # function flips it).
        changes[_CODEGEN_KEY] = ("false", "true")
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        session_only = _reads_only_session_state(spark, plan)
    except (Py4JError, PySparkException):
        session_only = False
    if session_only:
        # a broadcast build in a retained break plan pins its hash relation
        broadcast = _conf(spark, _BROADCAST_KEY)
        if broadcast not in (None, "-1"):
            changes[_BROADCAST_KEY] = ("-1", broadcast)
        try:
            cap = int(_conf(spark, _SHUFFLE_KEY))
        except (TypeError, ValueError):
            cap = 0
        n = _break_partitions(plan, cap) if cap > 1 else cap
        if n < cap:  # exchanges at n partitions, unioned inputs folded to n
            changes[_SHUFFLE_KEY] = (str(n), str(cap))
            df = df.coalesce(n)
    with _scoped_confs(spark, changes):
        out = df.localCheckpoint(eager=EAGER)
    if not session_only:
        _remember_catalog_ckpt(spark, out)
    out._mz_leaf = True
    return out


_FB_SEQ = __import__("itertools").count(1)  # thread-safe unique suffixes


def fresh_break(df: DataFrame) -> DataFrame:
    """Lineage break with FRESH attribute ids, skipping frames that are
    already checkpoint leaves — the shared body of the per-module
    ``_ckpt`` helpers.

    The alias-project is built from ONE SQL string over a short-lived
    temp view (~4 py4j roundtrips) instead of ``toDF(*cols)``, whose
    list conversion costs one roundtrip per column (~12 for a typical
    maintenance frame; measured 1.2k sends/warm churn entry from this
    one site). ``SELECT `c` AS `c` ...`` mints the same per-column
    Alias nodes toDF does, so the fresh-exprId guarantee is identical;
    the view is dropped immediately after ``spark.sql`` captures the
    analyzed plan. Frames with duplicate or backtick-bearing column
    names fall back to toDF (SQL projection would be ambiguous)."""
    if getattr(df, "_mz_leaf", False):
        return df
    cols = df.columns
    if len(set(cols)) == len(cols) and not any("`" in c for c in cols):
        v = f"__mz_fb_{os.getpid()}_{next(_FB_SEQ)}"
        spark = df.sparkSession
        try:
            df.createOrReplaceTempView(v)
            try:
                sel = ", ".join(f"`{c}` AS `{c}`" for c in cols)
                out = spark.sql(f"SELECT {sel} FROM `{v}`")
            finally:
                spark.catalog.dropTempView(v)
            return lineage_break(out)
        except Exception:
            pass  # exotic names/session: the per-column path below
    return lineage_break(df.toDF(*cols))

"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402
from queries import CHURN_VIEWS, HEADLINE  # noqa: E402
from tracing import Tracer  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


# -- generator determinism ----------------------------------------------------

def test_same_seed_same_inputs(tmp_path):
    for d in ("a", "b"):
        datagen.write_tables(datagen.tpch_tables(7, 0.001), str(tmp_path / d))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert datagen.churn_setup_sql(7) == datagen.churn_setup_sql(7)
    assert datagen.churn_commits(7, 300) == datagen.churn_commits(7, 300)
    names = list(HEADLINE)
    assert list(itertools.islice(datagen.query_order(7, names), 50)) == \
        list(itertools.islice(datagen.query_order(7, names), 50))


def test_other_seed_other_inputs(tmp_path):
    datagen.write_tables(datagen.tpch_tables(1, 0.001), str(tmp_path / "a"))
    datagen.write_tables(datagen.tpch_tables(2, 0.001), str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))
    assert datagen.churn_commits(1, 50) != datagen.churn_commits(2, 50)


def test_commit_stream_rotates_over_every_input_table():
    commits = datagen.churn_commits(3, 2 * len(datagen.CHURN_TABLES))
    assert [t for t, _ in commits] == list(datagen.CHURN_TABLES) * 2
    inputs = {t for _b, ts in CHURN_VIEWS.values() for t in ts}
    assert set(datagen.CHURN_TABLES) == inputs - {"dq_nat", "cs_supp"}


# -- every named metric is printed with its unit ------------------------------

def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(tmp_path, trace: bool) -> harness.Bench:
    b = harness.Bench(str(tmp_path), "mv_churn_small", 1, 1, trace, 0.0)
    b.setup_s = 3.0
    b.hydrate_s = 2.0
    b.probes.update(end_peak_rss_mb=900.0, start_rdds=10, end_rdds=30,
                    peeks=[0.1, 0.2], end_storage_mem_mb=1.0,
                    trace_setup_cost_s=0.001)
    for i in range(8):
        op = harness.Op("commit", f"t{i % 4}", 0.5 + i / 10, i % 2 == 1,
                        {"execute_s": 0.2, "read_s": 0.3, "sends": 100,
                         "op_id": i, "jobs": 2, "stages_run": 3,
                         "stages_skipped": 1, "tasks": 9, "poll_s": 0.01,
                         "poll_rows": 1}, iter_s=0.7 + i / 10)
        b.ops.append(op)
        if b.tracer is not None and op.traced:
            rec = b.tracer.begin("op:commit", op=i)
            b.tracer.end(b.tracer.begin("parser"))
            b.tracer.end(rec)
    b.attempted = 8
    return b


@pytest.mark.parametrize("trace", [False, True])
def test_every_named_metric_printed_with_unit(tmp_path, trace):
    b = _bench(tmp_path, trace)
    out = json.loads(json.dumps(b.summary()))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == \
        {k: v["unit"] for k, v in out["metrics"].items()}
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] != 0 for m in spec)


def test_benchmark_json_names_every_workload_and_layer():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert set(harness.LAYER_MAP) == {m["name"] for m in spec["per_layer"]}
    for _layer, _moves, wls in harness.LAYER_MAP.values():
        assert set(wls) <= set(workloads.WORKLOADS)


def test_steal_frac():
    assert harness.steal_frac((10, 100), (30, 200)) == pytest.approx(0.2)
    assert harness.steal_frac(None, (30, 200)) is None
    assert harness.steal_frac((10, 100), (10, 100)) is None


def test_keyed_rate_ignores_one_stalled_op():
    ops = [harness.Op("query", k, 0.1, False, iter_s=t)
           for k, t in [("a", 1.0), ("a", 1.0), ("a", 9.0), ("b", 0.5)]]
    assert harness.keyed_rate(ops) == pytest.approx(2 / 1.5)
    assert harness.keyed_rate([]) == 0.0


def test_p75_is_nearest_rank():
    assert harness.p75([float(i) for i in range(1, 101)]) == (75.0, 25)
    assert harness.p75([3.0, 1.0, 2.0, 4.0, 5.0, 6.0, 7.0]) == (6.0, 1)
    assert harness.p75([2.0]) == (2.0, 0)


# -- stages run are told apart from stages skipped ---------------------------

class _Stage:
    def __init__(self, submitted: bool, done: int):
        self._submitted, self._done = submitted, done

    def submissionTime(self):
        return 1_700_000_000_000 if self._submitted else 0

    def numCompletedTasks(self):
        return self._done


class _FakeSc:
    """A SparkContext whose status store lags its listener bus: until the
    bus is drained, stages read as never submitted."""

    def __init__(self, stages):
        self.stages, self.drained = stages, False
        self._jsc = self

    def sc(self):
        return self

    def listenerBus(self):
        return self

    def waitUntilEmpty(self):
        self.drained = True

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return [0]

    def getJobInfo(self, job):
        return type("J", (), {"stageIds": lambda _s: list(self.stages)})()

    def getStageInfo(self, sid):
        if not self.drained:
            return _Stage(False, 0)
        return self.stages[sid]


def test_stage_that_ran_is_never_counted_as_skipped():
    # stage 1 ran, but its task count was not yet published (live
    # updates are throttled); stage 2 was skipped
    sc = _FakeSc({0: _Stage(True, 4), 1: _Stage(True, 0),
                  2: _Stage(False, 0)})
    assert harness.spark_stats(sc, "g") == {
        "jobs": 1, "stages_run": 2, "stages_skipped": 1, "tasks": 4}


def test_spark_stats_on_a_real_context(tmp_path):
    """Each job of a shuffle runs two stages; a second job over the same
    shuffle skips the map stage. Read right after collect(), as the
    traced run does."""
    pyspark = pytest.importorskip("pyspark")
    spark = (pyspark.sql.SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", str(tmp_path))
             .getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        for i in range(6):
            group = f"g{i}"
            sc.setJobGroup(group, "test")
            rdd = sc.parallelize(range(100), 4).map(lambda x: (x % 7, x)) \
                .reduceByKey(lambda a, c: a + c)
            rdd.collect()
            assert harness.spark_stats(sc, group) == {
                "jobs": 1, "stages_run": 2, "stages_skipped": 0, "tasks": 8}
            group += "-again"
            sc.setJobGroup(group, "test")
            rdd.collect()
            assert harness.spark_stats(sc, group) == {
                "jobs": 1, "stages_run": 1, "stages_skipped": 1, "tasks": 4}
    finally:
        spark.stop()


# -- a wrong view result is a failure -----------------------------------------

class _Frame:
    def __init__(self, rows, pdf=None):
        self._rows, self._pdf = rows, pdf

    def collect(self):
        return self._rows

    def toPandas(self):
        return self._pdf


class _FakeSession:
    """Stands in for MzSession: base tables from pandas, views computed
    by DuckDB — then optionally tampered with."""

    def __init__(self, seed: int, tamper: str | None = None):
        con = duckdb.connect()
        for stmt in datagen.churn_setup_sql(seed):
            con.execute(stmt.replace("STRING", "VARCHAR"))
        for _t, sql in datagen.churn_commits(seed, 40):
            con.execute(sql)
        self.tables = {}
        for _b, ts in CHURN_VIEWS.values():
            for t in ts:
                self.tables[t] = con.execute(f"SELECT * FROM {t}").df()
        self.views = {v: con.execute(workloads.ORACLE_SQL.get(v, body))
                      .fetchall() for v, (body, _ts) in CHURN_VIEWS.items()}
        if tamper is not None:
            rows = self.views[tamper]
            self.views[tamper] = rows[1:] if rows else [(None,) * 2]

    def sql(self, q: str) -> _Frame:
        name = q.split()[-1]
        if name in self.tables:
            return _Frame(None, self.tables[name])
        return _Frame(self.views[name])


def _subscribe_batches(s: _FakeSession):
    return [[tuple(r) + (1,) for r in s.views[workloads.SUBSCRIBED]]]


def test_correct_views_pass(tmp_path):
    b = harness.Bench(str(tmp_path), "mv_churn_small", 5, 1, False, 0.0)
    s = _FakeSession(5)
    workloads.check_churn(b, s, _subscribe_batches(s))
    assert b.failed == 0 and b.attempted == len(CHURN_VIEWS) + 1


@pytest.mark.parametrize("view", sorted(CHURN_VIEWS))
def test_wrong_view_result_is_a_failure(tmp_path, view):
    b = harness.Bench(str(tmp_path), "mv_churn_small", 5, 1, False, 0.0)
    good = _FakeSession(5)
    bad = _FakeSession(5, tamper=view)
    workloads.check_churn(b, bad, _subscribe_batches(good))
    assert b.failed >= 1
    out = b.summary()
    assert out["correct"] is False and out["failed"] == b.failed


def test_subscribe_diffs_must_sum_to_snapshot(tmp_path):
    b = harness.Bench(str(tmp_path), "mv_churn_small", 5, 1, False, 0.0)
    s = _FakeSession(5)
    batches = _subscribe_batches(s)
    batches.append([batches[0][0][:-1] + (-1,)])  # a retraction never re-added
    workloads.check_churn(b, s, batches)
    assert b.failed == 1


def test_rows_equal_tolerates_only_rounding():
    from oracle import rows_equal
    assert rows_equal([(1, 1234.56)], [(1, 1234.57)])      # one cent, big sum
    assert not rows_equal([(1, 0.05)], [(1, 0.06)])         # small value
    assert not rows_equal([(1, 2.0)], [(1, 2.0), (1, 2.0)])  # multiplicity
    assert rows_equal([(2, None), (1, "a")], [(1, "a"), (2, None)])


def test_tracer_restores_every_function():
    from materialize_spark import ckpt
    from materialize_spark.plans import parser, sqlfront
    before = (ckpt.lineage_break, sqlfront.lineage_break,
              parser.parse_statement, sqlfront.MzSession.execute)
    t = Tracer()
    t.install()
    assert sqlfront.lineage_break is not before[1]
    t.uninstall()
    assert (ckpt.lineage_break, sqlfront.lineage_break,
            parser.parse_statement, sqlfront.MzSession.execute) == before


def test_self_time_excludes_children():
    t = Tracer()
    t.spans = [(1, None, 7, "op:query", 0.0, 10.0),
               (2, 1, 7, "sqlfront", 1.0, 9.0),
               (3, 2, 7, "parser", 2.0, 3.0),
               (4, 2, 7, "dialect", 4.0, 4.5)]
    tot = t.layer_totals({7})
    assert tot["sqlfront"]["self_s"] == pytest.approx(6.5)
    assert tot["parser"]["calls"] == 1

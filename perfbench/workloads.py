"""The workloads. Each drives the engine only through its public entry
points (``MzSession.execute``/``sql``/``subscribe_*``,
``DataFrame.collect`` and the session/catalog constructors) in a closed
loop with one client, and checks every output outside the timed
region."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import time

import datagen
import oracle
from harness import Bench
from queries import CHURN_VIEWS, HEADLINE

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.1
WARM_PASSES = 2


def adhoc_tpch(b: Bench) -> None:
    """The 8 headline TPC-H queries at sf0.1, round-robin, each issued
    as SQL text with a fresh plan and collected."""
    from materialize_spark.plans.sqlfront import MzSession

    t0 = time.perf_counter()
    data = os.path.join(b.work, "data")
    expected_path = os.path.join(b.work, "expected.pickle")
    subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"),
                    str(b.seed), str(SF), data, expected_path], check=True)
    with open(expected_path, "rb") as f:
        expected = pickle.load(f)
    b.harness_s = time.perf_counter() - t0

    s = b.set_up(lambda spark: MzSession(spark, data))
    names = list(HEADLINE)
    results: list[tuple[str, list]] = []

    def query(name: str, traced: bool):
        def run():
            df = s.sql(HEADLINE[name])
            parts = {}
            if traced:
                t = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                parts["plan_s"] = time.perf_counter() - t
            results.append((name, df.collect()))
            return parts
        return run

    # The first pass over every query fills the base-table arrangements
    # (the ad-hoc analog of hydrating a view); it is not a timed op.
    # WARM_PASSES more let the JIT settle, which in one pass it does not.
    t0 = time.perf_counter()
    for name in names:
        results.append((name, s.sql(HEADLINE[name]).collect()))
    b.hydrate_s = time.perf_counter() - t0
    for _ in range(WARM_PASSES):
        for name in names:
            results.append((name, s.sql(HEADLINE[name]).collect()))
    b.probe_state("start")

    t0 = time.perf_counter()
    for i, name in enumerate(datagen.query_order(b.seed, names)):
        if b.done(i, t0, len(names)):
            break
        t = time.perf_counter()
        traced = b.traced_op(i, len(names))
        op = b.run_op("query", name, traced, query(name, traced))
        if op is not None:
            op.iter_s = time.perf_counter() - t
    b.probe_state("end")

    for name, rows in results:
        b.check(oracle.rows_equal(rows, expected[name]), name)


def mv_churn_small(b: Bench) -> None:
    """The three heavy delta-MV shapes over small seeded tables under a
    stream of few-row commits that rotates across their inputs. After
    each commit the loop reads every dependent view (the op ends
    there), reads them again (the peek) and polls one SUBSCRIBE."""
    from materialize_spark.plans.sqlfront import MzSession

    t0 = time.perf_counter()
    empty = os.path.join(b.work, "no_base_tables")
    os.makedirs(empty, exist_ok=True)
    setup_sql = datagen.churn_setup_sql(b.seed)
    commits = datagen.churn_commits(b.seed, 2000)
    b.harness_s = time.perf_counter() - t0

    def make_session(spark):
        s = MzSession(spark, empty)
        for stmt in setup_sql:
            s.execute(stmt)
        return s

    s = b.set_up(make_session)
    deps: dict[str, list[str]] = {}
    for v, (_body, tables) in CHURN_VIEWS.items():
        for t in tables:
            deps.setdefault(t, []).append(v)

    t0 = time.perf_counter()
    for v, (body, _tables) in CHURN_VIEWS.items():
        s.execute(f"CREATE MATERIALIZED VIEW {v} WITH "
                  f"(MAINTENANCE 'delta') AS {body}")
        s.sql(f"SELECT * FROM {v}").collect()
    sub_id, first, _node = s.subscribe_open(f"SUBSCRIBE {SUBSCRIBED}")
    batches = [first.collect()]
    b.hydrate_s = time.perf_counter() - t0
    b.probe_state("start")

    peeks: list[float] = []

    def commit(table: str, sql: str):
        def run():
            t = time.perf_counter()
            s.execute(sql)
            t_exec = time.perf_counter()
            for v in deps[table]:
                s.sql(f"SELECT * FROM {v}").collect()
            t_read = time.perf_counter()
            return {"execute_s": t_exec - t, "read_s": t_read - t_exec}
        return run

    t0 = time.perf_counter()
    rotation = len(datagen.CHURN_TABLES)
    for i, (table, sql) in enumerate(commits):
        if b.done(i, t0, rotation):
            break
        t_iter = time.perf_counter()
        op = b.run_op("commit", table, b.traced_op(i, rotation),
                      commit(table, sql))
        for v in deps[table]:
            t = time.perf_counter()
            s.sql(f"SELECT * FROM {v}").collect()
            peeks.append(time.perf_counter() - t)
        t = time.perf_counter()
        batch = s.subscribe_poll(sub_id)
        rows = batch.collect() if batch is not None else []
        if op is not None:
            op.parts["poll_s"] = time.perf_counter() - t
            op.parts["poll_rows"] = len(rows)
            op.iter_s = time.perf_counter() - t_iter
        batches.append(rows)
    b.probes["peeks"] = peeks
    b.probe_state("end")

    check_churn(b, s, batches)
    s.subscribe_close(sub_id)


# One SUBSCRIBE cursor follows the q21-shape view: its inputs take four
# of the seven tables in the commit rotation.
SUBSCRIBED = "dq21"

# DuckDB 1.0 keeps a NULL outer value in a positive correlated IN (the
# registry entry sqlfront_delta_mv_corr_not_in records this), so its
# recompute of cni_in states the standard's NULL rule explicitly.
ORACLE_SQL = {
    "cni_in": CHURN_VIEWS["cni_in"][0] + " AND x IS NOT NULL",
}


def check_churn(b: Bench, s, batches) -> None:
    """Every view equals DuckDB's recompute of its own SQL over the
    churned tables, and the SUBSCRIBE diffs sum to the view."""
    tables = sorted({t for _b, ts in CHURN_VIEWS.values() for t in ts})
    con = oracle.session_duckdb(s, tables)
    for v, (body, _tables) in CHURN_VIEWS.items():
        got = s.sql(f"SELECT * FROM {v}").collect()
        want = con.execute(ORACLE_SQL.get(v, body)).fetchall()
        b.check(oracle.rows_equal(got, want), f"view {v} vs recompute")
        if v == SUBSCRIBED:
            b.check(oracle.subscribe_total(batches)
                    == oracle.snapshot_multiset(got),
                    f"SUBSCRIBE {v} diffs vs snapshot")


WORKLOADS = {"adhoc_tpch": adhoc_tpch, "mv_churn_small": mv_churn_small}

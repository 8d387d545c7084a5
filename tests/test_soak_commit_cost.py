"""Commit-cost soak: per-commit Spark work stays flat across folds.

A delta-MV commit should cost the size of its delta, not the number of
commits before it. The maintained arrangements append one part per
commit and fold their parts every 16 appends (``compact_every``), so a
commit's cost rises within a fold cycle and falls back at the fold; a
short run never sees a fold. This soak drives 144 few-row commits, 48
into each input of the three heavy shapes (q21's EXISTS/NOT EXISTS
chain, q2's correlated scalar min, correlated NOT IN), through three
fold cycles, and asserts that the Spark task count of a commit (its
execute plus the read of its view) in the third cycle is no higher than
in the second (the first cycle still folds the hydration's parts), and
that every view equals a recompute of its own SQL after every commit.
"""

import random
import statistics

import pytest

pytestmark = pytest.mark.soak

VIEWS = {
    "sk_q21": ("""
        SELECT s_name, COUNT(*) AS numwait
        FROM sk_supp
        JOIN sk_li ON s_suppkey = l_suppkey
        JOIN sk_ord ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F' AND l_receiptdate > l_commitdate
          AND EXISTS (SELECT 1 FROM sk_li l2
                      WHERE l2.l_orderkey = sk_li.l_orderkey
                        AND l2.l_suppkey <> sk_li.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM sk_li l3
                          WHERE l3.l_orderkey = sk_li.l_orderkey
                            AND l3.l_suppkey <> sk_li.l_suppkey
                            AND l3.l_receiptdate > l3.l_commitdate)
        GROUP BY s_name""", "sk_li"),
    "sk_q2": ("""
        SELECT p_partkey, l_extendedprice
        FROM sk_part, sk_pli
        WHERE p_partkey = l_partkey AND p_size = 15
          AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                 FROM sk_pli l2
                                 WHERE l2.l_partkey = p_partkey)""",
              "sk_pli"),
    "sk_ni": ("""
        SELECT g, x FROM sk_t
        WHERE x NOT IN (SELECT j FROM sk_u WHERE sk_u.g2 = sk_t.g)""",
              "sk_u"),
}
FOLD = 16  # appends between folds of a maintained arrangement
COMMITS_PER_TABLE = 3 * FOLD


def _values(rows) -> str:
    return ", ".join(
        "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")"
        for r in rows)


def _setup(rng) -> list[str]:
    return [
        "CREATE TABLE sk_supp (s_suppkey BIGINT, s_name STRING)",
        "CREATE TABLE sk_li (l_orderkey BIGINT, l_suppkey BIGINT, "
        "l_receiptdate BIGINT, l_commitdate BIGINT)",
        "CREATE TABLE sk_ord (o_orderkey BIGINT, o_orderstatus STRING)",
        "CREATE TABLE sk_part (p_partkey BIGINT, p_size BIGINT)",
        "CREATE TABLE sk_pli (l_partkey BIGINT, l_extendedprice BIGINT)",
        "CREATE TABLE sk_t (g BIGINT, x BIGINT)",
        "CREATE TABLE sk_u (g2 BIGINT, j BIGINT)",
        "INSERT INTO sk_supp VALUES "
        + _values([(s, f"s{s}") for s in range(1, 9)]),
        "INSERT INTO sk_ord VALUES "
        + _values([(o, rng.choice("FFO")) for o in range(100, 130)]),
        "INSERT INTO sk_li VALUES "
        + _values([(o, rng.randint(1, 8), rng.randint(1, 9), 5)
                   for o in range(100, 130) for _ in range(3)]),
        "INSERT INTO sk_part VALUES "
        + _values([(p, rng.choice([15, 15, 20])) for p in range(1, 21)]),
        "INSERT INTO sk_pli VALUES "
        + _values([(rng.randint(1, 20), rng.randint(10, 60))
                   for _ in range(80)]),
        "INSERT INTO sk_t VALUES "
        + _values([(rng.randint(1, 10), rng.randint(1, 15))
                   for _ in range(30)] + [(3, None), (None, 4)]),
        "INSERT INTO sk_u VALUES "
        + _values([(rng.randint(1, 10), rng.randint(1, 15))
                   for _ in range(20)]),
    ]


def _commit(rng, table: str) -> str:
    kind = rng.choice(("insert", "insert", "update", "delete"))
    if table == "sk_li":
        o, s = rng.randint(100, 132), rng.randint(1, 8)
        if kind == "insert":
            return ("INSERT INTO sk_li VALUES "
                    + _values([(o, s, rng.randint(1, 9), 5)]))
        if kind == "update":
            return (f"UPDATE sk_li SET l_receiptdate = {rng.randint(1, 9)}"
                    f" WHERE l_orderkey = {o} AND l_suppkey = {s}")
        return f"DELETE FROM sk_li WHERE l_orderkey = {o}"
    if table == "sk_pli":
        p = rng.randint(1, 20)
        if kind == "insert":
            return ("INSERT INTO sk_pli VALUES "
                    + _values([(p, rng.randint(5, 60))]))
        if kind == "update":
            return (f"UPDATE sk_pli SET l_extendedprice = "
                    f"{rng.randint(5, 60)} WHERE l_partkey = {p}")
        return f"DELETE FROM sk_pli WHERE l_partkey = {p}"
    g = rng.randint(1, 10)
    if kind == "insert":
        j = None if rng.random() < 0.1 else rng.randint(1, 15)
        return "INSERT INTO sk_u VALUES " + _values([(g, j)])
    if kind == "update":
        return f"UPDATE sk_u SET j = {rng.randint(1, 15)} WHERE g2 = {g}"
    return f"DELETE FROM sk_u WHERE g2 = {g}"


def _tasks(sc, group: str) -> int:
    """Tasks run by one job group (the listener bus drained first: the
    status store is filled from it asynchronously)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jt = sc._jsc.statusTracker()
    stages = set()
    for j in jt.getJobIdsForGroup(group):
        info = jt.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds())
    total = 0
    for st in stages:
        info = jt.getStageInfo(st)
        if info is not None:
            total += info.numCompletedTasks()
    return total


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((x is None, x) for x in t))


def test_commit_tasks_flat_across_folds(spark):
    from materialize_spark.plans.sqlfront import MzSession

    rng = random.Random(17)
    s = MzSession(spark)
    for stmt in _setup(rng):
        s.execute(stmt)
    for v, (body, _t) in VIEWS.items():
        s.execute(f"CREATE MATERIALIZED VIEW {v} WITH "
                  f"(MAINTENANCE 'delta') AS {body}")
        s.sql(f"SELECT * FROM {v}").collect()

    sc = spark.sparkContext
    tasks = []
    try:
        for i in range(COMMITS_PER_TABLE * len(VIEWS)):
            v, (body, table) = list(VIEWS.items())[i % len(VIEWS)]
            group = f"soak_commit_{i}"
            sc.setJobGroup(group, "soak commit")
            s.execute(_commit(rng, table))
            got = _rows(s.sql(f"SELECT * FROM {v}"))
            sc.setLocalProperty("spark.jobGroup.id", None)
            tasks.append(_tasks(sc, group))
            assert got == _rows(s.sql(body)), (i, v)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # per view, the median task count over a whole fold cycle (one
    # rise and one fold): cycle 3 must not cost more than cycle 2
    grown = {}
    for k, v in enumerate(VIEWS):
        own = tasks[k::len(VIEWS)]
        second = statistics.median(own[FOLD:2 * FOLD])
        third = statistics.median(own[2 * FOLD:])
        if third > 1.25 * second + 2:
            grown[v] = own
    assert not grown, f"tasks per commit grew: {grown}"
    s.run_script("".join(f"DROP MATERIALIZED VIEW {v};" for v in VIEWS)
                 + "DROP TABLE sk_supp; DROP TABLE sk_li; DROP TABLE sk_ord;"
                 "DROP TABLE sk_part; DROP TABLE sk_pli; DROP TABLE sk_t;"
                 "DROP TABLE sk_u;")

"""The 8 headline TPC-H queries as SQL text both engines accept.

This is the benchmark's own copy of the engine registry's oracle text
(``materialize_spark/queries/tpch.py``), so later changes to the
registry cannot change what the benchmark measures. One edit: q3 and
q18 format ``o_orderdate`` with DuckDB's ``strftime``, which the engine
does not resolve (UNRESOLVED_ROUTINE); here they use
``CAST(CAST(o_orderdate AS DATE) AS STRING)``, which gives the same
``YYYY-MM-DD`` text in both.
"""

from __future__ import annotations

_ORDERDATE = "CAST(CAST(o_orderdate AS DATE) AS STRING)"

HEADLINE: dict[str, str] = {
    "tpch_q1": """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT)) / 1e2, 2) AS sum_base_price,
           round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4 + 0.5) AS BIGINT)) / 1e4, 2) AS sum_disc_price,
           round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1e6 + 0.5) AS BIGINT)) / 1e6, 2) AS sum_charge,
           round(avg(l_quantity), 4)      AS avg_qty,
           round(sum(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT)) / 1e2 / count(*), 4) AS avg_price,
           round(sum(CAST(floor(l_discount * 1e2 + 0.5) AS BIGINT)) / 1e2 / count(*), 6) AS avg_disc,
           CAST(count(*) AS BIGINT)       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3": f"""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           {_ORDERDATE} AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "tpch_q5": """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    "tpch_q6": """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "tpch_q9": """
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS amount
          FROM part JOIN lineitem ON p_partkey = l_partkey
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN orders ON o_orderkey = l_orderkey
                    JOIN nation ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    """,
    "tpch_q13": """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
    "tpch_q18": f"""
    SELECT c_name, c_custkey, o_orderkey,
           {_ORDERDATE} AS orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    "tpch_q21": """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                  JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
}


# The three heavy delta-MV shapes of the registry entries
# sqlfront_delta_mv_q21_exists, _q2_shape and _corr_not_in, over the
# small churn tables: view name -> (body, input tables).
CHURN_VIEWS: dict[str, tuple[str, tuple[str, ...]]] = {
    "dq21": ("""
        SELECT s_name, COUNT(*) AS numwait
        FROM dq_supp
        JOIN dq_li ON s_suppkey = l_suppkey
        JOIN dq_ord ON o_orderkey = l_orderkey
        JOIN dq_nat ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND l_receiptdate > l_commitdate
          AND n_name = 'SAUDI ARABIA'
          AND EXISTS (SELECT 1 FROM dq_li l2
                      WHERE l2.l_orderkey = dq_li.l_orderkey
                        AND l2.l_suppkey <> dq_li.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM dq_li l3
                          WHERE l3.l_orderkey = dq_li.l_orderkey
                            AND l3.l_suppkey <> dq_li.l_suppkey
                            AND l3.l_receiptdate > l3.l_commitdate)
        GROUP BY s_name""", ("dq_supp", "dq_li", "dq_ord", "dq_nat")),
    "cs_q2": ("""
        SELECT s_name, p_partkey, l_extendedprice
        FROM cs_part, cs_supp, cs_li
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND p_size = 15
          AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                                 FROM cs_li l2
                                 WHERE l2.l_partkey = p_partkey)""",
              ("cs_part", "cs_supp", "cs_li")),
    "cni_in": ("""
        SELECT g, x FROM cni_t
        WHERE x IN (SELECT j FROM cni_u WHERE cni_u.g2 = cni_t.g)""",
               ("cni_t", "cni_u")),
    "cni_ni": ("""
        SELECT g, x FROM cni_t
        WHERE x NOT IN (SELECT j FROM cni_u WHERE cni_u.g2 = cni_t.g)""",
               ("cni_t", "cni_u")),
}

#!/usr/bin/env python
"""Narrative demo — the Spark-native equivalent of the reference's
``run_demo.sh`` walkthrough.

Runs the flagship query (comma joins + scalar subqueries + filters, the
shape of the reference's ``demo_query.sql``), then shows everything the
reference's CLI showed — for real, from Catalyst:

1. the transform log (the optimizer rules that fired, with Catalyst's
   own per-rule times),
2. the optimized plan tree with per-node statistics,
3. the 4-component cost report in the reference's own cost-model style,
4. the result rows.

Usage: python examples/demo.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from sql_query_optimizer_cpp_spark.engine import Engine
from sql_query_optimizer_cpp_spark.session import get_session

FLAGSHIP = """
SELECT c.c_custkey, c.c_name,
  (SELECT n_name FROM nation n WHERE n.n_nationkey = c.c_nationkey) AS party_name,
  (SELECT r_name FROM region r JOIN nation n2 ON r.r_regionkey = n2.n_regionkey
    WHERE n2.n_nationkey = c.c_nationkey) AS district_name
FROM customer c, orders o, lineitem l
WHERE c.c_custkey = o.o_custkey
  AND o.o_orderkey = l.l_orderkey
  AND c.c_acctbal > 3000
  AND year(o.o_orderdate) = 2000
  AND 1=1
ORDER BY c.c_custkey, o.o_orderkey, l.l_linenumber
LIMIT 10
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session(app_name="demo")
    eng = Engine(spark, sf_dir)

    print("=" * 72)
    print("UNOPTIMIZED QUERY (comma joins + 2 scalar subqueries + trivial filter)")
    print("=" * 72)
    print(FLAGSHIP)

    report = eng.optimize(FLAGSHIP)
    print("=" * 72)
    print("OPTIMIZER TRACE (rules that changed the plan, from Catalyst's tracker)")
    print("=" * 72)
    print(report.render())

    print()
    print("=" * 72)
    print("COST REPORT (reference 4-component style over Catalyst estimates)")
    print("=" * 72)
    print(eng.cost(FLAGSHIP).render())

    print()
    print("=" * 72)
    print("GENETIC JOIN-ORDER SEARCH (the reference's disabled skeleton, live)")
    print("=" * 72)
    advice = eng.join_order_advice(
        "SELECT c.c_name, n.n_name, r.r_name "
        "FROM lineitem l, orders o, customer c, supplier s, nation n, region r "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
        "AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = n.n_nationkey "
        "AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey"
    )
    print(advice.render())
    print("(advisory — Catalyst CBO+AQE still pick the executed plan)")

    print()
    print("=" * 72)
    print("RESULT")
    print("=" * 72)
    eng.sql(FLAGSHIP).show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()

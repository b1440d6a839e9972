"""TPC-DS tranche 5: combination idioms 49-60 of the 99-query corpus.

The reference plans all 99 TPC-DS queries (reference
core/tests/tpcds_planning.rs); tranches 1-4 shaped 48 of the distinct
combination idioms.  This tranche adds the ones the round-5 verdict
called out plus the remaining headline combinations, re-expressed on
the driver star schema:

- q14: INTERSECT-driven sales — an item set defined by a channel
  INTERSECT drives a subsequent aggregation gated by a scalar-subquery
  average threshold;
- q64: the twice-joined wide star — the same per-(customer,item,year)
  aggregate self-joined across consecutive years (re-buy at a lower
  price), dimensions joined on both arms;
- q23: frequent items CROSS-YEAR (frequent in BOTH years) restricted
  to best customers, feeding a third-year revenue total;
- q2:  weekday share compared across two years (dow x year rollup
  self-joined at yr+1);
- q44: best and worst performers — two opposite rankings of ONE
  aggregate equi-joined on rank position;
- q47/q57: LAG + LEAD sandwich — current vs the 3-point moving center
  average, deviants only;
- q32/q92: correlated average threshold — rows beating 1.3x their own
  group's average via correlated scalar subqueries (integer
  cross-multiplied, no FP at the boundary);
- q62/q99: days-to-ship bucket matrix (CASE on date arithmetic);
- q45: local IN-list OR membership IN-subquery (the OR-with-subquery
  mark-join shape);
- q94/q95: multi-EXISTS on the same fact (two-supplier orders with no
  returned line);
- q39: volatile items across consecutive months — integer-exact
  coefficient-of-variation flags self-joined at month+1;
- q9:  scalar subqueries inside CASE arms off a one-row anchor table.

Determinism: money through integer cents, ratios ROUND(...,6), years
EXTRACT->BIGINT, exact integer cross-multiplication wherever a
float threshold would sit on a comparison boundary, total-order ORDER
BY + LIMIT on every multi-row output.  Self-referenced reduced
aggregates are registered through register_split_sql so the shared
stage materializes ONCE on Spark (CTE-inlining countermeasure,
operators/materialize.py); DuckDB keeps the single statement.

Registered in a module imported LAST so these never-swept additions
queue BEHIND the round-6 front-50 (sweep-rotation contract).
"""

from __future__ import annotations

from datafusion_umami_spark.operators.materialize import register_split_sql
from datafusion_umami_spark.registry import probe, register_sql

# --- q14: INTERSECT-driven sales with a scalar average gate ---------------
_PP14 = """
        SELECT l_partkey AS part,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem
        WHERE l_shipdate >= DATE '1998-01-01'
          AND l_shipdate < DATE '1999-01-01'
        GROUP BY l_partkey"""
# r14 discrimination fix (probe-found): the old INTERSECT legs were
# unfenced ('A' lines ∩ 'N' lines) and EVERY part has both flags at
# every SF, so the semi-filter excluded nothing — INTERSECT never
# discriminated.  Both legs now require a bulk line (l_quantity >= 45,
# the top ~12% of the 1-50 uniform), putting members AND rejected pp
# parts in stable balance (87/110, 977/1012, 9700/10160 probed at
# sf0.001/0.01/0.1).
_Q14_INTERSECT = """SELECT l_partkey FROM lineitem
            WHERE l_returnflag = 'A' AND l_quantity >= 45
            INTERSECT
            SELECT l_partkey FROM lineitem
            WHERE l_returnflag = 'N' AND l_quantity >= 45"""
_Q14_FINAL = f"""
    SELECT p.part, p.rev_cents
    FROM {{pp}} p
    WHERE p.part IN (
            {_Q14_INTERSECT})
      AND CAST(p.rev_cents AS DOUBLE)
          > (SELECT AVG(CAST(rev_cents AS DOUBLE)) FROM {{pp}})
    ORDER BY p.rev_cents DESC, p.part
    LIMIT 500
    """

register_split_sql(
    "tpcds_intersect_driven_sales",
    stages=[(_PP14, "t5_pp14_m")],
    final_sql=_Q14_FINAL.format(pp="t5_pp14_m"),
    oracle="WITH pp AS (" + _PP14 + ")" + _Q14_FINAL.format(pp="pp"),
    tags=("tpcds", "intersect", "scalar-threshold"),
    discrimination=probe(
        intersect_members=f"SELECT COUNT(*) FROM ({_Q14_INTERSECT})",
        intersect_rejected=f"""WITH pp AS ({_PP14})
            SELECT COUNT(*) FROM pp
            WHERE part NOT IN ({_Q14_INTERSECT})""",
        above_avg=f"""WITH pp AS ({_PP14})
            SELECT COUNT(*) FROM pp WHERE CAST(rev_cents AS DOUBLE)
              > (SELECT AVG(CAST(rev_cents AS DOUBLE)) FROM pp)""",
        below_avg=f"""WITH pp AS ({_PP14})
            SELECT COUNT(*) FROM pp WHERE CAST(rev_cents AS DOUBLE)
              <= (SELECT AVG(CAST(rev_cents AS DOUBLE)) FROM pp)""",
    ),
)

# --- q64: twice-joined wide star (re-buy at a lower price) ----------------
# r14 (guide §2.2 shuffle fewer bytes): the final only ever reads buy
# rows with yr in [1996, 2001] (b1 fenced 1996-2000; b2 joined at
# b1.yr + 1), and yr is a group key, so restricting the SOURCE rows to
# that orderdate window drops ~60% of the join+aggregate input without
# changing any group the final consumes.  Written as a direct
# o_orderdate range (not EXTRACT) so it reaches the parquet scan as a
# pushed filter on BOTH engines.
#
# r15 (guide §2.4 remove shuffles outright): the consecutive-year
# self-join IS a window.  (cust, part, yr) is the aggregate's group key
# — unique — so b1's unique join partner is LEAD over (cust, part)
# ORDER BY yr, gated on next_yr = yr + 1.  One pass over the aggregate
# replaces two scans + a sort-merge self-join, and the
# REPARTITION(cust, part) hint under the aggregate lets the aggregate
# AND the window share ONE exchange (HashPartitioning on a subset of
# the group keys satisfies the aggregate's clustering requirement).
# Plan: 3 shuffle exchanges + a materialization job -> 1 exchange, no
# checkpoint.  Both engines run the SAME window text (DuckDB parses the
# hint as a comment), byte-identical to the join form at
# sf0.001/0.01/0.1 in DuckDB and pinned on adversarial micro-data in
# tests/test_fuzz.py; interleaved A/B at sf0.1: 1.49 -> 0.83 s.
# _BUY64/_Q64_FINAL stay defined as the equivalence REFERENCE texts
# (the fence + window pins in tests/test_fuzz.py run them in DuckDB).
_BUY64 = """
        SELECT o.o_custkey AS cust, l.l_partkey AS part,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
               MIN(l.l_extendedprice) AS best_price
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '2002-01-01'
        GROUP BY o.o_custkey, l.l_partkey,
                 CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)"""
_Q64_FINAL = """
    SELECT c.c_name AS cust_name, b1.part AS part_key,
           p.p_name AS part_name, b1.yr AS first_year,
           b1.best_price AS price_y1, b2.best_price AS price_y2
    FROM {buy} b1
    JOIN {buy} b2 ON b1.cust = b2.cust AND b1.part = b2.part
                 AND b2.yr = b1.yr + 1
    JOIN customer c ON b1.cust = c.c_custkey
    JOIN part p ON b1.part = p.p_partkey
    WHERE b2.best_price < b1.best_price
      AND b1.yr BETWEEN 1996 AND 2000
    ORDER BY cust_name, part_key, first_year
    LIMIT 1000
    """

_Q64_WIN = """
    WITH buyraw AS (
      SELECT /*+ REPARTITION(cust, part) */
             o.o_custkey AS cust, l.l_partkey AS part,
             CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
             l.l_extendedprice AS price
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= DATE '1996-01-01'
        AND o.o_orderdate < DATE '2002-01-01'
    ),
    buy AS (
      SELECT cust, part, yr, MIN(price) AS best_price
      FROM buyraw GROUP BY cust, part, yr
    )
    SELECT c.c_name AS cust_name, w.part AS part_key,
           p.p_name AS part_name, w.yr AS first_year,
           w.best_price AS price_y1, w.next_price AS price_y2
    FROM (
      SELECT cust, part, yr, best_price,
             LEAD(yr) OVER (PARTITION BY cust, part ORDER BY yr) AS next_yr,
             LEAD(best_price) OVER (PARTITION BY cust, part ORDER BY yr)
                 AS next_price
      FROM buy) w
    JOIN customer c ON w.cust = c.c_custkey
    JOIN part p ON w.part = p.p_partkey
    WHERE w.next_yr = w.yr + 1
      AND w.next_price < w.best_price
      AND w.yr BETWEEN 1996 AND 2000
    ORDER BY cust_name, part_key, first_year
    LIMIT 1000
    """

# probe rows: every (cust, part, yr) group in the final's year fence with
# its LEAD partner — the next_yr = yr + 1 gate keeps consecutive years
# and rejects later-year partners, and the price test keeps declines
_W64 = f"""WITH buy AS ({_BUY64}), w AS (
      SELECT yr, best_price,
             LEAD(yr) OVER (PARTITION BY cust, part ORDER BY yr) AS next_yr,
             LEAD(best_price) OVER (PARTITION BY cust, part ORDER BY yr)
                 AS next_price
      FROM buy)
    SELECT COUNT(*) FROM w WHERE yr BETWEEN 1996 AND 2000 AND"""

register_sql(
    "tpcds_twice_joined_wide_star",
    _Q64_WIN,
    tags=("tpcds", "self-join", "wide-star", "rebuy"),
    bench=True,
    discrimination=probe(
        consecutive_pairs=f"{_W64} next_yr = yr + 1",
        gap_rejected=f"{_W64} next_yr > yr + 1",
        decline_survivors=f"{_W64} next_yr = yr + 1 AND next_price < best_price",
    ),
)

# --- q23: frequent items in BOTH years x best customers -------------------
_FREQ23 = """
        SELECT l.l_partkey AS part,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
               COUNT(DISTINCT l.l_orderkey) AS n_orders
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= DATE '1998-01-01'
          AND o.o_orderdate < DATE '2000-01-01'
        GROUP BY l.l_partkey, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)"""
_BEST23 = """
        SELECT o_custkey AS cust
        FROM orders
        GROUP BY o_custkey
        ORDER BY CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) DESC, o_custkey
        LIMIT 50"""
_Q23_FINAL = """
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS best_cust_freq_item_cents,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= DATE '2000-01-01'
      AND o.o_custkey IN (SELECT cust FROM {best})
      AND l.l_partkey IN (SELECT f1.part FROM {freq} f1
                          JOIN {freq} f2 ON f1.part = f2.part
                          WHERE f1.yr = 1998 AND f2.yr = 1999
                            AND f1.n_orders >= 2 AND f2.n_orders >= 2)
    """

register_split_sql(
    "tpcds_frequent_item_cross_year",
    stages=[(_FREQ23, "t5_freq23_m"), (_BEST23, "t5_best23_m")],
    final_sql=_Q23_FINAL.format(freq="t5_freq23_m", best="t5_best23_m"),
    oracle="WITH freq AS ("
    + _FREQ23
    + "), best AS ("
    + _BEST23
    + ")"
    + _Q23_FINAL.format(freq="freq", best="best"),
    tags=("tpcds", "frequent-items", "cross-year", "semi-join"),
    discrimination=probe(
        kept_lines=f"""WITH freq AS ({_FREQ23}), best AS ({_BEST23})
            SELECT COUNT(*) FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= DATE '2000-01-01'
              AND o.o_custkey IN (SELECT cust FROM best)
              AND l.l_partkey IN (SELECT f1.part FROM freq f1
                                  JOIN freq f2 ON f1.part = f2.part
                                  WHERE f1.yr = 1998 AND f2.yr = 1999
                                    AND f1.n_orders >= 2
                                    AND f2.n_orders >= 2)""",
        rejected_by_item=f"""WITH freq AS ({_FREQ23}), best AS ({_BEST23})
            SELECT COUNT(*) FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= DATE '2000-01-01'
              AND o.o_custkey IN (SELECT cust FROM best)
              AND l.l_partkey NOT IN (SELECT f1.part FROM freq f1
                                      JOIN freq f2 ON f1.part = f2.part
                                      WHERE f1.yr = 1998 AND f2.yr = 1999
                                        AND f1.n_orders >= 2
                                        AND f2.n_orders >= 2)""",
        rejected_by_cust=f"""WITH freq AS ({_FREQ23}), best AS ({_BEST23})
            SELECT COUNT(*) FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= DATE '2000-01-01'
              AND o.o_custkey NOT IN (SELECT cust FROM best)
              AND l.l_partkey IN (SELECT f1.part FROM freq f1
                                  JOIN freq f2 ON f1.part = f2.part
                                  WHERE f1.yr = 1998 AND f2.yr = 1999
                                    AND f1.n_orders >= 2
                                    AND f2.n_orders >= 2)""",
    ),
)

# --- q2: weekday share compared across two years --------------------------
# Spark's dayofweek() is 1=Sunday..7; DuckDB's dayofweek() is 0=Sunday..6
# — the Spark side shifts by one so both emit 0-based dow.
_DOW2_SPARK = """
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
               CAST(dayofweek(o_orderdate) - 1 AS BIGINT) AS dow,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT),
                 CAST(dayofweek(o_orderdate) - 1 AS BIGINT)"""
_DOW2_DUCK = """
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
               CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT),
                 CAST(dayofweek(o_orderdate) AS BIGINT)"""
_Q2_FINAL = """
    SELECT a.yr, a.dow, a.rev_cents AS rev_y1, b.rev_cents AS rev_y2,
           ROUND(CAST(b.rev_cents AS DOUBLE) / a.rev_cents, 6) AS wk_ratio
    FROM {dw} a
    JOIN {dw} b ON a.dow = b.dow AND b.yr = a.yr + 1
    WHERE a.yr BETWEEN 1996 AND 2000 AND a.rev_cents > 0
    ORDER BY a.yr, a.dow
    LIMIT 500
    """

register_split_sql(
    "tpcds_weekday_share_two_years",
    stages=[(_DOW2_SPARK, "t5_dow2_m")],
    final_sql=_Q2_FINAL.format(dw="t5_dow2_m"),
    oracle="WITH dw AS (" + _DOW2_DUCK + ")" + _Q2_FINAL.format(dw="dw"),
    tags=("tpcds", "weekday", "cross-year"),
)

# --- q44: best and worst performers joined on rank position ---------------
_PREV44 = """
        SELECT l_partkey AS part,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem
        GROUP BY l_partkey"""
_Q44_BODY = """best AS (
        SELECT part, rev_cents,
               RANK() OVER (ORDER BY rev_cents DESC, part) AS rnk
        FROM {pv}),
    worst AS (
        SELECT part, rev_cents,
               RANK() OVER (ORDER BY rev_cents ASC, part) AS rnk
        FROM {pv})
    SELECT b.rnk AS rnk,
           pb.p_name AS best_part, b.rev_cents AS best_cents,
           pw.p_name AS worst_part, w.rev_cents AS worst_cents
    FROM best b
    JOIN worst w ON b.rnk = w.rnk
    JOIN part pb ON b.part = pb.p_partkey
    JOIN part pw ON w.part = pw.p_partkey
    WHERE b.rnk <= 10
    ORDER BY rnk
    """

register_split_sql(
    "tpcds_top_bottom_rank_join",
    stages=[(_PREV44, "t5_prev44_m")],
    final_sql="WITH " + _Q44_BODY.format(pv="t5_prev44_m"),
    oracle="WITH pv AS (" + _PREV44 + "), " + _Q44_BODY.format(pv="pv"),
    tags=("tpcds", "rank-join", "best-worst"),
)

# --- q47/q57: LAG + LEAD sandwich vs 3-point center average ---------------
register_sql(
    "tpcds_lag_lead_sandwich",
    """
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mo,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY o_orderpriority,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT),
                 CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT)),
    sandwich AS (
        SELECT priority, yr, mo, rev_cents,
               LAG(rev_cents) OVER (PARTITION BY priority
                                    ORDER BY yr, mo) AS prev_cents,
               LEAD(rev_cents) OVER (PARTITION BY priority
                                     ORDER BY yr, mo) AS next_cents
        FROM monthly)
    SELECT priority, yr, mo, rev_cents, prev_cents, next_cents,
           ROUND(CAST(3 * rev_cents AS DOUBLE)
                 / (prev_cents + rev_cents + next_cents), 6) AS center_ratio
    FROM sandwich
    WHERE prev_cents IS NOT NULL AND next_cents IS NOT NULL
      AND 10 * 3 * rev_cents > 11 * (prev_cents + rev_cents + next_cents)
    ORDER BY priority, yr, mo
    LIMIT 500
    """,
    tags=("tpcds", "lag-lead", "moving-center"),
    discrimination=probe(
        # lag/lead NULL arms fire at each priority's first/last month
        partition_edges="""SELECT CAST(2 * COUNT(DISTINCT o_orderpriority)
            AS BIGINT) FROM orders""",
        interior_months="""SELECT COUNT(*) FROM (
            SELECT o_orderpriority, EXTRACT(YEAR FROM o_orderdate),
                   EXTRACT(MONTH FROM o_orderdate)
            FROM orders GROUP BY 1, 2, 3)""",
    ),
)

# --- q32/q92: correlated average threshold, integer-exact -----------------
# discount > 1.3 x the part's average discount, cross-multiplied in
# integer hundredths (10*d*n > 13*sum) so no FP sits on the boundary.
register_sql(
    "tpcds_correlated_avg_discount",
    """
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(CAST(round(l1.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS excess_disc_cents
    FROM lineitem l1
    WHERE 10 * CAST(round(l1.l_discount * 100) AS BIGINT)
              * (SELECT COUNT(*) FROM lineitem l2
                 WHERE l2.l_partkey = l1.l_partkey)
          > 13 * (SELECT CAST(SUM(CAST(round(l3.l_discount * 100) AS BIGINT))
                              AS BIGINT)
                  FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)
    """,
    tags=("tpcds", "correlated-scalar", "threshold"),
)

# --- q62/q99: days-to-ship bucket matrix ----------------------------------
register_sql(
    "tpcds_days_to_ship_buckets",
    """
    SELECT o_orderpriority AS priority,
           CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate)
                              BETWEEN 0 AND 30 THEN 1 ELSE 0 END)
                AS BIGINT) AS d0_30,
           CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate)
                              BETWEEN 31 AND 60 THEN 1 ELSE 0 END)
                AS BIGINT) AS d31_60,
           CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate)
                              BETWEEN 61 AND 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS d61_90,
           CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS d90_plus
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                              BETWEEN 0 AND 30 THEN 1 ELSE 0 END)
                AS BIGINT) AS d0_30,
           CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                              BETWEEN 31 AND 60 THEN 1 ELSE 0 END)
                AS BIGINT) AS d31_60,
           CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                              BETWEEN 61 AND 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS d61_90,
           CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS d90_plus
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    tags=("tpcds", "bucket-matrix", "date-arith"),
    discrimination=probe(
        # every bucket arm fires; the d<0 population (generator ships
        # before order date) documents the deliberate fall-through set
        bucket_0_30="""SELECT COUNT(*) FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate, l_shipdate)
                  BETWEEN 0 AND 30""",
        bucket_31_60="""SELECT COUNT(*) FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate, l_shipdate)
                  BETWEEN 31 AND 60""",
        bucket_61_90="""SELECT COUNT(*) FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate, l_shipdate)
                  BETWEEN 61 AND 90""",
        bucket_90_plus="""SELECT COUNT(*) FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate, l_shipdate) > 90""",
        fallthrough_negative="""SELECT COUNT(*) FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE date_diff('day', o_orderdate, l_shipdate) < 0""",
    ),
)

# --- q45: local IN-list OR membership IN-subquery (mark-join shape) -------
# r14 discrimination fix (probe-found): the subquery arm demanded >= 20
# orders but no customer places more than 18 at sf0.001, so the OR
# never rescued a row locally (the mark-join's "true via subquery"
# branch was empty).  Threshold 14 sits inside the per-customer order
# distribution at every SF (arm2-only 22/199/1880 probed at
# sf0.001/0.01/0.1); per-customer order counts are roughly
# SF-invariant, so the branch population is scale-stable.
_Q45_SUB = """SELECT o_custkey FROM orders
                        GROUP BY o_custkey HAVING COUNT(*) >= 14"""
register_sql(
    "tpcds_or_local_or_subquery",
    f"""
    SELECT n_name AS nation, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_5')
       OR c_custkey IN ({_Q45_SUB})
    GROUP BY n_name
    ORDER BY nation
    """,
    tags=("tpcds", "or-subquery", "mark-join"),
    discrimination=probe(
        local_arm_only=f"""SELECT COUNT(*) FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_5')
              AND c_custkey NOT IN ({_Q45_SUB})""",
        subquery_arm_only=f"""SELECT COUNT(*) FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name NOT IN ('NATION_1', 'NATION_5')
              AND c_custkey IN ({_Q45_SUB})""",
        rejected_by_both=f"""SELECT COUNT(*) FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name NOT IN ('NATION_1', 'NATION_5')
              AND c_custkey NOT IN ({_Q45_SUB})""",
    ),
)

# --- q94/q95: multi-EXISTS on the same fact -------------------------------
register_sql(
    "tpcds_multi_exists_same_fact",
    """
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem a JOIN lineitem b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_suppkey <> b.l_suppkey
                  WHERE a.l_orderkey = o_orderkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem r
                      WHERE r.l_orderkey = o_orderkey
                        AND r.l_returnflag = 'R')
    """,
    tags=("tpcds", "multi-exists", "anti-join"),
    discrimination=probe(
        kept="""SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'
            AND EXISTS (SELECT 1 FROM lineitem a JOIN lineitem b
                          ON a.l_orderkey = b.l_orderkey
                         AND a.l_suppkey <> b.l_suppkey
                        WHERE a.l_orderkey = o_orderkey)
            AND NOT EXISTS (SELECT 1 FROM lineitem r
                            WHERE r.l_orderkey = o_orderkey
                              AND r.l_returnflag = 'R')""",
        rejected_single_supplier="""SELECT COUNT(*) FROM orders
            WHERE o_orderstatus = 'F'
              AND NOT EXISTS (SELECT 1 FROM lineitem a JOIN lineitem b
                                ON a.l_orderkey = b.l_orderkey
                               AND a.l_suppkey <> b.l_suppkey
                              WHERE a.l_orderkey = o_orderkey)""",
        rejected_by_returns="""SELECT COUNT(*) FROM orders
            WHERE o_orderstatus = 'F'
              AND EXISTS (SELECT 1 FROM lineitem a JOIN lineitem b
                            ON a.l_orderkey = b.l_orderkey
                           AND a.l_suppkey <> b.l_suppkey
                          WHERE a.l_orderkey = o_orderkey)
              AND EXISTS (SELECT 1 FROM lineitem r
                          WHERE r.l_orderkey = o_orderkey
                            AND r.l_returnflag = 'R')""",
    ),
)

# --- q39: volatile items across consecutive months, integer-exact cov ----
# cov > 0.5  <=>  var > mean^2/4  <=>  4*n*(n*Sxx - Sx^2) > (n-1)*Sx^2
# with Sx/Sxx integer sums of the integral quantities — no FP boundary.
# r14 discrimination fix (probe-found): HAVING COUNT(*) >= 3 thinned
# part-months so much that NO two consecutive flagged months existed at
# sf0.001 — the whole spec returned an EMPTY result locally (and only
# 4 rows at sf0.01).  A part-month needs just n >= 2 for a variance to
# exist; with that floor the consecutive-pair join fires at every SF
# (pairs 8/103/1035, unpaired 434/4305/41602 probed at
# sf0.001/0.01/0.1) and the HAVING still rejects the singleton months.
_VOL39 = """
        SELECT l.l_partkey AS part,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
               CAST(EXTRACT(MONTH FROM o.o_orderdate) AS BIGINT) AS mo,
               COUNT(*) AS n,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)
                        * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sxx
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_partkey,
                 CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT),
                 CAST(EXTRACT(MONTH FROM o.o_orderdate) AS BIGINT)
        HAVING COUNT(*) >= 2"""
_Q39_BODY = """flagged AS (
        SELECT part, yr, mo FROM {vol}
        WHERE 4 * n * (n * sxx - sx * sx) > (n - 1) * sx * sx)
    SELECT a.part, a.yr, a.mo AS first_month
    FROM flagged a
    JOIN flagged b ON a.part = b.part AND a.yr = b.yr AND b.mo = a.mo + 1
    ORDER BY a.part, a.yr, a.mo
    LIMIT 500
    """

register_split_sql(
    "tpcds_volatile_items_cross_month",
    stages=[(_VOL39, "t5_vol39_m")],
    final_sql="WITH " + _Q39_BODY.format(vol="t5_vol39_m"),
    oracle="WITH vol AS (" + _VOL39 + "), " + _Q39_BODY.format(vol="vol"),
    tags=("tpcds", "volatility", "cross-month", "integer-exact"),
    discrimination=probe(
        having_rejected="""SELECT COUNT(*) FROM (
            SELECT l.l_partkey, EXTRACT(YEAR FROM o.o_orderdate),
                   EXTRACT(MONTH FROM o.o_orderdate)
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2, 3 HAVING COUNT(*) < 2)""",
        flagged=f"""WITH vol AS ({_VOL39})
            SELECT COUNT(*) FROM vol
            WHERE 4*n*(n*sxx - sx*sx) > (n-1)*sx*sx""",
        unflagged=f"""WITH vol AS ({_VOL39})
            SELECT COUNT(*) FROM vol
            WHERE 4*n*(n*sxx - sx*sx) <= (n-1)*sx*sx""",
        consecutive_pairs=f"""WITH vol AS ({_VOL39}), flagged AS (
            SELECT part, yr, mo FROM vol
            WHERE 4*n*(n*sxx - sx*sx) > (n-1)*sx*sx)
            SELECT COUNT(*) FROM flagged a JOIN flagged b
              ON a.part = b.part AND a.yr = b.yr AND b.mo = a.mo + 1""",
        unpaired_flagged=f"""WITH vol AS ({_VOL39}), flagged AS (
            SELECT part, yr, mo FROM vol
            WHERE 4*n*(n*sxx - sx*sx) > (n-1)*sx*sx)
            SELECT COUNT(*) FROM flagged a
            WHERE NOT EXISTS (SELECT 1 FROM flagged b
                              WHERE a.part = b.part AND a.yr = b.yr
                                AND b.mo = a.mo + 1)""",
    ),
)

# --- q9: scalar subqueries inside CASE arms off a one-row anchor ----------
# Subqueries are BARE aggregates (arithmetic lives OUTSIDE the subquery,
# exactly like the real q9 text).  Runtime truth, measured post-execution
# (round-6 probe): Spark's MergeScalarSubqueries folds the three
# subqueries per quantity band into ONE count+avg+avg aggregate and
# ReusedSubquery collapses the 9 textual references to 3 executed fact
# passes — note the PRE-execution plan string shows 9 scans / 0 reuse
# because AQE resolves subquery reuse only at runtime (the
# fact_scan_counts caveat, operators/materialize.py).
# AVG over integer cents is an exact-integer sum / count: deterministic
# on both engines (sums < 2^53), so the CLAUDE.md ROUND(AVG(double))
# hazard does not apply.
register_sql(
    "tpcds_scalar_subqueries_in_case",
    """
    SELECT CASE WHEN (SELECT COUNT(*) FROM lineitem
                      WHERE l_quantity BETWEEN 1 AND 10) > 5000
                THEN ROUND((SELECT AVG(CAST(round(l_extendedprice * 100)
                                       AS BIGINT))
                            FROM lineitem
                            WHERE l_quantity BETWEEN 1 AND 10) / 100.0, 2)
                ELSE ROUND((SELECT AVG(CAST(round(l_discount * 10000)
                                       AS BIGINT))
                            FROM lineitem
                            WHERE l_quantity BETWEEN 1 AND 10) / 10000.0, 4)
           END AS band1,
           CASE WHEN (SELECT COUNT(*) FROM lineitem
                      WHERE l_quantity BETWEEN 11 AND 30) > 5000
                THEN ROUND((SELECT AVG(CAST(round(l_extendedprice * 100)
                                       AS BIGINT))
                            FROM lineitem
                            WHERE l_quantity BETWEEN 11 AND 30) / 100.0, 2)
                ELSE ROUND((SELECT AVG(CAST(round(l_discount * 10000)
                                       AS BIGINT))
                            FROM lineitem
                            WHERE l_quantity BETWEEN 11 AND 30) / 10000.0, 4)
           END AS band2,
           CASE WHEN (SELECT COUNT(*) FROM lineitem
                      WHERE l_quantity > 30) > 5000
                THEN ROUND((SELECT AVG(CAST(round(l_extendedprice * 100)
                                       AS BIGINT))
                            FROM lineitem WHERE l_quantity > 30) / 100.0, 2)
                ELSE ROUND((SELECT AVG(CAST(round(l_discount * 10000)
                                       AS BIGINT))
                            FROM lineitem WHERE l_quantity > 30) / 10000.0, 4)
           END AS band3
    FROM region
    WHERE r_regionkey = 0
    """,
    tags=("tpcds", "scalar-in-case", "anchor-row", "merged-subqueries"),
)

"""Randomized cross-engine fuzz — mirror of the reference's fuzz_cases
(reference datafusion/core/tests/fuzz_cases/: aggregate_fuzz, sort_fuzz,
join_fuzz with a randomized batch generator, cross-checked against
alternate plans / engines) and its batch-size-parameterized operator
tests (joins/hash_join.rs `#[apply(batch_sizes)]`).

Seeded generator (reproducible) composes queries from an ANSI subset
valid verbatim in BOTH Spark SQL and DuckDB: random predicates, group
keys, aggregates, sorts, limits, set ops, ROLLUPs, ranked windows,
exact-integer running-sum frames and correlated (NOT) EXISTS over the
driver tables.  A second seeded corpus (`_gen_case_r7`) appends the
round-7 combination idioms — full-outer aggregate merges, carry-forward
cumulative MAX, dual-rank either-top-k, derived-table self-joins with
integer ratio fences, EXCEPT chains, cross-joined single-row counts —
without perturbing the legacy cases' draw order.  Half the cases
additionally run Spark with a 1 MiB `files.maxPartitionBytes` (many
input splits — the analog of the reference's small batch sizes) to
catch chunking bugs.

All aggregates are exact (integer-cents / counts / min-max), so results
must hash-match bit-for-bit.
"""

from __future__ import annotations

import random

import pytest

from datafusion_umami_spark.oracle import canonical_rows
from datafusion_umami_spark.tables import register_views

N_LEGACY_CASES = 56  # rounds 1-6 corpus; round-7 idiom cases append behind it

_TABLES = {
    "lineitem": {
        "keys": [
            "l_returnflag",
            "l_linestatus",
            "l_linenumber",
            "l_orderkey % 7",
            "l_suppkey % 5",
        ],
        "preds": [
            "l_quantity > 25",
            "l_discount BETWEEN 0.02 AND 0.07",
            "l_shipdate >= DATE '1995-06-01'",
            "l_shipdate < DATE '1997-01-01'",
            "l_returnflag <> 'N'",
            "l_extendedprice < 30000.0",
            "l_orderkey % 3 = 1",
        ],
        "aggs": [
            "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents",
            "CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sum",
            "MIN(l_shipdate) AS first_ship",
            "MAX(l_shipdate) AS last_ship",
            "COUNT(DISTINCT l_suppkey) AS n_supps",
        ],
        "cols": ["l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"],
    },
    "orders": {
        "keys": ["o_orderstatus", "o_orderpriority", "o_custkey % 11"],
        "preds": [
            "o_totalprice > 50000.0",
            "o_orderdate >= DATE '1996-01-01'",
            "o_orderstatus IN ('O', 'F')",
            "o_orderkey % 4 <> 2",
        ],
        "aggs": [
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents",
            "MIN(o_orderdate) AS first_date",
            "COUNT(DISTINCT o_orderpriority) AS n_prio",
        ],
        "cols": ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
    },
}


# equi-join shapes: (left, right, condition, group keys, exact aggs,
# predicate pool drawn from both sides)
_JOINS = [
    (
        "customer",
        "orders",
        "c_custkey = o_custkey",
        ["c_mktsegment", "o_orderstatus", "c_nationkey"],
        [
            "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents",
            "COUNT(DISTINCT o_orderpriority) AS n_prio",
            "MIN(o_orderdate) AS first_date",
        ],
        ["c_acctbal > 0", "o_totalprice > 50000.0", "o_orderstatus IN ('O', 'F')"],
    ),
    (
        "orders",
        "lineitem",
        "o_orderkey = l_orderkey",
        ["o_orderstatus", "l_returnflag", "l_linestatus"],
        [
            "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents",
            "COUNT(DISTINCT l_suppkey) AS n_supps",
            "MAX(l_shipdate) AS last_ship",
        ],
        [
            "o_totalprice > 80000.0",
            "l_quantity > 10",
            "l_shipdate >= DATE '1995-01-01'",
        ],
    ),
]


def _gen_case(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.12:  # equi-join + aggregate
        left, right, cond, keys, aggs, preds = rng.choice(_JOINS)
        where = " AND ".join([cond] + rng.sample(preds, k=rng.randint(1, 2)))
        ks = rng.sample(keys, k=rng.randint(1, 2))
        ags = rng.sample(aggs, k=rng.randint(1, 2))
        key_aliases = [f"{k} AS k{i}" for i, k in enumerate(ks)]
        return (
            f"SELECT {', '.join(key_aliases)}, COUNT(*) AS cnt, {', '.join(ags)} "
            f"FROM {left}, {right} WHERE {where} GROUP BY {', '.join(ks)}"
        )
    if roll < 0.24:  # ranked window per group (unique tie-break, capped)
        part = rng.choice(["o_custkey % 13", "o_orderstatus"])
        k = rng.choice([2, 3])
        pred = rng.choice(_TABLES["orders"]["preds"])
        return (
            f"SELECT o_orderkey, o_custkey, rn FROM ("
            f"  SELECT o_orderkey, o_custkey,"
            f"         ROW_NUMBER() OVER (PARTITION BY {part}"
            f"           ORDER BY o_totalprice DESC, o_orderkey) AS rn"
            f"  FROM orders WHERE {pred}) t "
            f"WHERE rn <= {k} ORDER BY o_orderkey LIMIT 300"
        )
    if roll < 0.36:  # set operation between two slices of one table
        tname = rng.choice(sorted(_TABLES))
        t = _TABLES[tname]
        op = rng.choice(
            ["UNION ALL", "UNION", "INTERSECT", "EXCEPT", "INTERSECT ALL", "EXCEPT ALL"]
        )
        cols = ", ".join(t["cols"][:3])
        p1, p2 = rng.sample(t["preds"], k=2)
        return (
            f"SELECT {cols} FROM {tname} WHERE {p1} "
            f"{op} "
            f"SELECT {cols} FROM {tname} WHERE {p2} "
            f"ORDER BY {cols} LIMIT 500"
        )
    if roll < 0.45:  # ROLLUP over two keys, COALESCE'd for stable output
        tname = rng.choice(sorted(_TABLES))
        t = _TABLES[tname]
        k1, k2 = rng.sample(t["keys"], k=2)
        agg = rng.choice(t["aggs"])
        pred = rng.choice(t["preds"])
        return (
            f"SELECT COALESCE(CAST({k1} AS STRING), 'ALL') AS g1, "
            f"       COALESCE(CAST({k2} AS STRING), 'ALL') AS g2, "
            f"       COUNT(*) AS cnt, {agg} "
            f"FROM {tname} WHERE {pred} GROUP BY ROLLUP({k1}, {k2})"
        )
    if roll < 0.55:  # aggregate-over-frame: exact integer running sums
        part = rng.choice(["o_custkey % 13", "o_orderstatus"])
        frame = rng.choice(
            ["UNBOUNDED PRECEDING", "3 PRECEDING", "10 PRECEDING"]
        )
        pred = rng.choice(_TABLES["orders"]["preds"])
        return (
            f"SELECT o_orderkey, o_custkey,"
            f"       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))"
            f"         OVER (PARTITION BY {part} ORDER BY o_orderkey"
            f"           ROWS BETWEEN {frame} AND CURRENT ROW) AS BIGINT)"
            f"         AS run_cents "
            f"FROM orders WHERE {pred} ORDER BY o_orderkey LIMIT 400"
        )
    if roll < 0.65:  # correlated (NOT) EXISTS against the fact table
        neg = rng.choice(["", "NOT "])
        pred = rng.choice(_TABLES["orders"]["preds"])
        outer_pred = rng.choice(
            ["c_acctbal > 0", "c_mktsegment <> 'BUILDING'", "c_custkey % 2 = 0"]
        )
        return (
            f"SELECT c_custkey, c_name FROM customer "
            f"WHERE {outer_pred} AND {neg}EXISTS ("
            f"  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND {pred}) "
            f"ORDER BY c_custkey LIMIT 300"
        )
    if roll < 0.72:  # integer-exact scalar-subquery threshold (q32 class)
        mult = rng.choice([1, 2, 3])
        key = rng.choice(["o_orderstatus", "o_orderpriority"])
        pred = rng.choice(_TABLES["orders"]["preds"])
        return (
            f"SELECT {key} AS k0, COUNT(*) AS cnt FROM orders "
            f"WHERE {pred} AND CAST(round(o_totalprice * 100) AS BIGINT)"
            f" * (SELECT COUNT(*) FROM orders)"
            f" > {mult} * (SELECT CAST(SUM(CAST(round(o_totalprice * 100)"
            f" AS BIGINT)) AS BIGINT) FROM orders) "
            f"GROUP BY {key}"
        )
    if roll < 0.79:  # LEFT-outer arm thinned by a filter: tiered counts
        dim_pred = rng.choice(
            ["c_acctbal > 9000", "c_mktsegment = 'NO_SUCH'", "c_custkey % 7 = 0"]
        )
        pred = rng.choice(_TABLES["orders"]["preds"])
        return (
            f"SELECT COUNT(*) AS n_all, COUNT(x.c_custkey) AS n_match, "
            f"       MIN(o_orderdate) AS first_order "
            f"FROM orders LEFT JOIN "
            f"  (SELECT * FROM customer WHERE {dim_pred}) x "
            f"  ON o_custkey = x.c_custkey "
            f"WHERE {pred}"
        )
    tname = rng.choice(sorted(_TABLES))
    t = _TABLES[tname]
    preds = rng.sample(t["preds"], k=rng.randint(1, 3))
    where = " AND ".join(preds)
    if roll < 0.9:
        keys = rng.sample(t["keys"], k=rng.randint(1, 2))
        aggs = rng.sample(t["aggs"], k=rng.randint(1, 3))
        key_aliases = [f"{k} AS k{i}" for i, k in enumerate(keys)]
        sql = (
            f"SELECT {', '.join(key_aliases)}, COUNT(*) AS cnt, {', '.join(aggs)} "
            f"FROM {tname} WHERE {where} GROUP BY {', '.join(keys)}"
        )
        if rng.random() < 0.4:
            sql += " HAVING COUNT(*) > 2"
    else:
        cols = rng.sample(t["cols"], k=rng.randint(2, len(t["cols"])))
        uniq = ", ".join(t["cols"][:2])  # deterministic total order
        sql = (
            f"SELECT {', '.join(cols)} FROM {tname} WHERE {where} "
            f"ORDER BY {uniq} LIMIT {rng.choice([7, 40, 200])}"
        )
    return sql


def _gen_case_r7(rng: random.Random) -> str:
    """Round-7 idiom branches, appended behind the legacy corpus so the
    original 56 cases stay byte-identical (same seed, same draw order):
    the q78-class full-outer merge of two keyed aggregates, the q51
    carry-forward cumulative MAX over a per-day aggregate, the q49
    dual-rank either-top-k, the JOB tranche-5 derived-table self-join
    with an integer cross-multiplied ratio fence, the q87 EXCEPT-chain
    cardinality, and the q88 cross-join of single-row aggregates."""
    branch = rng.randrange(6)
    keys = ["o_orderstatus", "o_orderpriority", "o_custkey % 11"]
    preds = _TABLES["orders"]["preds"]
    cents = "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
    if branch == 0:  # q78-class: FULL OUTER join of two keyed aggregates
        k = rng.choice(keys)
        p1, p2 = rng.sample(preds, k=2)
        return (
            f"SELECT COALESCE(a.k0, b.k0) AS k0, "
            f"COALESCE(a.cents, 0) AS cents_a, COALESCE(b.cents, 0) AS cents_b, "
            f"COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS n_both "
            f"FROM (SELECT {k} AS k0, {cents} AS cents, COUNT(*) AS cnt "
            f"      FROM orders WHERE {p1} GROUP BY {k}) a "
            f"FULL OUTER JOIN "
            f"     (SELECT {k} AS k0, {cents} AS cents, COUNT(*) AS cnt "
            f"      FROM orders WHERE {p2} GROUP BY {k}) b "
            f"ON a.k0 = b.k0 ORDER BY k0"
        )
    if branch == 1:  # q51-class: carry-forward running MAX over per-day agg
        k = rng.choice(["o_orderstatus", "o_orderpriority"])
        p = rng.choice(preds)
        return (
            f"SELECT k0, d, MAX(cents) OVER (PARTITION BY k0 ORDER BY d "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max "
            f"FROM (SELECT {k} AS k0, o_orderdate AS d, {cents} AS cents "
            f"      FROM orders WHERE {p} GROUP BY {k}, o_orderdate) t "
            f"ORDER BY k0, d LIMIT 500"
        )
    if branch == 2:  # q49-class: ASC + DESC rank in one pass, either-top-k
        k = rng.choice(keys)
        p = rng.choice(preds)
        topk = rng.choice([3, 5])
        return (
            f"SELECT k0, ra, rd FROM ("
            f"SELECT k0, RANK() OVER (ORDER BY cents ASC, k0) AS ra, "
            f"       RANK() OVER (ORDER BY cents DESC, k0) AS rd "
            f"FROM (SELECT {k} AS k0, {cents} AS cents "
            f"      FROM orders WHERE {p} GROUP BY {k}) s) t "
            f"WHERE ra <= {topk} OR rd <= {topk} ORDER BY k0"
        )
    if branch == 3:  # JOB t5-class: derived aggregate self-joined, ratio fence
        k = rng.choice(keys)
        p1, p2 = rng.sample(preds, k=2)
        m, n = rng.choice([(2, 1), (3, 2), (1, 1)])
        return (
            f"SELECT a.k0 AS k0, a.cents AS cents_a, b.cents AS cents_b "
            f"FROM (SELECT {k} AS k0, {cents} AS cents "
            f"      FROM orders WHERE {p1} GROUP BY {k}) a "
            f"JOIN (SELECT {k} AS k0, {cents} AS cents "
            f"      FROM orders WHERE {p2} GROUP BY {k}) b "
            f"ON a.k0 = b.k0 WHERE a.cents * {m} > b.cents * {n} ORDER BY k0"
        )
    tname = rng.choice(sorted(_TABLES))
    t = _TABLES[tname]
    if branch == 4:  # q87-class: EXCEPT-chain cardinality
        cols = ", ".join(t["cols"][:3])
        p1, p2, p3 = rng.sample(t["preds"], k=3)
        return (
            f"SELECT COUNT(*) AS n FROM ("
            f"SELECT {cols} FROM {tname} WHERE {p1} "
            f"EXCEPT SELECT {cols} FROM {tname} WHERE {p2} "
            f"EXCEPT SELECT {cols} FROM {tname} WHERE {p3}) x"
        )
    # branch 5 — q88-class: cross-join of single-row COUNT aggregates
    p1, p2, p3 = rng.sample(t["preds"], k=3)
    return (
        f"SELECT a.n AS n1, b.n AS n2, c.n AS n3 "
        f"FROM (SELECT COUNT(*) AS n FROM {tname} WHERE {p1}) a, "
        f"     (SELECT COUNT(*) AS n FROM {tname} WHERE {p2}) b, "
        f"     (SELECT COUNT(*) AS n FROM {tname} WHERE {p3}) c"
    )


def _gen_case_r8(rng: random.Random) -> str:
    """Round-8 idiom branches, appended behind the r7 corpus (third
    seeded RNG — legacy and r7 draw orders stay byte-identical): the
    q4-class four-reference aggregate stack with a cross-multiplied
    growth comparison, the q89-class deviation-from-group-mean via
    SUM/COUNT window, the q39-class integer-exact CV fence over a
    consecutive-key self-join, the 25c-class multi-alias bridge clique
    with redundant pairwise equalities, the q58-class SUM(CASE) channel
    pivot with band fences, and the 17a/q41-class duplicate-MIN
    projection behind AND-of-OR fences."""
    branch = rng.randrange(6)
    cents = "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
    preds = _TABLES["orders"]["preds"]
    if branch == 0:  # q4-class: one aggregate shape, four slices, growth fence
        k = rng.choice(["o_custkey % 11", "o_custkey % 7"])
        p1 = rng.choice(preds)  # fences the SHARED aggregate (q4's date_dim
        # restriction lives inside year_total, not on the outer slices)
        agg = (
            f"SELECT {k} AS k0, o_orderstatus AS st, {cents} AS cents "
            f"FROM orders WHERE {p1} GROUP BY {k}, o_orderstatus"
        )
        return (
            f"WITH yt AS ({agg}) "
            f"SELECT a1.k0 AS k0, a1.cents AS c1, a2.cents AS c2, "
            f"       b1.cents AS w1, b2.cents AS w2 "
            f"FROM yt a1, yt a2, yt b1, yt b2 "
            f"WHERE a1.k0 = a2.k0 AND a1.k0 = b1.k0 AND a1.k0 = b2.k0 "
            f"AND a1.st = 'F' AND a2.st = 'O' AND b1.st = 'F' AND b2.st = 'P' "
            f"AND a1.cents > 0 AND b1.cents > 0 "
            # agg x agg growth fence: both factors grow with SF.  DuckDB
            # keeps a product of two <= 18-wide decimals at DECIMAL(18,0)
            # (int64) and throws past 1e18, so ONE operand per product is
            # widened to DECIMAL(19,0) -> real widening to D(37) (shared
            # Spark/DuckDB text).  Raw BIGINT cents x cents overflows
            # 2^63 already at sf0.01 (group sums ~5e9 cents).
            f"AND CAST(b2.cents AS DECIMAL(19,0)) "
            f"    * CAST(a1.cents AS DECIMAL(18,0)) "
            f"  > CAST(a2.cents AS DECIMAL(19,0)) "
            f"    * CAST(b1.cents AS DECIMAL(18,0)) "
            f"ORDER BY k0"
        )
    if branch == 1:  # q89-class: deviation from group mean, window SUM/COUNT
        k = rng.choice(["o_orderstatus", "o_orderpriority"])
        p = rng.choice(preds)
        lo, hi = rng.choice([(9, 11), (8, 12)])
        return (
            f"SELECT k0, k1, cents FROM ("
            f"SELECT k0, k1, cents, "
            f"SUM(cents) OVER (PARTITION BY k0) AS tot, "
            f"COUNT(*) OVER (PARTITION BY k0) AS n "
            f"FROM (SELECT {k} AS k0, o_custkey % 5 AS k1, {cents} AS cents "
            f"      FROM orders WHERE {p} GROUP BY {k}, o_custkey % 5) s) t "
            f"WHERE 10 * n * cents > {hi} * tot OR 10 * n * cents < {lo} * tot "
            f"ORDER BY k0, k1"
        )
    if branch == 2:  # q39-class: integer-exact CV fence + consecutive-key join
        p = rng.choice(_TABLES["lineitem"]["preds"])
        return (
            f"WITH m AS (SELECT l_suppkey % 5 AS k0, l_linenumber AS k1, "
            f"COUNT(*) AS n, "
            f"CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS s, "
            f"CAST(SUM(CAST(round(l_quantity) AS BIGINT) "
            f"         * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq "
            f"FROM lineitem WHERE {p} "
            f"GROUP BY l_suppkey % 5, l_linenumber HAVING COUNT(*) >= 2) "
            f"SELECT m1.k0 AS k0, m1.k1 AS k1, m1.s AS s1, m2.s AS s2 "
            f"FROM m m1 JOIN m m2 ON m1.k0 = m2.k0 AND m2.k1 = m1.k1 + 1 "
            # CV fence in width-bounded DECIMAL (the (suppkey%5,
            # linenumber) groups grow linearly with SF; BIGINT
            # n*(n*sq - s^2) overflows 2^63 near group size ~3e4).
            # DuckDB keeps <=18 x <=18 products at DECIMAL(18,0), so one
            # operand per product is DECIMAL(19,0): n < 1e9 -> D(9),
            # s < 1e12 -> D(12), sq -> D(19); nodes clamp at <= 38 and
            # runtime values stay < 1e36.
            f"WHERE CAST(100 * m1.n AS DECIMAL(11,0)) "
            f"      * (CAST(m1.n AS DECIMAL(9,0)) "
            f"         * CAST(m1.sq AS DECIMAL(19,0)) "
            f"         - CAST(m1.s AS DECIMAL(12,0)) "
            f"           * CAST(m1.s AS DECIMAL(19,0))) "
            f"      > CAST(4 * (m1.n - 1) AS DECIMAL(10,0)) "
            f"        * (CAST(m1.s AS DECIMAL(12,0)) "
            f"           * CAST(m1.s AS DECIMAL(19,0))) "
            f"ORDER BY k0, k1"
        )
    if branch == 3:  # 25c-class: 3-alias bridge clique, redundant closure
        f1, f2 = rng.sample(
            ["b1.l_returnflag <> 'N'", "b1.l_quantity > 10",
             "b2.l_linestatus = 'F'", "b2.l_discount < 0.08"], k=2
        )
        return (
            f"SELECT MIN(b1.l_shipdate) AS first_ship, "
            f"MIN(b3.l_quantity) AS min_qty, COUNT(*) AS matches "
            f"FROM lineitem b1, lineitem b2, lineitem b3 "
            f"WHERE b1.l_orderkey = b2.l_orderkey "
            f"AND b1.l_orderkey = b3.l_orderkey "
            f"AND b2.l_orderkey = b3.l_orderkey "
            f"AND b1.l_linenumber < b2.l_linenumber "
            f"AND b2.l_linenumber < b3.l_linenumber "
            f"AND {f1} AND {f2}"
        )
    if branch == 4:  # q58-class: SUM(CASE) channel pivot + band fences
        lo_m, hi_m = rng.choice([(6, 2), (9, 3)])  # mean band multipliers
        return (
            f"SELECT k0, a_c, n_c, r_c FROM ("
            f"SELECT l_suppkey % 7 AS k0, "
            f"CAST(SUM(CASE WHEN l_returnflag = 'A' THEN "
            f"CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) "
            f"AS BIGINT) AS a_c, "
            f"CAST(SUM(CASE WHEN l_returnflag = 'N' THEN "
            f"CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) "
            f"AS BIGINT) AS n_c, "
            f"CAST(SUM(CASE WHEN l_returnflag = 'R' THEN "
            f"CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) "
            f"AS BIGINT) AS r_c "
            f"FROM lineitem GROUP BY l_suppkey % 7) p "
            f"WHERE a_c > 0 AND n_c > 0 AND r_c > 0 "
            f"AND {lo_m} * a_c >= (a_c + n_c + r_c) "
            f"AND {hi_m} * a_c <= {hi_m - 1} * (a_c + n_c + r_c) "
            f"ORDER BY k0"
        )
    # branch 5 — 17a/q41-class: duplicate MIN aliases + AND-of-OR fences
    p1, p2 = rng.sample(preds, k=2)
    return (
        f"SELECT MIN(o_orderdate) AS first_d, MIN(o_orderdate) AS a1, "
        f"COUNT(*) AS matches FROM orders "
        f"WHERE ({p1} OR {p2}) "
        f"AND (o_orderstatus = 'F' OR o_orderstatus = 'O')"
    )


def _gen_case_r9(rng: random.Random) -> str:
    """Round-9 idiom branches, appended behind the r8 corpus (fourth
    seeded RNG — earlier draw orders stay byte-identical): the q72
    demand-offset non-equi fence, the q24 avg-of-sums scalar fence
    (with the >= 19-wide DECIMAL rule), conjunctive same-column LIKE
    pairs with NOT LIKE, NULLIF-based NULL-test fences, the all-point
    bridge closure, and the q83 week-derivation IN-subquery."""
    branch = rng.randrange(6)
    if branch == 0:  # q72-class: non-equi qty fence riding the partkey join
        off_lo, off_hi = rng.choice([(5, 30), (3, 21)])
        qmin = rng.choice([44, 46])
        return (
            f"SELECT sale.l_partkey AS part, COUNT(*) AS short_events "
            f"FROM lineitem sale, lineitem stock "
            f"WHERE sale.l_partkey = stock.l_partkey "
            f"AND stock.l_quantity < sale.l_quantity "
            f"AND stock.l_shipdate > sale.l_shipdate + INTERVAL {off_lo} DAY "
            f"AND stock.l_shipdate < sale.l_shipdate + INTERVAL {off_hi} DAY "
            f"AND sale.l_returnflag = 'R' AND sale.l_quantity > {qmin} "
            f"GROUP BY sale.l_partkey ORDER BY part"
        )
    if branch == 1:  # q24-class: cents above a multiple of the avg-of-sums
        k = rng.choice(["o_custkey % 13", "o_custkey % 9"])
        pct = rng.choice([105, 120])
        cents = "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        return (
            f"WITH s AS (SELECT {k} AS k0, o_orderstatus AS st, "
            f"{cents} AS cents FROM orders GROUP BY {k}, o_orderstatus) "
            f"SELECT k0, st, cents FROM s "
            # avg-of-sums fence: one >= 19-wide operand per product
            # (DuckDB keeps <=18 x <=18 products at DECIMAL(18,0))
            f"WHERE CAST(cents AS DECIMAL(19,0)) "
            f"      * CAST(100 * (SELECT CAST(COUNT(*) AS BIGINT) FROM s) "
            f"             AS DECIMAL(14,0)) "
            f"    > CAST({pct} AS DECIMAL(3,0)) "
            f"      * CAST((SELECT CAST(SUM(cents) AS BIGINT) FROM s) "
            f"             AS DECIMAL(19,0)) "
            f"ORDER BY k0, st"
        )
    if branch == 2:  # 5a/22b-class: conjunctive same-column LIKEs + NOT LIKE
        a, b = rng.choice([("%o%", "%d%"), ("%l%", "%t%")])
        neg = rng.choice(["%blue%", "%old%"])
        return (
            f"SELECT MIN(p_name) AS title, COUNT(*) AS matches "
            f"FROM part, lineitem WHERE p_partkey = l_partkey "
            f"AND p_name LIKE '{a}' AND p_name LIKE '{b}' "
            f"AND p_name NOT LIKE '{neg}'"
        )
    if branch == 3:  # 11b-class: NULLIF null-test fence + point year
        col, zero = rng.choice([("l_tax", "0.0"), ("l_discount", "0.0")])
        yr = rng.choice([1997, 1998])
        return (
            f"SELECT MIN(l_shipdate) AS first_ship, COUNT(*) AS matches "
            f"FROM lineitem, orders WHERE l_orderkey = o_orderkey "
            f"AND NULLIF({col}, {zero}) IS NULL "
            f"AND EXTRACT(YEAR FROM o_orderdate) = {yr}"
        )
    if branch == 4:  # 13a-class: all-point two-bridge closure
        st = rng.choice(["'F'", "'O'"])
        rf = rng.choice(["'A'", "'N'"])
        return (
            f"SELECT MIN(b1.l_shipdate) AS d1, COUNT(*) AS matches "
            f"FROM orders, lineitem b1, lineitem b2 "
            f"WHERE b1.l_orderkey = o_orderkey "
            f"AND b2.l_orderkey = o_orderkey "
            f"AND b1.l_orderkey = b2.l_orderkey "
            f"AND b1.l_linenumber < b2.l_linenumber "
            f"AND o_orderstatus = {st} AND b1.l_returnflag = {rf} "
            f"AND b2.l_linestatus = 'F'"
        )
    # branch 5 — q83-class: week-derivation IN-subquery double hop
    d1, d2 = rng.choice([
        ("1998-01-15", "1998-09-20"), ("1997-03-10", "1999-06-30")
    ])
    return (
        f"SELECT l_suppkey AS supp, COUNT(*) AS n FROM lineitem "
        f"WHERE date_trunc('week', l_shipdate) IN "
        f"(SELECT DISTINCT date_trunc('week', o_orderdate) FROM orders "
        f" WHERE CAST(o_orderdate AS DATE) IN "
        f" (DATE '{d1}', DATE '{d2}')) "
        f"GROUP BY l_suppkey ORDER BY supp"
    )



def _gen_case_r10(rng: random.Random) -> str:
    """Round-10 idiom branches, appended behind the r9 corpus (fifth
    seeded RNG — earlier draw orders stay byte-identical): the DISTINCT
    ON rank-1 window emulation (pg_edges.py class, fuzzed over random
    keys/orderings/directions — the shared text is ANSI so BOTH engines
    run the emulation; the native-DISTINCT-ON cross-check lives in the
    registered specs), mixed-direction NULLS FIRST/LAST over CASE-
    derived nullable keys, the widened agg*agg self-product fence
    (DECIMAL(19,0) factor -> D(38,0) sum -> STRING, the r10 overflow
    class), and derived-NULL COUNT asymmetry."""
    branch = rng.randrange(4)
    if branch == 0:  # DISTINCT ON emulation: one row per key by (ord, uk)
        k = rng.choice(["o_custkey % 13", "o_orderstatus",
                        "o_orderpriority"])
        ordc, direc = rng.choice([("o_orderdate", "ASC"),
                                  ("o_orderdate", "DESC"),
                                  ("o_totalprice", "DESC")])
        pred = rng.choice(["o_totalprice > 1000.0",
                           "o_orderdate >= DATE '1995-01-01'"])
        return (
            f"SELECT k, o_orderkey, picked FROM ("
            f"SELECT {k} AS k, o_orderkey, CAST({ordc} AS STRING) AS picked, "
            f"ROW_NUMBER() OVER (PARTITION BY {k} "
            f"ORDER BY {ordc} {direc}, o_orderkey) AS rn "
            f"FROM orders WHERE {pred}) s "
            f"WHERE rn = 1 ORDER BY k"
        )
    if branch == 1:  # mixed NULLS FIRST/LAST over a derived nullable key
        m = rng.choice([3, 7])
        nulls = rng.choice(["DESC NULLS FIRST", "ASC NULLS LAST",
                            "DESC NULLS LAST", "ASC NULLS FIRST"])
        pred = rng.choice(["o_orderkey % 5 <> 2", "o_totalprice < 250000.0"])
        return (
            f"SELECT n5, o_orderkey FROM ("
            f"SELECT CASE WHEN o_custkey % {m} = 0 THEN NULL "
            f"ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS n5, "
            f"o_orderkey FROM orders WHERE {pred}) s "
            f"ORDER BY n5 {nulls}, o_orderkey LIMIT 500"
        )
    if branch == 2:  # widened agg*agg self-product (r10 fence class)
        k = rng.choice(["l_suppkey % 5", "l_linenumber"])
        pred = rng.choice(["l_quantity > 10", "l_returnflag <> 'N'"])
        return (
            f"WITH s AS (SELECT {k} AS k0, "
            f"CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q "
            f"FROM lineitem WHERE {pred} GROUP BY {k}) "
            # one >= 19-wide factor per product; D(38,0) sum -> STRING
            f"SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, "
            f"CAST(CAST(SUM(CAST(q AS DECIMAL(19,0)) * q) "
            f"AS DECIMAL(38,0)) AS STRING) AS sq FROM s"
        )
    # branch 3 — derived-NULL COUNT asymmetry
    m = rng.choice([4, 6])
    col = rng.choice(["l_suppkey", "l_partkey"])
    return (
        f"SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST(COUNT(nx) AS BIGINT) AS n_notnull, "
        f"CAST(COUNT(DISTINCT nx) AS BIGINT) AS n_distinct "
        f"FROM (SELECT CASE WHEN l_orderkey % {m} = 0 THEN NULL "
        f"ELSE {col} END AS nx FROM lineitem) s"
    )


_RNG = random.Random(20260813)
CASES = [(_gen_case(_RNG), i % 2 == 1) for i in range(N_LEGACY_CASES)]
_RNG7 = random.Random(20260814)
CASES += [(_gen_case_r7(_RNG7), i % 2 == 1) for i in range(16)]
_RNG8 = random.Random(20260815)
CASES += [(_gen_case_r8(_RNG8), i % 2 == 1) for i in range(16)]
_RNG9 = random.Random(20260816)
CASES += [(_gen_case_r9(_RNG9), i % 2 == 1) for i in range(12)]
_RNG10 = random.Random(20260817)
CASES += [(_gen_case_r10(_RNG10), i % 2 == 1) for i in range(12)]
N_CASES = len(CASES)


@pytest.mark.parametrize("sql,small_splits", CASES, ids=range(N_CASES))
def test_fuzz_cross_engine(sql, small_splits, spark, duck, sf_dir):
    register_views(spark, sf_dir)
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    if small_splits:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    try:
        s_rows = canonical_rows(spark.sql(sql).toPandas())
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
    d_rows = canonical_rows(duck.execute(sql).df())
    assert s_rows == d_rows, f"mismatch for: {sql}"


# --- property-based roundtrip/identity checks (hypothesis) ------------------
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_avro_row = st.tuples(
    st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    ),
    st.one_of(st.none(), st.text(max_size=200)),
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), st.binary(max_size=200)),
)


@settings(max_examples=200, deadline=None)
@given(rows=st.lists(_avro_row, max_size=50))
def test_avro_roundtrip_property(rows, tmp_path_factory):
    """write_avro ∘ read_avro == identity for arbitrary nullable
    long/double/string/boolean/bytes rows (Avro 1.11 binary encoding)."""
    from datafusion_umami_spark.sources.avro_io import read_avro, write_avro

    fields = [
        ("i", "long"), ("x", "double"), ("s", "string"),
        ("b", "boolean"), ("raw", "bytes"),
    ]
    path = str(tmp_path_factory.mktemp("avro_prop") / "prop.avro")
    write_avro(path, fields, rows)
    got_fields, got_rows = read_avro(path)
    assert got_fields == fields
    assert got_rows == [tuple(r) for r in rows]


@settings(max_examples=50, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_gcd_fold_matches_math_gcd(pairs, spark):
    """The Catalyst Euclid fold equals math.gcd across the full int64
    range (the 92-iteration bound covers worst-case Fibonacci pairs;
    LONG_MIN is pre-reduced before abs — only pairs whose gcd is 2^63
    itself, which int64 cannot represent, are excluded here and raise)."""
    from datafusion_umami_spark.functions.math_extra import gcd_col

    LONG_MIN = -(2**63)
    pairs = [
        (a, b)
        for a, b in pairs
        if not (a == LONG_MIN and b in (0, LONG_MIN))
        and not (b == LONG_MIN and a == 0)
    ]
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", gcd_col("a", "b").alias("g")
    )
    for row in df.collect():
        assert row.g == math.gcd(row.a, row.b), (row.a, row.b, row.g)


def test_gcd_long_min_edges(spark):
    """Deterministic LONG_MIN coverage: representable gcds are exact;
    the two unrepresentable pairs raise under ANSI instead of silently
    wrapping (checked-kernel parity)."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import ArithmeticException

    from datafusion_umami_spark.functions.math_extra import gcd_col

    LONG_MIN = -(2**63)
    ok_pairs = [(LONG_MIN, 5), (7, LONG_MIN), (LONG_MIN, 2**62), (LONG_MIN, -3)]
    df = spark.createDataFrame(ok_pairs, "a long, b long").select(
        "a", "b", gcd_col("a", "b").alias("g")
    )
    for row in df.collect():
        assert row.g == math.gcd(row.a, row.b), (row.a, row.b, row.g)
    null_row = (
        spark.createDataFrame([(LONG_MIN, None)], "a long, b long")
        .select(gcd_col("a", "b").alias("g"))
        .collect()[0]
    )
    assert null_row.g is None  # NULL propagates, no ANSI abs overflow
    for bad in [(LONG_MIN, 0), (LONG_MIN, LONG_MIN)]:
        with _pytest.raises((ArithmeticException, Py4JJavaError)):
            spark.createDataFrame([bad], "a long, b long").select(
                gcd_col("a", "b").alias("g")
            ).collect()


@settings(max_examples=30, deadline=None)
@given(data=st.data())
def test_asof_join_matches_pandas_merge_asof(data, spark):
    """asof_join == pandas.merge_asof(direction='backward') on random
    inputs, including NULL payload values on matched right rows (the
    struct-carry fix) and keys with no right-side rows at all."""
    import pandas as _pd

    from datafusion_umami_spark.operators.asof_join import asof_join

    keys = data.draw(st.lists(st.integers(0, 3), min_size=1, max_size=12))
    left_rows = [
        (k, data.draw(st.integers(0, 100), label="lt")) for k in keys
    ]
    # right side: unique (key, time) pairs, payload may be NULL
    rt_pairs = data.draw(
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 100)),
            max_size=12,
            unique=True,
        )
    )
    right_rows = [
        (k, t, data.draw(st.one_of(st.none(), st.integers(-5, 5)), label="pv"))
        for k, t in rt_pairs
    ]
    left = spark.createDataFrame(left_rows, "k long, t long")
    right = (
        spark.createDataFrame(right_rows, "k long, rt long, payload long")
        if right_rows
        else spark.createDataFrame([], "k long, rt long, payload long")
    )
    got = {
        (r.k, r.t, r.payload)
        for r in asof_join(left, right, "k", "t", "rt", ["payload"]).collect()
    }
    lpd = _pd.DataFrame(left_rows, columns=["k", "t"]).sort_values("t", kind="stable")
    rpd = _pd.DataFrame(right_rows, columns=["k", "rt", "payload"]).sort_values(
        "rt", kind="stable"
    )
    if rpd.empty:
        want = {(k, t, None) for k, t in left_rows}
    else:
        merged = _pd.merge_asof(
            lpd, rpd, left_on="t", right_on="rt", by="k", direction="backward"
        )
        want = {
            (int(r.k), int(r.t), None if _pd.isna(r.payload) else int(r.payload))
            for r in merged.itertuples()
        }
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), max_size=14, unique=True
    )
)
def test_recursive_closure_matches_python_bfs(edges, spark):
    """recursive_cte transitive closure == a pure-Python BFS fixpoint on
    random digraphs (cycles included)."""
    from pyspark.sql import functions as FF

    from datafusion_umami_spark.operators.recursive import recursive_cte

    if not edges:
        return
    e = spark.createDataFrame(edges, "src long, dst long").localCheckpoint(eager=True)
    nodes = sorted({n for pair in edges for n in pair})
    seed = spark.createDataFrame([(n, n) for n in nodes], "n long, m long")

    def step(delta):
        return delta.join(e, delta["m"] == e["src"]).select(
            delta["n"], e["dst"].alias("m")
        )

    got = {(r.n, r.m) for r in recursive_cte(seed, step, distinct=True).collect()}
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    want = set()
    for n in nodes:
        reach, frontier = {n}, {n}
        while frontier:
            frontier = {d for x in frontier for d in adj.get(x, ())} - reach
            reach |= frontier
        want |= {(n, m) for m in reach}
    assert got == want


def test_split_sql_equals_inlined_composition(spark, sf_dir):
    """Every register_split_sql query must produce the same rows as the
    single-statement inlined composition of its OWN Spark-dialect parts
    (`WITH <view> AS (<stage>) <final>`) — a direct check that the
    de-inlining splice surgery (operators/materialize.py) changed the
    execution strategy, never the semantics."""
    from datafusion_umami_spark.oracle import canonical_rows
    from datafusion_umami_spark.registry import REGISTRY, _load_all
    from datafusion_umami_spark.tables import register_views

    _load_all()
    register_views(spark, sf_dir)
    split_specs = [
        (name, spec)
        for name, spec in REGISTRY.items()
        if hasattr(spec.fn, "_split_stages")
    ]
    assert split_specs, "no split-registered queries found"
    for name, spec in split_specs:
        ctes = ",\n".join(
            f"{view} AS ({stage})" for stage, view in spec.fn._split_stages
        )
        final = spec.fn._split_final
        head = final.lstrip()
        # the splice assumes a final statement starting with either a
        # bare `WITH <name> AS` list or a non-WITH statement — reject
        # shapes it would mangle (leading comments, WITH RECURSIVE)
        assert not head.startswith("--"), f"{name}: comment-led final_sql"
        assert not head.upper().startswith("WITH RECURSIVE"), name
        inlined = (
            # splice into the final statement's own WITH list if it has
            # one; otherwise prepend a WITH clause
            "WITH " + ctes + ",\n" + head[4:].lstrip()
            if head.upper().startswith("WITH")
            else "WITH " + ctes + "\n" + final
        )
        got = canonical_rows(spec.fn(spark, sf_dir).toPandas())
        want = canonical_rows(spark.sql(inlined).toPandas())
        assert got == want, f"{name}: split result != inlined composition"


@settings(max_examples=12, deadline=None)
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 17), st.integers(0, 17)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=60,
    )
)
def test_triangle_count_matches_bruteforce(edges, spark):
    """Degree-oriented triangle counting on random graphs (incl. skew
    and degree ties) must equal the itertools brute force — the wheel
    stress test pins one adversarial shape; this pins the orientation's
    exactly-once property in general."""
    from itertools import combinations

    from datafusion_umami_spark.queries.graph_algos import triangle_count_sql

    und = {(min(a, b), max(a, b)) for a, b in edges}
    values = ", ".join(f"({u}, {v})" for u, v in sorted(und))
    got = spark.sql(
        triangle_count_sql(f"SELECT u, v FROM (VALUES {values}) AS t(u, v)")
    ).collect()[0]
    nodes = sorted({n for e in und for n in e})
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {(a, b), (a, c), (b, c)} <= und
    )
    assert (got.n_triangles, got.n_edges) == (want, len(und))


@settings(max_examples=200, deadline=None)
@given(
    xs=st.lists(st.integers(min_value=1, max_value=50), min_size=3, max_size=40)
)
def test_cov_cross_multiplication_matches_exact_fraction(xs):
    """tpcds_volatile_items_cross_month's FP-free volatility predicate:
    4n(nΣx²−(Σx)²) > (n−1)(Σx)²  must equal  stddev_samp/mean > 0.5
    computed in exact rational arithmetic — pins the derivation (factor
    placement, n vs n−1) against every sample shape including boundary
    cases hypothesis finds."""
    from fractions import Fraction

    n = len(xs)
    sx = sum(xs)
    sxx = sum(x * x for x in xs)
    integer_form = 4 * n * (n * sxx - sx * sx) > (n - 1) * sx * sx
    var = Fraction(n * sxx - sx * sx, n * (n - 1))  # sample variance
    mean = Fraction(sx, n)
    exact_form = var > mean * mean * Fraction(1, 4)
    assert integer_form == exact_form


@settings(max_examples=200, deadline=None)
@given(
    ds=st.lists(st.integers(min_value=0, max_value=10), min_size=1, max_size=40),
    d=st.integers(min_value=0, max_value=10),
)
def test_discount_threshold_cross_multiplication_matches_exact(ds, d):
    """tpcds_correlated_avg_discount's FP-free threshold:
    10·d·n > 13·Σd  must equal  d > 1.3 × mean(ds) in exact rationals —
    the boundary case (d exactly 1.3× the average) must be EXCLUDED on
    both forms, which a float comparison cannot guarantee."""
    from fractions import Fraction

    n = len(ds)
    integer_form = 10 * d * n > 13 * sum(ds)
    exact_form = Fraction(d) > Fraction(13, 10) * Fraction(sum(ds), n)
    assert integer_form == exact_form


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),                # key
            st.one_of(st.none(), st.integers(min_value=0, max_value=4)),  # v
        ),
        min_size=1,
        max_size=30,
    ),
    desc=st.booleans(),
)
def test_distinct_on_emulation_matches_duckdb_native(rows, desc, spark, duck):
    """The pg_edges DISTINCT ON emulation (rank-1 window) must pick the
    SAME row as DuckDB's NATIVE DISTINCT ON on adversarial micro-data:
    NULLs in the choice column, full ties (broken by the unique id),
    singleton groups, and both directions.  The null placement is pinned
    EXPLICITLY in both texts (NULLS LAST here) because the engines'
    defaults differ — Spark puts NULLs first on ASC, DuckDB last — which
    is exactly why the registered specs keep a non-nullable or pinned
    ORDER BY tail."""
    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    sdf = spark.createDataFrame(data, "k int, v int, id int")
    sdf.createOrReplaceTempView("don_t")
    direction = "DESC" if desc else "ASC"
    got = spark.sql(
        f"SELECT k, v, id FROM ("
        f"SELECT k, v, id, ROW_NUMBER() OVER (PARTITION BY k "
        f"ORDER BY v {direction} NULLS LAST, id) AS rn FROM don_t) s "
        f"WHERE rn = 1 ORDER BY k"
    ).collect()

    import pandas as pd

    duck.register("don_pd", pd.DataFrame(data, columns=["k", "v", "id"]))
    want = duck.execute(
        f"SELECT k, v, id FROM ("
        f"SELECT DISTINCT ON (k) k, v, id FROM don_pd "
        f"ORDER BY k, v {direction} NULLS LAST, id) s ORDER BY k"
    ).fetchall()
    assert [(r.k, r.v, r.id) for r in got] == [tuple(r) for r in want]


_GROUPS_FRAMES = [(-3, 1), (-3, -2), (1, 3), (0, None), (-1, 0), (2, 3)]


@settings(max_examples=20, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),   # partition
            st.integers(min_value=0, max_value=4),   # order key (ties -> peers)
            st.integers(min_value=0, max_value=5),   # value
        ),
        min_size=1,
        max_size=24,
    ),
    frame=st.sampled_from(_GROUPS_FRAMES),
)
def test_groups_frame_emulation_matches_definition(rows, frame, spark):
    """pg_window_groups_asymmetric_frames rests on one formula: a GROUPS
    frame over the ORDER BY key == a RANGE frame over dense_rank(key).
    Check the formula against a pure-Python evaluation of the
    SQL-standard GROUPS definition (peer groups of the order key,
    offsets counted in whole groups) on adversarial micro-data: tied
    keys, singleton groups, frames fully behind/ahead of the current
    group (empty frame -> NULL sum), and CURRENT ROW .. UNBOUNDED
    FOLLOWING.  Independent of BOTH engines — DuckDB 1.0.0 cannot run
    GROUPS natively, so the registered spec's DuckDB oracle is itself a
    reformulation; this pins the shared definition they reformulate."""
    lo, hi = frame

    def bound(n, unbounded):
        if n is None:
            return unbounded
        if n < 0:
            return f"{-n} PRECEDING"
        return "CURRENT ROW" if n == 0 else f"{n} FOLLOWING"

    data = [(p, k, v, i) for i, (p, k, v) in enumerate(rows)]
    sdf = spark.createDataFrame(data, "p int, k int, v int, id int")
    sdf.createOrReplaceTempView("groups_prop_t")
    got = spark.sql(
        f"""
        SELECT id, CAST(SUM(v) OVER (PARTITION BY p ORDER BY dr
               RANGE BETWEEN {bound(lo, 'UNBOUNDED PRECEDING')}
                         AND {bound(hi, 'UNBOUNDED FOLLOWING')})
               AS BIGINT) AS s
        FROM (SELECT p, v, id,
                     DENSE_RANK() OVER (PARTITION BY p ORDER BY k) AS dr
              FROM groups_prop_t)
        ORDER BY id
        """
    ).collect()

    from collections import defaultdict

    bypart = defaultdict(list)
    for p, k, v, i in data:
        bypart[p].append((k, v, i))
    want = {}
    for items in bypart.values():
        keys = sorted({k for k, _, _ in items})
        gidx = {k: n for n, k in enumerate(keys)}
        gsum = defaultdict(int)
        for k, v, _ in items:
            gsum[gidx[k]] += v
        for k, _, i in items:
            g = gidx[k]
            a = 0 if lo is None else g + lo
            b = len(keys) - 1 if hi is None else g + hi
            span = [gsum[x] for x in range(max(a, 0), min(b, len(keys) - 1) + 1)]
            want[i] = sum(span) if span else None
    assert [(r.id, r.s) for r in got] == [(i, want[i]) for i in sorted(want)]


@settings(max_examples=20, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),      # partition
            st.integers(min_value=-50, max_value=50),   # integer cents
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_exclude_current_row_emulation_matches_duckdb_native(rows, spark, duck):
    """windows.window_exclude_current_emulated rests on one formula:
    avg-of-others over a ROWS frame == (SUM(frame) - x) / (COUNT(frame)
    - 1), NULL when the frame is the single current row.  Check the
    formula against DuckDB's NATIVE SQL:2011 `EXCLUDE CURRENT ROW`
    clause on adversarial micro-data: negative values, zero-sum frames,
    singleton partitions (frame == current row -> NULL on both), and
    partition boundaries clipping the frame.  Domain note: the formula
    assumes a NON-NULL value column (a NULL x would null the whole
    subtraction while the native clause just skips it) — the registered
    spec feeds o_totalprice cents, which is non-nullable, and this test
    pins the formula on that domain."""
    data = [(p, v, i) for i, (p, v) in enumerate(rows)]
    sdf = spark.createDataFrame(data, "p int, v long, id int")
    sdf.createOrReplaceTempView("excl_t")
    got = spark.sql(
        """
        SELECT id, CAST((SUM(v) OVER w) - v AS DOUBLE)
                   / nullif((COUNT(*) OVER w) - 1, 0) AS avg_others
        FROM excl_t
        WINDOW w AS (PARTITION BY p ORDER BY id
                     ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)
        ORDER BY id
        """
    ).collect()

    import pandas as pd

    duck.register("excl_pd", pd.DataFrame(data, columns=["p", "v", "id"]))
    want = duck.execute(
        """
        SELECT id, CAST(AVG(v) OVER (PARTITION BY p ORDER BY id
                     ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING
                     EXCLUDE CURRENT ROW) AS DOUBLE) AS avg_others
        FROM excl_pd ORDER BY id
        """
    ).fetchall()
    assert [(r.id, r.avg_others) for r in got] == [tuple(r) for r in want]


@settings(max_examples=20, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),   # partition
            st.integers(min_value=0, max_value=4),   # value (dense ties)
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_count_distinct_over_emulation_matches_duckdb_native(rows, spark, duck):
    """windows.window_count_distinct_emulated rests on one formula:
    COUNT(DISTINCT v) OVER (PARTITION BY p) == MAX(dense_rank(v)) OVER
    (PARTITION BY p) — Spark rejects DISTINCT aggregates over windows,
    so the registered spec computes the dense-rank max.  Check the
    formula against DuckDB's NATIVE windowed COUNT(DISTINCT) on
    micro-data with heavy ties and singleton partitions.  Domain note:
    the formula assumes a NON-NULL value column (dense_rank gives NULLs
    a peer group; COUNT(DISTINCT) skips them) — the registered spec
    counts l_partkey, which is non-nullable, and this test pins the
    formula on that domain."""
    data = [(p, v, i) for i, (p, v) in enumerate(rows)]
    sdf = spark.createDataFrame(data, "p int, v int, id int")
    sdf.createOrReplaceTempView("cdo_t")
    got = spark.sql(
        """
        SELECT id, CAST(MAX(dr) OVER (PARTITION BY p) AS BIGINT) AS n_d
        FROM (SELECT p, id,
                     DENSE_RANK() OVER (PARTITION BY p ORDER BY v) AS dr
              FROM cdo_t)
        ORDER BY id
        """
    ).collect()

    import pandas as pd

    duck.register("cdo_pd", pd.DataFrame(data, columns=["p", "v", "id"]))
    want = duck.execute(
        """
        SELECT id, CAST(COUNT(DISTINCT v) OVER (PARTITION BY p) AS BIGINT)
        FROM cdo_pd ORDER BY id
        """
    ).fetchall()
    assert [(r.id, r.n_d) for r in got] == [tuple(r) for r in want]


# ---------------------------------------------------------------------------
# Round-12 property tests: the two iterative distributed operators and the
# tumbling-window primitive, each against a pure-Python reference.  These
# target operators/ helpers (not spec texts), so they harden the machinery
# without demoting any proven-as-written ledger row.


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(edges, spark):
    """large-star/small-star CC == pure-Python union-find on random
    graphs — self-loops, duplicate edges, and both orientations included
    (the operator's normalization contract) — and every label is its
    component's MINIMUM node id (the operator's labeling contract).
    Random-shape complement to the deterministic chain/clique fixtures:
    the alternating rounds' correctness depends on per-round min
    propagation across arbitrary topologies, exactly what a fixed
    fixture can't cover."""
    from datafusion_umami_spark.operators.connected_components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "a long, b long")
    got = {(r.n, r.cluster_id) for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes: set[int] = set()
    for a, b in edges:
        if a == b:
            continue  # operator drops self-loops (and their nodes if isolated)
        nodes |= {a, b}
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, set[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), set()).add(n)
    want = {(n, min(members)) for members in comp.values() for n in members}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    und=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=20,
    ),
    feed=st.sets(
        st.tuples(st.integers(10, 12), st.integers(0, 19)),
        min_size=1,
        max_size=4,
    ),
    iters=st.integers(0, 3),
)
def test_pagerank_matches_integer_reference(und, feed, iters, spark):
    """Integer-exact PageRank == a pure-Python reference running the
    same micro-unit truncating arithmetic.  The operator's determinism
    contract (operators/pagerank.py docstring) promises bit-identical
    results regardless of partitioning or merge order, so the check is
    set equality on exact (node, pr) pairs, no tolerance.  Two input
    classes, both honouring the every-node-is-a-src contract:
      - bidirectional edges (every node also has in-degree >= 1);
      - directed edges where nodes 10..12 only feed the graph (in-degree
        0, rank TELEPORT after round 0) and every sink gets one
        out-edge, so some nodes never receive mass."""
    from datafusion_umami_spark.operators.pagerank import (
        DAMP_NUM,
        MICRO,
        TELEPORT,
        pagerank,
    )

    def reference(edges):
        outdeg: dict[int, int] = {}
        for s, _d in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        pr = {n: MICRO for n in outdeg}
        for _ in range(iters):
            mass = {n: 0 for n in outdeg}
            for s, d in edges:
                mass[d] += pr[s] // outdeg[s]
            pr = {n: TELEPORT + (DAMP_NUM * mass[n]) // MICRO for n in outdeg}
        return set(pr.items())

    bidir = sorted({(a, b) for a, b in und} | {(b, a) for a, b in und})
    nodes = sorted({a for a, _b in bidir})
    srcs = {a for a, _b in und}
    directed = sorted(
        set(und)
        | {(n, nodes[0] if n != nodes[0] else nodes[1])
           for n in nodes if n not in srcs}
        | {(s, nodes[d % len(nodes)]) for s, d in feed}
    )
    for edges in (bidir, directed):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {(r.node, r.pr) for r in pagerank(df, iterations=iters).collect()}
        assert got == reference(edges), edges


@settings(max_examples=10, deadline=None)
@given(
    offsets_s=st.lists(
        st.integers(0, 10_000_000), min_size=1, max_size=25, unique=True
    ),
    stride_s=st.integers(1, 100_000),
    origin_off_s=st.integers(0, 1_000_000),
)
def test_date_bin_matches_python_floor_arithmetic(
    offsets_s, stride_s, origin_off_s, spark
):
    """operators/date_bin.py == origin + ((ts - origin) // stride) * stride
    in pure-Python integer seconds, over its documented domain
    (ts >= origin; the column formula uses dividend-sign %, which equals
    floor division only for nonnegative deltas).  Randomizes stride,
    origin, and timestamps together — the spec fixtures pin only two
    stride/origin combinations."""
    import datetime as _dt

    from pyspark.sql import functions as FF

    from datafusion_umami_spark.operators.date_bin import date_bin

    base = _dt.datetime(2000, 1, 1)
    origin = base + _dt.timedelta(seconds=origin_off_s)
    rows = [(base + _dt.timedelta(seconds=origin_off_s + o),) for o in offsets_s]
    df = spark.createDataFrame(rows, "ts timestamp_ntz")
    got = sorted(
        r.b
        for r in df.select(
            date_bin("ts", stride_s, origin.isoformat(sep=" ")).alias("b")
        ).collect()
    )
    want = sorted(
        origin + _dt.timedelta(seconds=(o // stride_s) * stride_s)
        for o in offsets_s
    )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    offsets_s=st.lists(
        st.integers(0, 10_000_000), min_size=1, max_size=25, unique=True
    ),
    stride_s=st.integers(1, 100_000),
    origin_off_s=st.integers(0, 1_000_000),
)
def test_date_bin_twins_agree_cross_engine(
    offsets_s, stride_s, origin_off_s, spark, duck
):
    """The Spark column formula (operators/date_bin.date_bin) and its
    DuckDB oracle twin (date_bin_oracle_sql) must produce identical
    bucket starts on the same random timestamps — the shared-text
    contract every timeseries/streaming oracle rides on, here checked
    over randomized stride/origin instead of the two fixture
    combinations."""
    import datetime as _dt

    from datafusion_umami_spark.operators.date_bin import (
        date_bin,
        date_bin_oracle_sql,
    )

    base = _dt.datetime(2000, 1, 1)
    origin = base + _dt.timedelta(seconds=origin_off_s)
    ts = sorted(
        base + _dt.timedelta(seconds=origin_off_s + o) for o in offsets_s
    )
    df = spark.createDataFrame([(t,) for t in ts], "ts timestamp_ntz")
    got = [
        r.b
        for r in df.select(
            date_bin("ts", stride_s, origin.isoformat(sep=" ")).alias("b")
        )
        .orderBy("b")
        .collect()
    ]
    vals = ", ".join(f"(TIMESTAMP '{t.isoformat(sep=' ')}')" for t in ts)
    twin = date_bin_oracle_sql("ts", stride_s, origin.isoformat(sep=" "))
    want = [
        r[0]
        for r in duck.execute(
            f"SELECT {twin} AS b FROM (VALUES {vals}) AS t(ts) ORDER BY b"
        ).fetchall()
    ]
    assert got == want


# --- round-12 (cont.): training-pipeline formula pins ------------------------
# The dedup / text-analysis specs rest on hand-built arithmetic (affine
# MinHash permutations, banded SimHash pigeonhole, polynomial rolling
# hash, frequency-weighted percentile expansion, Morton interleave).
# Each formula is pinned here against an independent pure-Python
# evaluation of its textbook definition on adversarial micro-data —
# same strategy as the GROUPS-frame / EXCLUDE CURRENT ROW pins above.

import hashlib as _hashlib
import itertools as _it


import pytest as _pytest


@_pytest.fixture()
def restore_views(spark, sf_dir):
    """The table-swapping property pins replace session-scoped shared
    views (`documents`, `embeddings`) with hypothesis micro-data; this
    re-registers the sf parquet views afterwards so a later test that
    reads them WITHOUT re-registering can't silently consume poisoned
    data (every spec callable re-registers, but tests may not)."""
    yield
    register_views(spark, sf_dir)


def _md5_60(s: str) -> int:
    """Python mirror of queries/dedup.py _sp_h/_du_h: the first 15 hex
    chars of md5 as a 60-bit integer (exact in int64 on both engines)."""
    return int(_hashlib.md5(s.encode()).hexdigest()[:15], 16)


_MH_P = 2_147_483_647
_MH_WORDS = ["alpha", "beta", "gamma", "delta", "eps"]


def _minhash_sig_py(text: str) -> list[int]:
    """Textbook MinHash over clamped word 3-shingles with the affine
    permutation family ((2s+1)·h + s·12582917) mod p — the definition
    queries/dedup.py:_SP_MINHASH_SIGS unrolls in SQL."""
    ws = text.split(" ")
    n = len(ws)
    shingles = [
        " ".join((ws[i], ws[min(i + 1, n - 1)], ws[min(i + 2, n - 1)]))
        for i in range(max(n - 2, 1))
    ]
    hs = [_md5_60(sh) % _MH_P for sh in shingles]
    return [
        min(((2 * s + 1) * h + s * 12_582_917) % _MH_P for h in hs)
        for s in range(8)
    ]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=st.lists(
        st.lists(st.sampled_from(_MH_WORDS), min_size=1, max_size=8),
        min_size=1,
        max_size=6,
    )
)
def test_minhash_signature_matches_python_reference(word_lists, spark, restore_views):
    """The single-scan SQL signature builder (one md5 per shingle, all 8
    components in one groupBy — queries/dedup.py:_SP_MINHASH_SIGS) must
    equal the per-document textbook evaluation: same shingle clamping at
    short docs (n<=2 repeats the last word), same MIN-over-multiset ==
    MIN-over-set shortcut, same permutation arithmetic.  Runs the
    registered text verbatim over a swapped-in `documents` view."""
    from datafusion_umami_spark.queries.dedup import _SP_MINHASH_SIGS

    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    got = {r.doc_id: list(r.mhs) for r in spark.sql(_SP_MINHASH_SIGS).collect()}
    want = {i: _minhash_sig_py(t) for i, t in enumerate(texts)}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=st.lists(
        st.lists(st.sampled_from(_MH_WORDS), min_size=1, max_size=6),
        min_size=1,
        max_size=4,
    )
)
def test_minhash_lsh_banding_matches_python_reference(word_lists, spark, restore_views):
    """LSH banding (4 bands x 2 rows) + signature-estimated Jaccard
    (queries/dedup.py:_SP_MINHASH_PAIRS_FROM_SIGS) == brute-force over
    the Python signatures: a pair is a candidate iff SOME band's two
    components both match, and est_jaccard is the matching-component
    fraction (k/8 is exact in binary, so ROUND(...,4) is the identity
    on both sides).  Every doc is duplicated, so the exact-duplicate
    guarantee — identical text ALWAYS surfaces with est_jaccard 1.0 —
    is exercised on every example."""
    from datafusion_umami_spark.queries.dedup import (
        _SP_MINHASH_PAIRS_FROM_SIGS,
        _SP_MINHASH_SIGS,
    )

    base = [" ".join(ws) for ws in word_lists]
    texts = base + base  # ids n..2n-1 duplicate ids 0..n-1
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    spark.sql(_SP_MINHASH_SIGS).createOrReplaceTempView("mh_sigs_prop")
    got = {
        (r.da, r.db): r.est_jaccard
        for r in spark.sql(
            _SP_MINHASH_PAIRS_FROM_SIGS.replace("__SIGS__", "mh_sigs_prop")
        ).collect()
    }
    sig = {i: _minhash_sig_py(t) for i, t in enumerate(texts)}
    want = {}
    for a, b in _it.combinations(range(len(texts)), 2):
        if any(
            sig[a][2 * band : 2 * band + 2] == sig[b][2 * band : 2 * band + 2]
            for band in range(4)
        ):
            want[(a, b)] = sum(x == y for x, y in zip(sig[a], sig[b])) / 8.0
    assert got == want
    n = len(base)
    for i in range(n):
        assert got[(i, i + n)] == 1.0


def _simhash_py(text: str) -> int:
    """Textbook 16-bit SimHash: per-bit +/-1 votes over the DISTINCT
    words' 60-bit hashes, bit set iff the vote is strictly positive
    (ties at even word counts -> 0) — the definition
    queries/dedup.py:_SP_SIMHASH_SIG expresses as two groupBys."""
    hs = [_md5_60(w) for w in set(text.split(" "))]
    out = 0
    for b in range(16):
        if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0:
            out |= 1 << b
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=st.lists(
        st.lists(st.sampled_from(_MH_WORDS), min_size=1, max_size=8),
        min_size=1,
        max_size=6,
    )
)
def test_simhash_signature_matches_python_reference(word_lists, spark, restore_views):
    """queries/dedup.py:_SP_SIMHASH_SIG verbatim over a swapped-in
    `documents` view == the per-document Python evaluation, including
    the word-DISTINCT step (repeated words vote once) and the tie->0
    rule."""
    from datafusion_umami_spark.queries.dedup import _SP_SIMHASH_SIG

    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    got = {
        r.doc_id: r.simhash for r in spark.sql(_SP_SIMHASH_SIG).collect()
    }
    want = {i: _simhash_py(t) for i, t in enumerate(texts)}
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    sigs=st.lists(st.integers(0, 65535), min_size=2, max_size=18)
)
def test_simhash_banding_finds_exactly_the_close_pairs(sigs, spark):
    """The 6+5+5-bit banded equi-join
    (queries/dedup.py:_SP_SIMHASH_PAIRS_FROM_SIG) returns EXACTLY the
    pairs within hamming distance 2 — the pigeonhole completeness claim
    the 100 TB plan rests on (<=2 differing bits touch <=2 of 3 bands,
    so one band matches exactly; the hamming fence then discards far
    candidates).  Checked against brute-force over arbitrary 16-bit
    signatures, including duplicates (hamming 0)."""
    from datafusion_umami_spark.queries.dedup import (
        _SP_SIMHASH_PAIRS_FROM_SIG,
    )

    df = spark.createDataFrame(
        list(enumerate(sigs)), "doc_id long, simhash long"
    )
    df.createOrReplaceTempView("sh_sig_prop")
    got = {
        (r.da, r.db): r.hamming
        for r in spark.sql(
            _SP_SIMHASH_PAIRS_FROM_SIG.replace("__SIG__", "sh_sig_prop")
        ).collect()
    }
    want = {
        (a, b): bin(sa ^ sb).count("1")
        for (a, sa), (b, sb) in _it.combinations(enumerate(sigs), 2)
        if bin(sa ^ sb).count("1") <= 2
    }
    assert got == want


def _winnow_py(text: str) -> tuple[int, int, int]:
    """Textbook MOSS winnowing (k=8, w=4, base 257 mod 1e9+7): rolling
    polynomial hash of every k-gram, min of each w-window, distinct set
    — the definition queries/textanalysis.py unrolls as higher-order
    array expressions."""
    K, W, B, M = 8, 4, 257, 1_000_000_007
    cs = [ord(c) for c in text]
    kh = [
        sum(c * pow(B, K - 1 - j, M) for j, c in enumerate(cs[i : i + K])) % M
        for i in range(len(cs) - K + 1)
    ]
    fps = {min(kh[i : i + W]) for i in range(len(kh) - W + 1)}
    return len(fps), sum(fps), min(fps)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=11, max_size=48),
        min_size=1,
        max_size=5,
    )
)
def test_winnowing_fingerprint_matches_python_reference(texts, spark, restore_views):
    """The registered text_winnowing_fingerprint Spark SQL (pulled from
    the registry, run verbatim over a swapped-in `documents` view) must
    equal the Python textbook evaluation.  The tiny alphabet forces
    repeated k-grams (hash ties across windows, array_distinct doing
    real work) — the degenerate inputs sf-scale corpora never hit."""
    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["text_winnowing_fingerprint"].fn.__doc__
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    got = {
        r.doc_id: (r.n_fingerprints, r.fp_sum, r.fp_min)
        for r in spark.sql(sql).collect()
    }
    want = {i: _winnow_py(t) for i, t in enumerate(texts)}
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1000), st.integers(1, 5)),
        min_size=1,
        max_size=30,
    ),
    p=st.sampled_from([0.25, 0.5, 0.75]),
)
def test_weighted_percentile_equals_expanded_multiset_quantile(
    rows, p, spark, duck
):
    """agg_weighted_percentile's whole oracle strategy is the identity
    `Spark percentile(v, p, w) == quantile_cont over the w-expanded
    multiset`.  Pin that identity itself on random micro-data, three
    ways: Spark's frequency-weighted percentile, numpy's linear
    interpolation over the expanded list, and DuckDB's quantile_cont
    over the expanded list must all agree (ties, singleton groups,
    all-equal values, weights that skew the median onto a boundary)."""
    import numpy as np
    import pandas as pd

    df = spark.createDataFrame(rows, "v long, w int")
    df.createOrReplaceTempView("wp_prop_t")
    got = (
        spark.sql(f"SELECT percentile(v, {p}, w) AS q FROM wp_prop_t")
        .collect()[0]
        .q
    )
    expanded = [v for v, w in rows for _ in range(w)]
    want = float(np.percentile(expanded, p * 100, method="linear"))
    duck.register("wp_prop_pd", pd.DataFrame({"v": expanded}))
    want_du = duck.execute(
        f"SELECT quantile_cont(v, {p}) FROM wp_prop_pd"
    ).fetchone()[0]
    tol = 1e-9 * max(1.0, abs(want))
    assert abs(got - want) <= tol
    assert abs(want_du - want) <= tol


def test_zorder_formula_interleave_and_tile_band_property():
    """layout_zorder_tiles (queries/catalog_ddl.py) rests on two claims
    checked here exhaustively over the full 256x256 key domain,
    engine-independently: (1) the portable floor-div/mod expression
    equals the Morton bit-interleave (pk bit b -> position 2b, sk bit b
    -> 2b+1); (2) every 16x16 aligned tile maps onto ONE contiguous
    256-slot z band with base 256*interleave4(tile_p, tile_s) — i.e.
    the zval set restricted to a tile is exactly [base, base+255], and
    globally z is a bijection onto [0, 65535].  This is the property
    that turns a 2-D range fence into a handful of contiguous scans at
    100 TB; the registered spec can only check it on tiles present in
    the sf data."""
    import math

    def zval_as_written(pk: int, sk: int) -> int:
        return sum(
            (int(math.floor(pk / float(1 << b))) % 2) * (1 << (2 * b))
            + (int(math.floor(sk / float(1 << b))) % 2) * (1 << (2 * b + 1))
            for b in range(8)
        )

    def interleave(pk: int, sk: int, nbits: int) -> int:
        out = 0
        for b in range(nbits):
            out |= ((pk >> b) & 1) << (2 * b)
            out |= ((sk >> b) & 1) << (2 * b + 1)
        return out

    seen = set()
    for pk in range(256):
        for sk in range(256):
            z = zval_as_written(pk, sk)
            assert z == interleave(pk, sk, 8)
            base = 256 * interleave(pk // 16, sk // 16, 4)
            assert base <= z <= base + 255
            seen.add(z)
    assert seen == set(range(65536))


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(min_size=0, max_size=40),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_portable_h64_agrees_across_spark_duckdb_python(texts, spark, duck):
    """queries/hashing.py is the single source of the portable 60-bit
    hash every hash-driven selection rides on (dedup, decontamination,
    sampling, train/val/test splitting).  The Spark text, the DuckDB
    text, and the Python mirror must agree on arbitrary unicode —
    including the empty string and non-BMP codepoints (both engines
    md5 the UTF-8 bytes) — or cross-engine selection silently picks
    DIFFERENT rows while every aggregate still looks plausible."""
    import pandas as pd

    from datafusion_umami_spark.queries.hashing import DUCK_H64, SPARK_H64

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, s string"
    )
    df.createOrReplaceTempView("h64_prop_t")
    got_sp = {
        r.id: r.h
        for r in spark.sql(
            f"SELECT id, {SPARK_H64.format(s='s')} AS h FROM h64_prop_t"
        ).collect()
    }
    duck.register("h64_prop_pd", pd.DataFrame({"id": range(len(texts)), "s": texts}))
    got_du = {
        i: h
        for i, h in duck.execute(
            f"SELECT id, {DUCK_H64.format(s='s')} AS h FROM h64_prop_pd"
        ).fetchall()
    }
    want = {i: _md5_60(t) for i, t in enumerate(texts)}
    assert got_sp == want
    assert got_du == want


@settings(max_examples=10, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-3, max_value=3), min_size=64, max_size=64
        ),
        min_size=1,
        max_size=6,
    )
)
def test_lsh_bucket_expr_matches_python_and_duckdb(vecs, spark, duck):
    """The 12-hyperplane LSH bucket id (queries/simsearch.py
    _sp_bucket_expr/_du_bucket_expr: sign of each literal-plane dot,
    left-fold accumulation) must agree bit-for-bit across Spark, DuckDB
    and a Python mirror of the same fold order — the bucket IS the
    partition/cluster key at 100 TB, so a one-bit disagreement silently
    probes the wrong bucket.  Integer-valued components keep each
    product's rounding identical across all three evaluations, and the
    zero vector pins the dot==0 boundary (strict > 0 -> bit unset)."""
    import pandas as pd

    from datafusion_umami_spark.queries.simsearch import (
        _PLANES,
        _du_bucket_expr,
        _sp_bucket_expr,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    df.createOrReplaceTempView("lsh_prop_t")
    got_sp = {
        r.vec_id: r.bucket
        for r in spark.sql(
            f"SELECT vec_id, {_sp_bucket_expr('v')} AS bucket FROM lsh_prop_t"
        ).collect()
    }
    duck.register(
        "lsh_prop_pd",
        pd.DataFrame({"vec_id": [i for i, _ in rows], "v": [v for _, v in rows]}),
    )
    got_du = {
        i: b
        for i, b in duck.execute(
            f"SELECT vec_id, {_du_bucket_expr('v')} AS bucket FROM lsh_prop_pd"
        ).fetchall()
    }

    def bucket_py(v: list[float]) -> int:
        out = 0
        for i, p in enumerate(_PLANES):
            acc = 0.0
            for x, y in zip(v, p):
                acc += x * float(y)
            if acc > 0:
                out |= 1 << i
        return out

    want = {i: bucket_py(v) for i, (_, v) in enumerate(rows)}
    assert got_sp == want
    assert got_du == want


def _grams_py(ws: list[str], n: int) -> list[str]:
    """Clamped word n-grams (dedup.py / decontam.py tail convention:
    docs shorter than n repeat the last word)."""
    L = len(ws)
    return [
        " ".join(ws[min(i + j, L - 1)] for j in range(n))
        for i in range(max(L - n + 1, 1))
    ]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.tuples(
            st.booleans(),  # True -> eval slice (src0)
            st.lists(st.sampled_from(_MH_WORDS), min_size=1, max_size=8),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_decontam_flags_match_python_reference(docs, spark, restore_views):
    """text_decontam_flags (registered Spark SQL verbatim over a
    swapped-in `documents` view) == the per-document Python evaluation:
    clamped 5-grams, hash-set intersection against the WHOLE eval
    slice (an n-gram hit by several eval docs counts once), the
    n_hit*5 >= n_total flag, and the empty-corpus / empty-eval edges
    (no eval docs -> zero contamination, no corpus docs -> empty
    result)."""
    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["text_decontam_flags"].fn.__doc__
    rows = [
        (i, " ".join(ws), "src0" if is_eval else "src1")
        for i, (is_eval, ws) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.createOrReplaceTempView("documents")
    got = {
        r.doc_id: (r.n_ngrams, r.n_contaminated, r.contamination_frac,
                   r.flag_contaminated)
        for r in spark.sql(sql).collect()
    }
    eval_hashes = set()
    for i, (is_eval, ws) in enumerate(docs):
        if is_eval:
            eval_hashes.update(_md5_60(g) for g in _grams_py(ws, 5))
    want = {}
    for i, (is_eval, ws) in enumerate(docs):
        if is_eval:
            continue
        hs = {_md5_60(g) for g in _grams_py(ws, 5)}
        n_total, n_hit = len(hs), len(hs & eval_hashes)
        want[i] = (
            n_total,
            n_hit,
            round(n_hit / n_total, 6),
            1 if n_hit * 5 >= n_total else 0,
        )
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=st.lists(
        st.lists(st.sampled_from(_MH_WORDS), min_size=1, max_size=10),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_gopher_matches_python_reference(word_lists, spark, restore_views):
    """text_repetition_gopher (registered Spark SQL verbatim) == the
    Python evaluation of the Gopher repetition signals: duplicate-word
    fraction 1 - n_uniq/n_tok, top-bigram fraction 2*top_c/n_tok over
    clamped bigrams (a 1-word doc yields the self-pair), and the
    integer-arithmetic flag (n_uniq*10 <= n_tok*3 OR top_c*10 >=
    n_tok*2).  The tiny alphabet makes heavily repetitive docs — the
    regime the filter exists for — the COMMON case instead of the
    never-generated one."""
    from collections import Counter

    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["text_repetition_gopher"].fn.__doc__
    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    got = {
        r.doc_id: (r.n_tok, r.dup_word_frac, r.top_bigram_frac,
                   r.flag_repetitive)
        for r in spark.sql(sql).collect()
    }
    want = {}
    for i, ws in enumerate(word_lists):
        n_tok, n_uniq = len(ws), len(set(ws))
        top_c = max(Counter(_grams_py(ws, 2)).values())
        want[i] = (
            n_tok,
            round(1.0 - n_uniq / n_tok, 6),
            round(2.0 * top_c / n_tok, 6),
            1 if n_uniq * 10 <= n_tok * 3 or top_c * 10 >= n_tok * 2 else 0,
        )
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    toks=st.lists(
        # r13 (ADVICE item 3): range extended past 9.2e13 — the point
        # where the un-widened BIGINT numerator toks*100000 ANSI-threw.
        # The DECIMAL(38,0)/HUGEINT widening must stay exact through
        # per-source totals far beyond the 100 TB regime (~1e13/source).
        st.integers(min_value=1, max_value=10**16),
        min_size=1,
        max_size=8,
    )
)
def test_mixture_budget_matches_largest_remainder_reference(toks, spark, duck):
    """cur_source_mixture_budget's allocation core (queries/curation.py
    _MIX_BODY_SP / _MIX_BODY_DU, run verbatim over swapped-in
    source-counts relations on BOTH engines) == the textbook
    largest-remainder method in exact Python integers: base =
    floor(toks*B/total), +1 to the largest remainders (ties broken by
    source name, the ROW_NUMBER total order).  Also asserts the two
    quota invariants the method guarantees: allocations sum to EXACTLY
    the budget, and every source gets base or base+1.  1e12-token
    sources push toks*B past 2^53 — the regime where the original
    double-division base silently under-allocated (caught by this
    test, fixed to native integer DIV / //)."""
    import pandas as pd

    from datafusion_umami_spark.queries.curation import (
        _MIX_BODY_DU,
        _MIX_BODY_SP,
    )

    B = 100_000
    rows = [(f"s{i}", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "source string, toks long")
    df.createOrReplaceTempView("mix_prop_src")
    got = {
        r.source: r.allocated_tokens
        for r in spark.sql(
            "WITH " + _MIX_BODY_SP.replace("FROM src", "FROM mix_prop_src")
        ).collect()
    }
    duck.register(
        "mix_prop_pd",
        pd.DataFrame({"source": [s for s, _ in rows],
                      "toks": [t for _, t in rows]}),
    )
    got_du = {
        r[0]: r[2]
        for r in duck.execute(
            "WITH " + _MIX_BODY_DU.replace("FROM src", "FROM mix_prop_pd")
        ).fetchall()
    }
    total = sum(toks)
    base = {s: (t * B) // total for s, t in rows}
    rem = {s: (t * B) % total for s, t in rows}
    topup = B - sum(base.values())
    order = sorted(rows, key=lambda r: (-rem[r[0]], r[0]))
    want = dict(base)
    for s, _ in order[:topup]:
        want[s] += 1
    assert got == want
    assert got_du == want
    assert sum(got.values()) == B
    assert all(got[s] - base[s] in (0, 1) for s, _ in rows)


# Spark ROUND(double, 6) goes through BigDecimal HALF_UP of the
# double's shortest decimal repr — python's round() is banker's, which
# DIVERGES on exact ties (e.g. 1/128 = 0.0078125 at 6dp).  Mirror
# Spark's semantics for ratio pins whose denominators can be powers
# of two.
def _round6_half_up(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


_TEXT_TOKENS = ["the", "a", "of", "and", "el", "la", "der", "und",
                "le", "les", "zz9", "Qx", ".", "!!", "7"]


def _text_feats_py(t: str) -> tuple[int, int, int, int]:
    """Python mirror of the text_token_stats / text_quality_score
    feature extraction (Spark semantics: split(trim, '\\s+') keeps a
    single empty token for the empty string)."""
    import re as _re

    n_chars = len(t)
    n_tokens_ws = len(_re.split(r"\s+", t.strip()))
    n_word = len(_re.findall(r"[a-z0-9]+", t))
    n_bpe = len(_re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", t))
    return n_chars, n_tokens_ws, n_word, n_bpe


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=st.lists(
        st.lists(st.sampled_from(_TEXT_TOKENS), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_token_stats_match_python_reference(word_lists, spark, restore_views):
    """text_token_stats (registered Spark SQL verbatim) == Python `re`
    over the same patterns: whitespace tokens, [a-z0-9]+ word tokens,
    the BPE-ish alternation (letters | digits | single non-alnum), and
    the chars-per-token ratio under HALF_UP rounding.  Mixed-case and
    punctuation tokens exercise every branch of the alternation."""
    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["text_token_stats"].fn.__doc__
    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    got = {
        r.doc_id: (r.n_chars_measured, r.n_tokens_ws, r.n_word_tokens,
                   r.n_bpe_ish_tokens, r.chars_per_token)
        for r in spark.sql(sql).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        n_chars, n_ws, n_word, n_bpe = _text_feats_py(t)
        want[i] = (
            n_chars, n_ws, n_word, n_bpe,
            _round6_half_up(float(n_chars) / max(n_ws, 1)),
        )
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=st.lists(
        st.lists(st.sampled_from(_TEXT_TOKENS), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_langid_argmax_matches_python_reference(word_lists, spark, restore_views):
    """text_langid_ngram (registered Spark SQL verbatim) == Python `re`
    marker counting plus the fixed-order argmax tie-break (en >= es >=
    de >= fr).  The token pool overlaps markers across languages ('la'
    scores es AND fr; 'a' scores en) so ties and cross-language hits
    are the common case."""
    import re as _re

    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["text_langid_ngram"].fn.__doc__
    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        [(i, t, "xx") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    df.createOrReplaceTempView("documents")
    got = {
        r.doc_id: (r.s_en, r.s_es, r.s_de, r.s_fr, r.lang_pred)
        for r in spark.sql(sql).collect()
    }
    pats = {
        "en": r"\b(the|a|of)\b",
        "es": r"\b(el|la|de|que)\b",
        "de": r"\b(der|die|das|und)\b",
        "fr": r"\b(le|la|et|les)\b",
    }
    want = {}
    for i, t in enumerate(texts):
        s = {k: len(list(_re.finditer(p, t))) for k, p in pats.items()}
        if s["en"] >= s["es"] and s["en"] >= s["de"] and s["en"] >= s["fr"]:
            pred = "en"
        elif s["es"] >= s["de"] and s["es"] >= s["fr"]:
            pred = "es"
        elif s["de"] >= s["fr"]:
            pred = "de"
        else:
            pred = "fr"
        want[i] = (s["en"], s["es"], s["de"], s["fr"], pred)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=st.lists(
        st.lists(st.sampled_from(_TEXT_TOKENS), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_quality_score_matches_python_reference(word_lists, spark, restore_views):
    """text_quality_score (registered Spark SQL verbatim) == the Python
    evaluation of the same feature ratios and the weighted score, with
    HALF_UP 6dp rounding (power-of-two denominators DO occur here —
    python round()'s banker's rule would silently disagree).  The
    punct feature counts everything outside [a-z0-9 ], so uppercase
    and '!' tokens exercise it."""
    import re as _re

    from datafusion_umami_spark.registry import REGISTRY, _load_all

    _load_all()
    sql = REGISTRY["text_quality_score"].fn.__doc__
    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")
    got = {
        r.doc_id: (r.punct_ratio, r.stopword_ratio, r.mean_token_len,
                   r.quality_score)
        for r in spark.sql(sql).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        n_chars = float(len(t))
        n_tokens = float(len(_re.split(r"\s+", t.strip())))
        n_punct = float(len(_re.findall(r"[^a-z0-9 ]", t)))
        n_stop = float(
            len(list(_re.finditer(r"\b(the|a|of|and|is|in|to)\b", t)))
        )
        score = (
            min(n_tokens / 50.0, 1.0) * 0.4
            + min(n_stop / max(n_tokens, 1.0) * 5.0, 1.0) * 0.4
            + (1.0 - min(n_punct / max(n_chars, 1.0) * 10.0, 1.0)) * 0.2
        )
        want[i] = (
            _round6_half_up(n_punct / max(n_chars, 1.0)),
            _round6_half_up(n_stop / max(n_tokens, 1.0)),
            _round6_half_up(n_chars / max(n_tokens, 1.0)),
            _round6_half_up(score),
        )
    assert got == want


@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_exact_ppm_ratio_matches_python_reference(data, spark, duck):
    """tpcds_dual_rank_return_ratio's integer-ppm builders
    (queries/tpcds_shapes_t6.py _ppm_sp / _ppm_du) == Python's exact
    (1e6*r)//t on BOTH engines at aggregate-scale magnitudes — the
    regime where the original FLOOR(double/double) form flipped at
    exact ppm boundaries (counterexample pinned below: exact ratio
    915164, double floor gave 915163).  The ppm feeds RANK(), so a
    one-ulp flip reorders the query output."""
    import pandas as pd

    from datafusion_umami_spark.queries.tpcds_shapes_t6 import (
        _ppm_du,
        _ppm_sp,
    )

    pairs = [(6_384_050_450_056, 6_975_854_000_000)]  # review counterexample
    for _ in range(data.draw(st.integers(1, 6), label="n")):
        t = data.draw(st.integers(1, 9 * 10**15), label="t")
        r = data.draw(st.integers(0, t), label="r")
        pairs.append((r, t))
    rows = [(i, r, t) for i, (r, t) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, r long, t long")
    df.createOrReplaceTempView("ppm_prop_t")
    got_sp = {
        row.id: row.ppm
        for row in spark.sql(
            f"SELECT id, {_ppm_sp('r', 't')} AS ppm FROM ppm_prop_t"
        ).collect()
    }
    duck.register(
        "ppm_prop_pd",
        pd.DataFrame(rows, columns=["id", "r", "t"]),
    )
    got_du = dict(
        duck.execute(
            f"SELECT id, {_ppm_du('r', 't')} AS ppm FROM ppm_prop_pd"
        ).fetchall()
    )
    want = {i: (10**6 * r) // t for i, (r, t) in enumerate(pairs)}
    assert got_sp == want
    assert got_du == want


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),     # user
            st.integers(0, 40),    # ts offset (seconds); gap = 10s
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_session_window_matches_gaps_and_islands_reference(rows, spark):
    """session_window_agg rests on one semantic claim: Spark MERGES
    session windows that touch — per-event windows are [ts, ts+gap),
    and an event landing EXACTLY gap after the previous one joins the
    SAME session, so the gaps-and-islands oracle must split on
    `> gap`, not `>= gap`.  This test FALSIFIED the spec's original
    `>=` oracle (events at t=0 and t=10 with a 10s gap: Spark returns
    one session [0, 20) x2 events) — invisible on sf data whose
    µs-resolution timestamps never land an exact 30-minute gap, instant
    on this 1-second grid where boundary ties are the common case.
    Pins F.session_window itself against the pure-Python definition."""
    import datetime as _dt

    from collections import defaultdict

    from pyspark.sql import functions as FF

    base = _dt.datetime(2024, 1, 1)
    data = [
        (u, base + _dt.timedelta(seconds=o)) for u, o in rows
    ]
    df = spark.createDataFrame(data, "user_id long, ts timestamp_ntz")
    got = [
        (r.user_id, r.session_start, r.session_end, r.events)
        for r in (
            df.groupBy("user_id", FF.session_window("ts", "10 seconds"))
            .agg(FF.count("*").alias("events"))
            .select(
                "user_id",
                FF.col("session_window.start")
                .cast("timestamp_ntz")
                .alias("session_start"),
                FF.col("session_window.end")
                .cast("timestamp_ntz")
                .alias("session_end"),
                "events",
            )
            .orderBy("user_id", "session_start")
            .collect()
        )
    ]
    byuser = defaultdict(list)
    for u, t in data:
        byuser[u].append(t)
    want = []
    gap = _dt.timedelta(seconds=10)
    for u in sorted(byuser):
        ts = sorted(byuser[u])
        sess = [[ts[0]]]
        for prev, cur in zip(ts, ts[1:]):
            if cur - prev > gap:
                sess.append([cur])
            else:
                sess[-1].append(cur)
        for s in sess:
            want.append((u, s[0], s[-1] + gap, len(s)))
    assert got == want


def _round_half_up(x: float, nd: int) -> float:
    """Spark ROUND(double, nd): BigDecimal of the shortest decimal repr,
    HALF_UP — python round() is banker's and diverges on exact ties."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), ROUND_HALF_UP))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-8, max_value=8), min_size=8, max_size=8
        ),
        min_size=9,
        max_size=14,
    )
)
def test_ivf_kmeans_matches_python_lloyd_reference(vecs, spark, restore_views):
    """ann_ivf_trained's three registered SQL stages (run verbatim over
    a swapped-in `embeddings` view, plain temp views standing in for
    the materialization checkpoints) == a pure-Python Lloyd's pass:
    seed centroids vec_id<8, argmin assignment over HALF_UP-9dp L2²
    with centroid-id tie-break, EXACT scaled-integer per-dimension
    means, one refinement, then the cosine top-5 probe inside vec 0's
    cluster.  Quarter-valued 8-dim embeddings keep v*10000 exact while
    the centroid means stay genuinely fractional doubles — the fold
    order (left-to-right aggregate) is mirrored so every IEEE
    intermediate matches bit-for-bit.  Duplicate vectors (equidistant
    ties) are common at this density, and so are ALL-ZERO vectors —
    the case that falsified the unfenced probe (ANSI divide-by-zero
    killed the whole query on one zero-norm row): zero vectors must
    CLUSTER (L2 argmin is defined) but be excluded from the cosine
    probe, and a zero-norm QUERY vector yields an empty result."""
    import math

    from datafusion_umami_spark.queries.simsearch import (
        _SP_IVF_A2,
        _SP_IVF_C1,
        _SP_IVF_FINAL,
    )

    dim = 8
    data = [
        (i, [x / 4.0 for x in v] + [0.0] * (64 - dim))
        for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    df.createOrReplaceTempView("embeddings")
    spark.sql(_SP_IVF_C1).createOrReplaceTempView("ivf_c1_prop")
    spark.sql(
        _SP_IVF_A2.replace("__C1__", "ivf_c1_prop")
    ).createOrReplaceTempView("ivf_a2_prop")
    got = [
        (r.vec_id, r.cosine)
        for r in spark.sql(
            _SP_IVF_FINAL.replace("__A2__", "ivf_a2_prop")
        ).collect()
    ]

    def l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    def argmin(v, cents):
        return min(cents, key=lambda c: (_round_half_up(l2(v, cents[c]), 9), c))

    vs = {i: v for i, v in data}
    seeds = {i: vs[i] for i in vs if i < 8}
    a1 = {i: argmin(v, seeds) for i, v in vs.items()}
    cents = {}
    for c in set(a1.values()):
        members = [vs[i] for i in vs if a1[i] == c]
        n = len(members)
        cents[c] = [
            sum(int(_round_half_up(v[j] * 10000, 0)) for v in members)
            / (10000.0 * n)
            for j in range(64)
        ]
    a2 = {i: argmin(v, cents) for i, v in vs.items()}

    def nrm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return math.sqrt(acc)

    qc, qv, qn = a2[0], vs[0], nrm(vs[0])
    scored = []
    if qn > 0:
        for i, v in vs.items():
            if i == 0 or a2[i] != qc or nrm(v) == 0.0:
                continue
            acc = 0.0
            for x, y in zip(v, qv):
                acc += x * y
            scored.append((i, _round_half_up(acc / (nrm(v) * qn), 6)))
        scored.sort(key=lambda t: (-t[1], t[0]))
    assert got == scored[:5]


# --- round-13: quantile-banding pins (r12 verdict item 2) --------------------
# The five de-globalized specs band by comparison against percentile_disc
# boundaries.  Hash-green sf data cannot see boundary-tie semantics (a
# measure-zero set under the generators), so each banding BODY — the
# registered text verbatim, formatted onto a swapped-in relation — is
# pinned here against a pure-Python evaluation of the SQL-standard
# percentile_disc definition (smallest value whose CDF >= p) AND against
# DuckDB running the identical text on the identical micro-data.


def _pdisc_py(xs, p, desc=False):
    """SQL-standard percentile_disc: the value at rank ceil(p*n) of xs
    under the given order (probed identical Spark 4.1 vs DuckDB 1.x)."""
    s = sorted(xs, reverse=desc)
    k = max(1, math.ceil(p * len(s)))
    return s[k - 1]


def _band_ge_py(x, bounds):
    """CASE WHEN x >= b1 THEN 1 ... ELSE len+1 (DESC-metric banding)."""
    for i, b in enumerate(bounds, start=1):
        if x >= b:
            return i
    return len(bounds) + 1


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 6), st.integers(0, 4)),  # (freq, rev) tiny
        min_size=1,
        max_size=25,
    )
)
def test_freq_monetary_banding_matches_python_and_duckdb(rows, spark):
    """tpcds_freq_monetary_matrix's banding BODY on adversarial tie-heavy
    micro-data (n below/around the 4 bands, all-equal columns shrinkable)
    vs the textbook quartile banding and vs DuckDB on the same text."""
    import duckdb as _duckdb
    import pandas as _pd

    from datafusion_umami_spark.queries.tpcds_shapes import _FMM_BODY

    pdf = _pd.DataFrame(
        [(i, f, r * 100) for i, (f, r) in enumerate(rows)],
        columns=["custkey", "freq", "rev_c"],
    )
    sql = "WITH " + _FMM_BODY.format(pc="fmm_pin_v").lstrip()
    spark.createDataFrame(pdf).createOrReplaceTempView("fmm_pin_v")
    got_sp = {(r.f_q, r.m_q): r.n_customers for r in spark.sql(sql).collect()}

    con = _duckdb.connect()
    con.register("fmm_pin_v", pdf)
    got_du = {
        (fq, mq): n for fq, mq, n in con.execute(sql).fetchall()
    }
    con.close()

    fb = [_pdisc_py([f for f, _ in rows], p, desc=True)
          for p in (0.25, 0.50, 0.75)]
    mb = [_pdisc_py([r * 100 for _, r in rows], p, desc=True)
          for p in (0.25, 0.50, 0.75)]
    want: dict[tuple[int, int], int] = {}
    for f, r in rows:
        key = (_band_ge_py(f, fb), _band_ge_py(r * 100, mb))
        want[key] = want.get(key, 0) + 1
    assert got_sp == want, f"spark != python on bounds f={fb} m={mb}"
    assert got_du == want, f"duckdb != python on bounds f={fb} m={mb}"


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    qs=st.lists(
        st.sampled_from([i / 16 for i in range(17)]),  # exact dyadics:
        min_size=1,                                    # ROUND(x,6) == x
        max_size=30,
    )
)
def test_curriculum_bucket_banding_matches_python_and_duckdb(qs, spark):
    """cur_quality_curriculum_buckets' decile-banding BODY over DOUBLE
    scores with guaranteed ties (17 dyadic values, n up to 30) — the
    boundaries are actual elements, so double compares must be exact
    and identical on Spark, DuckDB, and the Python definition."""
    import duckdb as _duckdb
    import pandas as _pd

    from datafusion_umami_spark.queries.curation import _CURR_BODY

    pdf = _pd.DataFrame(
        [(i, q) for i, q in enumerate(qs)], columns=["doc_id", "q"]
    )
    sql = "WITH " + _CURR_BODY.format(sc="curr_pin_v").lstrip()
    spark.createDataFrame(pdf).createOrReplaceTempView("curr_pin_v")
    got_sp = {
        r.bucket: (r.n_docs, r.min_q, r.max_q)
        for r in spark.sql(sql).collect()
    }
    con = _duckdb.connect()
    con.register("curr_pin_v", pdf)
    got_du = {b: (n, lo, hi) for b, n, lo, hi in con.execute(sql).fetchall()}
    con.close()

    bounds = [_pdisc_py(qs, k / 10, desc=True) for k in range(1, 10)]
    buckets: dict[int, list[float]] = {}
    for q_v in qs:
        buckets.setdefault(_band_ge_py(q_v, bounds), []).append(q_v)
    want = {b: (len(v), min(v), max(v)) for b, v in buckets.items()}
    assert got_sp == want, f"spark != python on bounds {bounds}"
    assert got_du == want, f"duckdb != python on bounds {bounds}"


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4000), st.integers(0, 5)),  # (n_toks, qbin)
        min_size=1,
        max_size=40,
    )
)
def test_token_budget_two_level_prefix_equals_global_greedy(rows, spark):
    """cur_token_budget_greedy's two-level prefix sum (decile band
    offsets + PARTITION BY band running sum) must be BIT-IDENTICAL to
    the plain global greedy it replaced: sort by (q_micro DESC, doc_id),
    global exclusive prefix sum of tokens, keep while < 10000.  Ties in
    q_micro (only 6 distinct values, so every band boundary collides)
    and docs straddling the budget edge are the adversarial surface."""
    import duckdb as _duckdb
    import pandas as _pd

    from datafusion_umami_spark.queries.curation import _BUDGET_BODY

    pdf = _pd.DataFrame(
        [(i, t, qb * 200_000) for i, (t, qb) in enumerate(rows)],
        columns=["doc_id", "n_toks", "q_micro"],
    )
    sql = "WITH " + _BUDGET_BODY.format(sc="tbg_pin_v").lstrip()
    spark.createDataFrame(pdf).createOrReplaceTempView("tbg_pin_v")
    got_sp = [tuple(r) for r in spark.sql(sql).collect()]
    con = _duckdb.connect()
    con.register("tbg_pin_v", pdf)
    got_du = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()

    order = sorted(
        ((i, t, qm) for i, (t, qb) in enumerate(rows)
         for qm in [qb * 200_000]),
        key=lambda r: (-r[2], r[0]),
    )
    want, acc = [], 0
    for i, t, qm in order:
        if acc < 10000:
            want.append((i, t, qm, acc))
        acc += t
    want = want[:2000]
    assert got_sp == want, "spark != python global greedy"
    assert got_du == want, "duckdb != python global greedy"


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    revs=st.lists(
        st.integers(0, 5),  # rev bin: few distinct values so every band
        min_size=1,         # boundary collides (the tie surface)
        max_size=40,
    )
)
def test_pareto_two_level_prefix_equals_global_cumsum(revs, spark):
    """tpcds_pareto_coverage's two-level prefix sum (decile band offsets
    + PARTITION BY band running sum) must be BIT-IDENTICAL to the global
    running sum it replaced: sort customers by (rev_c DESC, custkey),
    global exclusive cents prefix, count rows with prefix*5 < total*4.
    Rev magnitudes sit at 2^52 per bin so sums blow past 2^53 — the
    DECIMAL(38,0) accumulation must stay exact where a double (or an
    ANSI BIGINT*5 near 2^63) would not; ties in rev_c and the empty
    band-offset LEFT JOIN arm (band 1) are the adversarial surface."""
    import duckdb as _duckdb
    import pandas as _pd

    from datafusion_umami_spark.queries.tpcds_shapes import _PARETO_BODY

    big = 1 << 52
    pdf = _pd.DataFrame(
        [(i, rb * big) for i, rb in enumerate(revs)],
        columns=["custkey", "rev_c"],
    )
    sql = "WITH " + _PARETO_BODY.format(pc="pareto_pin_v").lstrip()
    spark.createDataFrame(pdf).createOrReplaceTempView("pareto_pin_v")
    got_sp = [tuple(r) for r in spark.sql(sql).collect()]
    con = _duckdb.connect()
    con.register("pareto_pin_v", pdf)
    got_du = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()

    order = sorted(
        ((i, rb * big) for i, rb in enumerate(revs)),
        key=lambda r: (-r[1], r[0]),
    )
    total = sum(r for _, r in order)
    acc = 0
    n80 = 0
    for _, r in order:
        if acc * 5 < total * 4:
            n80 += 1
        acc += r
    for got, eng in ((got_sp, "spark"), (got_du, "duckdb")):
        assert len(got) == 1, eng
        tc, c80, frac = got[0]
        assert (tc, c80) == (len(revs), n80), f"{eng} != python pareto"
        assert abs(frac - round(n80 / len(revs), 6)) < 1e-9, eng


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(0, 6), min_size=1, max_size=25)
)
def test_median_count_fence_matches_python_on_tie_heavy_groups(
    counts, spark
):
    """The r14 median-fence texts (cb_regex_extract_agg,
    cb_stats_having, cb_ext_q5_p95_approx and the median-of-means
    variants) keep groups with c STRICTLY above
    percentile_disc(0.5) WITHIN GROUP (ORDER BY c) — the kept SET must
    agree bit-for-bit across Spark, DuckDB, and the SQL-standard
    definition (value at rank ceil(n/2)).  Tie-heavy counts (only 7
    distinct values so the median collides constantly), all-equal
    inputs (kept set EMPTY — the documented degenerate), and single
    groups are the adversarial surface."""
    import duckdb as _duckdb
    import pandas as _pd

    pdf = _pd.DataFrame(
        [(i, c) for i, c in enumerate(counts)], columns=["gid", "c"]
    )
    sql = """
        SELECT gid FROM mf_pin_v
        WHERE c > (SELECT CAST(percentile_disc(0.5) WITHIN GROUP
                           (ORDER BY c) AS BIGINT) FROM mf_pin_v)
        ORDER BY gid"""
    spark.createDataFrame(pdf).createOrReplaceTempView("mf_pin_v")
    got_sp = [r.gid for r in spark.sql(sql).collect()]
    con = _duckdb.connect()
    con.register("mf_pin_v", pdf)
    got_du = [r[0] for r in con.execute(sql).fetchall()]
    con.close()

    med = _pdisc_py(counts, 0.5)
    want = [i for i, c in enumerate(counts) if c > med]
    assert got_sp == want, f"spark != python on median {med}"
    assert got_du == want, f"duckdb != python on median {med}"


def _band_le_py(x, bounds):
    """CASE WHEN x <= b1 THEN 1 ... ELSE len+1 (ASC-metric banding)."""
    for i, b in enumerate(bounds, start=1):
        if x <= b:
            return i
    return len(bounds) + 1


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(1, 6), st.integers(0, 400)),
        min_size=1,
        max_size=25,
    )
)
def test_rfm_banding_matches_python_and_duckdb(rows, spark):
    """evt_rfm_segments' banding BODY — the one spec mixing an
    ASC-banded metric (recency, `<=` boundaries) with two DESC ones —
    on tie-heavy micro-data vs the Python definition and DuckDB."""
    import duckdb as _duckdb
    import pandas as _pd

    from datafusion_umami_spark.queries.eventanalytics import _RFM_BAND_T

    pdf = _pd.DataFrame(
        [(i, rc, f, mc) for i, (rc, f, mc) in enumerate(rows)],
        columns=["user_id", "recency_days", "frequency", "monetary_c"],
    )
    sp_sql = "WITH " + _RFM_BAND_T.format(rec="rfm_pin_v", vc="STRING").lstrip()
    du_sql = "WITH " + _RFM_BAND_T.format(rec="rfm_pin_v", vc="VARCHAR").lstrip()
    spark.createDataFrame(pdf).createOrReplaceTempView("rfm_pin_v")
    got_sp = {r.user_id: (r.r_q, r.f_q, r.m_q, r.segment)
              for r in spark.sql(sp_sql).collect()}
    con = _duckdb.connect()
    con.register("rfm_pin_v", pdf)
    got_du = {u: (rq, fq, mq, seg)
              for u, _, _, _, rq, fq, mq, seg in con.execute(du_sql).fetchall()}
    con.close()

    rb = [_pdisc_py([r[0] for r in rows], p) for p in (0.25, 0.50, 0.75)]
    fb = [_pdisc_py([r[1] for r in rows], p, desc=True)
          for p in (0.25, 0.50, 0.75)]
    mb = [_pdisc_py([r[2] for r in rows], p, desc=True)
          for p in (0.25, 0.50, 0.75)]
    want = {}
    for i, (rc, f, mc) in enumerate(rows):
        t = (_band_le_py(rc, rb), _band_ge_py(f, fb), _band_ge_py(mc, mb))
        want[i] = t + ("".join(map(str, t)),)
    assert got_sp == want, f"spark != python on bounds r={rb} f={fb} m={mb}"
    assert got_du == want, f"duckdb != python on bounds r={rb} f={fb} m={mb}"


def test_cosine_fence_excludes_nonfinite_norms(spark, restore_views):
    """r13 ADVICE item 1: the cosine fence must drop NaN- and Inf-norm
    embeddings on BOTH engines, not just zero-norm ones — corrupt
    encoder output produces non-finite components as easily as zeros,
    and both engines evaluate NaN > 0 as TRUE (probed), so the old
    bare `nrm > 0` fence let NaN cosines into the top-k.  Runs the
    registered ann_bruteforce_topk texts verbatim over a swapped-in
    embeddings view holding a NaN row, an Inf row, a zero row, and
    clean rows (the numpy kernel applies the same isfinite mask —
    reviewed inline at simsearch.py:topk_per_batch)."""
    import math as _math

    import duckdb as _duckdb

    from datafusion_umami_spark.registry import REGISTRY as _REG
    from datafusion_umami_spark.registry import _load_all as _la

    _la()
    rows = [
        (0, [1.0, 0.0, 0.0]),            # query
        (1, [1.0, 1.0, 0.0]),            # clean
        (2, [float("nan"), 1.0, 0.0]),   # NaN component -> NaN norm
        (3, [float("inf"), 1.0, 0.0]),   # Inf component -> Inf norm
        (4, [0.0, 0.0, 0.0]),            # zero norm
        (5, [0.5, -0.5, 0.0]),           # clean
        (6, [1e38, 1e38, 0.0]),          # finite in f64 after cast
    ]
    spec = _REG["ann_bruteforce_topk"]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).createOrReplaceTempView("embeddings")
    got_sp = [(r.vec_id, r.cosine) for r in spark.sql(spec.fn.__doc__).collect()]

    # NOT pandas registration: duckdb's pandas scan coerces NaN inside a
    # list column to NULL (list_sum then SKIPS it like SQL SUM), which
    # would silently un-poison the adversarial rows — SQL literals keep
    # the NaN/Inf payload intact
    def _lit(v: float) -> str:
        if _math.isnan(v):
            return "'NaN'::DOUBLE"
        if _math.isinf(v):
            return "'Infinity'::DOUBLE"
        return repr(v)

    values = ",".join(
        f"({i}, [{', '.join(_lit(x) for x in vec)}])" for i, vec in rows
    )
    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"(VALUES {values}) t(vec_id, embedding)"
    )
    got_du = [tuple(r) for r in con.execute(spec.oracle).fetchall()]
    con.close()

    ids_sp = [i for i, _ in got_sp]
    assert 2 not in ids_sp and 3 not in ids_sp and 4 not in ids_sp, got_sp
    assert all(_math.isfinite(c) for _, c in got_sp), got_sp
    assert got_sp == got_du, (got_sp, got_du)
    assert {1, 5, 6} == set(ids_sp), got_sp


def test_dataframe_reshape_oracles_match_on_adversarial_micro_data(
    spark, monkeypatch, restore_views
):
    """r13 dataframe_ops review: four specs pair a DataFrame-API callable
    with a REFORMULATED SQL oracle (na.fill/na.drop vs COALESCE/WHERE,
    arrays_zip+posexplode vs LATERAL unnest, pivot vs SUM(CASE),
    unpivot vs UNION ALL) and had no micro-data pin — the CLAUDE.md
    reformulation rule.  This runs each registered callable on
    swapped-in adversarial fixtures (NULL keys, NULL segments, empty
    strings, separator-edge names, pivot keys outside the value list,
    NULL measures, boundary custkeys) against the registered oracle on
    the identical data."""
    import duckdb as _duckdb
    import pandas as _pd

    import datafusion_umami_spark.queries.dataframe_ops as dfo
    from datafusion_umami_spark.oracle import compare_frames
    from datafusion_umami_spark.registry import REGISTRY as _REG
    from datafusion_umami_spark.registry import _load_all as _la

    _la()
    customer = _pd.DataFrame(
        {
            "c_custkey": [5, 10, 15, 20, 399, 400, 7, 3],
            "c_mktsegment": ["BUILDING", None, "AUTO", "BUILDING",
                             "MACHINERY", "FURNITURE", None, "AUTO"],
            "c_acctbal": [1.5, None, 2.25, None, 3.0, 4.0, 9.75, -1.25],
        }
    )
    # %5==0 nulls bal; BUILDING/None null seg; (20): both null -> dropped
    nation = _pd.DataFrame(
        {
            "n_nationkey": [0, 1, 2, 3, 4, 5, 11],
            "n_name": ["", "A", "AA", "BANANA", "XYZ", "XA", "AAAA"],
        }
    )
    events = _pd.DataFrame(
        {
            "user_id": [1, 2, None, 11, 12, 1, 2],
            "event_type": ["click", "view", "purchase", "zzz", None,
                           "click", "signup"],
            "value": [1.25, 2.50, 3.75, 100.0, 5.25, -0.75, 0.0],
        }
    ).astype({"user_id": "Int64"})
    lineitem = _pd.DataFrame(
        {
            "l_returnflag": ["A", "A", "N", "R"],
            "l_quantity": [1.0, None, 3.0, 4.0],
            "l_extendedprice": [10.25, 20.50, None, 40.75],
            "l_discount": [0.05, 0.06, 0.07, None],
            # date objects, not datetime64: duckdb maps pandas
            # datetime64[ns] to TIMESTAMP_NS, which refuses the
            # oracle's >= DATE comparison (the real fixture is µs)
            "l_shipdate": _pd.to_datetime(
                ["1997-12-31", "1998-01-01", "1999-06-15", "1998-01-01"]
            ).date,
        }
    )
    frames = {
        "customer": customer,
        "nation": nation,
        "events": events,
        "lineitem": lineitem,
    }

    def _nn(x):
        # pandas stores None as NaN in float columns; Spark must see a
        # real NULL, not a NaN DOUBLE (round(NaN).cast(bigint) would
        # ANSI-crash — a different fixture than the one intended here)
        return None if _pd.isna(x) else x

    sdfs = {
        "customer": spark.createDataFrame(
            [
                (int(k), _nn(s), _nn(b))
                for k, s, b in customer.itertuples(index=False)
            ],
            "c_custkey long, c_mktsegment string, c_acctbal double",
        ),
        "nation": spark.createDataFrame(nation),
        "events": spark.createDataFrame(
            [
                (None if _pd.isna(u) else int(u), _nn(t), v)
                for u, t, v in events.itertuples(index=False)
            ],
            "user_id long, event_type string, value double",
        ),
        "lineitem": spark.createDataFrame(
            [
                (f, _nn(q), _nn(e), _nn(d), s)
                for f, q, e, d, s in lineitem.itertuples(index=False)
            ],
            "l_returnflag string, l_quantity double, l_extendedprice double,"
            " l_discount double, l_shipdate date",
        ),
    }
    monkeypatch.setattr(dfo, "table", lambda sp, sf, name: sdfs[name])

    con = _duckdb.connect()
    for name, pdf in frames.items():
        con.register(name, pdf)
    for spec_name in (
        "df_fill_drop_null",
        "unnest_multi_posexplode",
        "pivot_wide_agg",
        "unpivot_melt",
        "repartition_by_range",
    ):
        spec = _REG[spec_name]
        got = spec.fn(spark, "ignored").toPandas()
        want = con.execute(spec.oracle).df()
        r = compare_frames(spec_name, got, want)
        assert r.ok, f"{spec_name}: {r.detail}"
    con.close()


def test_try_cast_agreement_class_and_documented_divergence(spark):
    """r13 types_edges review: TRY_CAST string->int semantics are NOT
    fully shared — DuckDB rounds/accepts decimal- and exponent-formatted
    strings ('2.5'->3 not 2, '12.0'->12, '1e2'->100) where Spark ANSI
    try_cast yields NULL.  types_try_cast's fixture inputs sit in the
    agreement class; this pins BOTH facts: (a) the agreement class
    (integral strings, garbage words, out-of-range values) behaves
    identically, so the spec's reliance on it is load-bearing, and (b)
    the divergence class genuinely diverges — if an engine upgrade ever
    aligns them, this fails and the documented-gap comment comes out."""
    import duckdb as _duckdb

    cases_agree = ["7", "-3", "0042", "  9 ", "red", "", "9999999999999",
                   None, "-0"]
    cases_diverge = ["2.5", "12.0", "1e2"]
    con = _duckdb.connect()

    def du(v):
        return con.execute(
            "SELECT TRY_CAST(? AS INT)", [v]
        ).fetchone()[0]

    def sp(v):
        lit = "NULL" if v is None else "'" + v.replace("'", "''") + "'"
        return spark.sql(f"SELECT try_cast({lit} AS INT) AS v").collect()[0].v

    for v in cases_agree:
        assert sp(v) == du(v), f"agreement class broke on {v!r}: " \
                               f"spark={sp(v)} duck={du(v)}"
    diverged = [v for v in cases_diverge if sp(v) != du(v)]
    assert diverged, (
        "TRY_CAST decimal-string divergence no longer reproduces — "
        "update the documented-gap comment in queries/types_edges.py"
    )
    con.close()


def test_ngram_builders_degenerate_text_cross_engine(spark, restore_views):
    """r12 verdict watch item / r13 item 7: the shared n-gram builders
    (dedup 3-gram shingles, decontam 5-grams, textanalysis token stats)
    were safe-by-construction on empty docs but never had an
    adversarial NULL/empty/whitespace-only pin.  Swaps `documents` for
    a degenerate corpus and asserts the REGISTERED texts produce
    identical rows on Spark and DuckDB.  Probed semantics this pin
    locks: a NULL text behaves exactly like an empty text on BOTH
    engines — greatest(NULL, 1) skips the NULL, element_at/[] on a
    NULL array is NULL, and concat_ws drops NULLs — so a NULL doc
    emits ONE empty gram while an empty/whitespace-only doc emits the
    all-empty-words gram ('  ' for a 3-gram: three ''s joined by two
    spaces); degenerate docs deterministically cluster together, never
    crash or diverge, and split(trim('')) yields [''] identically (the
    convention the docstrings rely on)."""
    import duckdb as _duckdb

    from datafusion_umami_spark.queries.decontam import _DU_5G, _SP_5G
    from datafusion_umami_spark.queries.dedup import (
        _DU_SHINGLES,
        _SP_SHINGLES,
    )
    from datafusion_umami_spark.registry import REGISTRY as _REG
    from datafusion_umami_spark.registry import _load_all as _la

    _la()
    texts = [None, "", "   ", "\t \n ", "word", "  two  words  ",
             "a b c", "a b c d e f g"]
    rows = list(enumerate(texts))
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    con = _duckdb.connect()
    values = ",".join(
        f"({i}, " + ("NULL" if t is None else "'" + t.replace("'", "''") + "'")
        + ")"
        for i, t in rows
    )
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"(VALUES {values}) t(doc_id, text)"
    )

    # dedup 3-gram shingles (the minhash candidate base)
    got_sp = sorted(
        (r.doc_id, r.shingle) for r in spark.sql(_SP_SHINGLES).collect()
    )
    got_du = sorted(tuple(r) for r in con.execute(_DU_SHINGLES).fetchall())
    assert got_sp == got_du, f"shingles diverge:\n{got_sp}\n{got_du}"
    assert (0, "") in got_sp, "NULL text must emit one empty shingle"
    assert (1, "  ") in got_sp, "empty text must emit the all-empty 3-gram"
    assert (2, "  ") in got_sp and (3, "  ") in got_sp, (
        "whitespace-only text must behave like empty text"
    )

    # decontam 5-grams, instantiated over the same ws base as the specs
    sp_src = r"(SELECT doc_id, split(trim(text), '\\s+') AS ws FROM documents)"
    du_src = (
        r"(SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws"
        " FROM documents)"
    )
    got_sp5 = sorted(
        (r.doc_id, r.ngram)
        for r in spark.sql(
            _SP_5G.format(cols="doc_id", src=sp_src)
        ).collect()
    )
    got_du5 = sorted(
        tuple(r)
        for r in con.execute(_DU_5G.format(cols="doc_id", src=du_src)).fetchall()
    )
    assert got_sp5 == got_du5, f"5-grams diverge:\n{got_sp5}\n{got_du5}"
    assert (0, "") in got_sp5, "NULL text must emit one empty 5-gram"
    assert (1, "    ") in got_sp5, "empty text must emit the all-empty 5-gram"

    # textanalysis token stats: the registered texts verbatim
    spec = _REG["text_token_stats"]
    sp_rows = {
        r.doc_id: tuple(r)[1:] for r in spark.sql(spec.fn.__doc__).collect()
    }
    du_rows = {r[0]: tuple(r)[1:] for r in con.execute(spec.oracle).fetchall()}
    assert sp_rows == du_rows, f"token stats diverge:\n{sp_rows}\n{du_rows}"
    con.close()


def test_salted_skew_join_matches_unsalted_on_null_keys(spark, restore_views):
    """r13 joins review: join_salted_skew's oracle is the UNSALTED join
    (a REFORMULATION — the CLAUDE.md pin rule), and the old salt
    pmod(event_id, 8) sent a NULL event_id to a NULL salt, silently
    DROPPING the row from the salted equi-join while the unsalted
    oracle kept it.  Fixed with coalesce-before-salt; this pin runs
    both registered texts verbatim over a swapped events view whose
    adversarial rows include NULL event_id, NULL value, NULL and
    unknown event_type."""
    import duckdb as _duckdb

    from datafusion_umami_spark.registry import REGISTRY as _REG
    from datafusion_umami_spark.registry import _load_all as _la

    _la()
    rows = [
        (1, "click", 1.25), (None, "click", 2.50), (3, "view", 3.75),
        (None, "purchase", 4.00), (5, "error", None), (6, "zzz", 6.25),
        (None, None, 7.00), (8, "signup", -1.50), (17, "click", 0.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    ).createOrReplaceTempView("events")
    spec = _REG["join_salted_skew"]
    got_sp = sorted(
        (r.category, r.n, r.cents)
        for r in spark.sql(spec.fn.__doc__).collect()
    )
    con = _duckdb.connect()
    values = ",".join(
        "(" + ", ".join(
            "NULL" if v is None else (f"'{v}'" if isinstance(v, str) else repr(v))
            for v in row
        ) + ")"
        for row in rows
    )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"(VALUES {values}) t(event_id, event_type, value)"
    )
    got_du = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    con.close()
    assert got_sp == got_du, f"salted != unsalted:\n{got_sp}\n{got_du}"
    # the NULL-id click row must be COUNTED (n=4 for engagement: three
    # click rows incl. the NULL-id and zero-value ones, plus the view)
    eng = [r for r in got_sp if r[0] == "engagement"]
    assert eng and eng[0][1] == 4, got_sp


def test_range_frame_boundaries_match_duckdb_on_micro_data(
    spark, monkeypatch, restore_views
):
    """r13 hardening of the 11-round-old RANGE-frame proofs: value- and
    interval-offset RANGE frames are boundary-inclusive peer-group
    semantics, and the sf fixtures rarely land EXACTLY on a boundary
    (the measure-zero class).  Runs both registered specs on micro-data
    with exact-boundary gaps (price diff exactly 10000; timestamps
    exactly 1 hour apart), just-outside gaps (10000.01 / 3601s), and
    duplicate order keys (peers must aggregate together) against
    DuckDB on the identical rows."""
    import duckdb as _duckdb

    import datafusion_umami_spark.queries.windows as w
    from datafusion_umami_spark.oracle import compare_frames
    from datafusion_umami_spark.registry import REGISTRY as _REG
    from datafusion_umami_spark.registry import _load_all as _la

    _la()
    # value-offset RANGE: prices straddling the ±10000 boundary exactly
    orders = [
        (1, 1, 10000.00), (2, 1, 20000.00),   # diff exactly 10000: IN
        (3, 1, 30000.01),                      # 10000.01 from row 2: OUT
        (4, 1, 20000.00),                      # duplicate price: peer
        (5, 2, 500.25), (6, 2, 10500.25),      # exactly 10000 apart: IN
        (7, 2, 10500.26),                      # peer+0.01
        (8, 3, 999999.99),                     # lone row
    ]
    sdf = spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    )
    monkeypatch.setattr(w, "table", lambda sp, sf, name: sdf)
    got = _REG["window_range_frame"].fn(spark, "ignored").toPandas()
    con = _duckdb.connect()
    values = ",".join(f"({k}, {c}, {p!r})" for k, c, p in orders)
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"(VALUES {values}) t(o_orderkey, o_custkey, o_totalprice)"
    )
    want = con.execute(_REG["window_range_frame"].oracle).df()
    r = compare_frames("window_range_frame", got, want)
    assert r.ok, r.detail
    # exact-boundary row must COUNT its 10000-away sibling (peers incl.)
    n1 = {int(a): int(b) for a, b in zip(got.o_orderkey, got.n_similar)}
    # row 1 sees the exactly-10000-away pair (2,4) + itself; row 3 is
    # 10000.01 from them -> only itself
    assert n1[1] == 3 and n1[3] == 1 and n1[8] == 1, n1

    # interval-offset RANGE over event time: exactly-1-hour gap is IN,
    # 3601 s is OUT, duplicate ts are peers
    events = [
        (1, 1, "2024-01-01 10:00:00", 1.25),
        (2, 1, "2024-01-01 11:00:00", 2.50),   # exactly 1 h later: IN
        (3, 1, "2024-01-01 12:00:01", 4.00),   # 3601 s after row 2: OUT
        (4, 1, "2024-01-01 11:00:00", 8.00),   # duplicate ts: peer
        (5, 2, "2024-01-01 00:00:00", 16.00),
    ]
    sev = spark.createDataFrame(
        [(i, u, t, v) for i, u, t, v in events],
        "event_id long, user_id long, ts string, value double",
    ).selectExpr(
        "event_id", "user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value"
    )
    sev.createOrReplaceTempView("events")
    spec = _REG["window_time_range_frame"]
    got2 = spark.sql(spec.fn.__doc__).toPandas()
    values2 = ",".join(
        f"({i}, {u}, TIMESTAMP '{t}', {v!r})" for i, u, t, v in events
    )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"(VALUES {values2}) t(event_id, user_id, ts, value)"
    )
    want2 = con.execute(spec.oracle).df()
    r2 = compare_frames("window_time_range_frame", got2, want2)
    assert r2.ok, r2.detail
    cnt = {int(a): int(b) for a, b in zip(got2.event_id, got2.events_last_hour)}
    # row 2: sees row 1 (exactly 1 h back, inclusive) + its peer row 4
    # + itself = 3; row 3: 3601 s after the peers -> only itself = 1
    assert cnt[2] == 3 and cnt[4] == 3 and cnt[3] == 1 and cnt[5] == 1, cnt
    con.close()


def test_inc_rollup_merge_matches_python_recompute(spark, restore_views):
    """r13 timeseries review: the merge==recompute reformulation never
    actually merged (the old date cutoff was disjoint at the group
    level) and silently dropped NULL-date rows.  Runs the rewritten
    split (parity partials -> union -> re-aggregate) as its inlined
    composition verbatim on BOTH engines over micro-data with NULL
    dates, single-parity days, and a day whose partials must combine,
    against a pure-Python full recompute."""
    import duckdb as _duckdb

    from datafusion_umami_spark.registry import REGISTRY as _REG
    from datafusion_umami_spark.registry import _load_all as _la

    _la()
    rows = [
        (2, "2024-01-01 00:00:00", 10.01),   # even+odd on one day:
        (3, "2024-01-01 00:00:00", 20.02),   # partials must merge
        (4, "2024-01-02 00:00:00", 30.00),   # even-only day
        (7, "2024-01-03 00:00:00", 40.40),   # odd-only day
        (8, None, 99.99),                    # NULL date: excluded by BOTH
        (11, "2024-01-01 00:00:00", 0.05),
    ]
    spark.createDataFrame(
        [(k, t, v) for k, t, v in rows],
        "o_orderkey long, o_orderdate string, o_totalprice double",
    ).selectExpr(
        "o_orderkey", "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_totalprice",
    ).createOrReplaceTempView("orders")
    fn = _REG["inc_rollup_merge"].fn
    (stage_sql, view), = fn._split_stages
    head = fn._split_final.lstrip()  # final starts WITH: splice the CTE
    inlined = f"WITH {view} AS ({stage_sql}),\n" + head[4:].lstrip()
    got_sp = sorted(
        (str(r.day), r.n, r.cents) for r in spark.sql(inlined).collect()
    )
    con = _duckdb.connect()
    values = ",".join(
        f"({k}, " + ("NULL" if t is None else f"TIMESTAMP '{t}'") + f", {v!r})"
        for k, t, v in rows
    )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"(VALUES {values}) t(o_orderkey, o_orderdate, o_totalprice)"
    )
    got_du_merge = sorted(
        (str(d), n, c) for d, n, c in con.execute(inlined).fetchall()
    )
    got_du_oracle = sorted(
        (str(d), n, c)
        for d, n, c in con.execute(_REG["inc_rollup_merge"].oracle).fetchall()
    )
    con.close()
    want = {}
    for k, t, v in rows:
        if t is None:
            continue
        day = t[:10]
        n, c = want.get(day, (0, 0))
        want[day] = (n + 1, c + round(v * 100))
    want = sorted((d, n, c) for d, (n, c) in want.items())
    assert got_sp == want, (got_sp, want)
    assert got_du_merge == want, (got_du_merge, want)
    assert got_du_oracle == want, (got_du_oracle, want)


def test_zscore_fence_widths_exact_at_adversarial_magnitudes(spark):
    """r13 timeseries review: ts_anomaly_zscore_minutes' squared
    z-score fence ((n*x - s1)^2 > 9*(n*s2 - s1^2)) carries hand-derived
    DECIMAL widths whose boundary math bit once before (the r10
    demotion).  Runs the registered FINAL text verbatim on BOTH engines
    over a synthetic minute rollup at the documented magnitude bound
    (per-minute counts up to 7e13, n up to 1440 incl. a duplicate-value
    day and an exact-boundary pair) against exact Python integers."""
    import duckdb as _duckdb

    from datafusion_umami_spark.queries.timeseries import _ZSCORE_FINAL

    days = {
        "2024-01-01": [70_000_000_000_000, 69_999_999_999_999, 1,
                       35_000_000_000_000],
        "2024-01-02": [5, 5, 5, 5],                   # zero variance
        "2024-01-03": [1, 2, 3, 4, 100],              # clear outlier
        "2024-01-04": [42],                           # single minute
    }
    rows = []
    for d, xs in days.items():
        for i, x in enumerate(xs):
            rows.append((d, f"{d} 00:{i:02d}:00", x))
    sql = _ZSCORE_FINAL.format(m="zmin_pin")
    spark.createDataFrame(
        rows, "day string, minute string, x long"
    ).selectExpr(
        "CAST(day AS DATE) AS day",
        "CAST(minute AS TIMESTAMP_NTZ) AS minute", "x",
    ).createOrReplaceTempView("zmin_pin")
    got_sp = sorted((str(r.minute), r.x, r.day_minutes, r.is_anomaly)
                    for r in spark.sql(sql).collect())
    con = _duckdb.connect()
    values = ",".join(
        f"(DATE '{d}', TIMESTAMP '{m}', {x})" for d, m, x in rows
    )
    con.execute(
        "CREATE VIEW zmin_pin AS SELECT * FROM "
        f"(VALUES {values}) t(day, minute, x)"
    )
    got_du = sorted((str(m), x, n, a)
                    for m, x, n, a in con.execute(sql).fetchall())
    con.close()

    want = []
    for d, xs in days.items():
        n, s1, s2 = len(xs), sum(xs), sum(x * x for x in xs)
        for i, x in enumerate(xs):
            if (n * x - s1) ** 2 > 9 * (n * s2 - s1 * s1):
                want.append((f"{d} 00:{i:02d}:00", x, n, 1))
    want.sort()
    assert got_sp == want, (got_sp, want)
    assert got_du == want, (got_du, want)


# --- round-14 optimization pins ------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    prices=st.lists(
        st.integers(1, 5), min_size=10, max_size=10
    ),
    extra_cust=st.booleans(),
)
def test_wide_star_stage_year_fence_is_result_invariant(prices, extra_cust):
    """tpcds_twice_joined_wide_star r14 stage fence: restricting the
    materialized `buy` source to o_orderdate in [1996, 2002) must not
    change the final result, because the final only reads yr 1996-2000
    (b1) and b1.yr+1 = 1997-2001 (b2) and yr is a group key.  Pinned on
    micro-data with a rebuy chain spanning 1994..2003 — every fence
    boundary (1995|1996 and 2001|2002) has a consecutive-year pair
    straddling it, so an off-by-one in the fence flips the output."""
    import duckdb as _duckdb

    from datafusion_umami_spark.queries.tpcds_shapes_t5 import (
        _BUY64,
        _Q64_FINAL,
    )

    unfenced = """
        SELECT o.o_custkey AS cust, l.l_partkey AS part,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS yr,
               MIN(l.l_extendedprice) AS best_price
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey,
                 CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT)"""
    assert "WHERE o.o_orderdate >= DATE '1996-01-01'" in _BUY64

    years = list(range(1994, 2004))  # straddles both fence boundaries
    orders_rows, li_rows = [], []
    ok = 1
    for ci in range(2 if extra_cust else 1):
        for yi, yr in enumerate(years):
            orders_rows.append(f"({ok}, {ci + 1}, DATE '{yr}-06-15')")
            # price path from the hypothesis sample: consecutive-year
            # pairs qualify iff price strictly drops year-over-year
            li_rows.append(f"({ok}, 7, {prices[yi]}.0)")
            ok += 1
    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ",".join(orders_rows)
        + ") t(o_orderkey, o_custkey, o_orderdate)"
    )
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ",".join(li_rows)
        + ") t(l_orderkey, l_partkey, l_extendedprice)"
    )
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM (VALUES "
        "(1, 'cust_one'), (2, 'cust_two')) t(c_custkey, c_name)"
    )
    con.execute(
        "CREATE VIEW part AS SELECT * FROM (VALUES (7, 'part_seven')) "
        "t(p_partkey, p_name)"
    )
    got_old = con.execute(
        "WITH buy AS (" + unfenced + ")" + _Q64_FINAL.format(buy="buy")
    ).fetchall()
    got_new = con.execute(
        "WITH buy AS (" + _BUY64 + ")" + _Q64_FINAL.format(buy="buy")
    ).fetchall()

    # r15 self-join -> window restructure: on the same adversarial
    # micro-data (gap years, equal-price boundaries, fence-straddling
    # consecutive pairs) the registered LEAD-window text must equal the
    # join-form reference exactly.  The registered text IS the shared
    # Spark/DuckDB text, so this pins the reformulation against the
    # historical join semantics.
    from datafusion_umami_spark.queries.tpcds_shapes_t5 import _Q64_WIN

    got_win = con.execute(_Q64_WIN).fetchall()
    con.close()
    assert got_old == got_new
    assert got_win == got_new


@settings(max_examples=20, deadline=None)
@given(
    qtys=st.lists(st.integers(1, 120), min_size=4, max_size=14),
    gap_at=st.integers(0, 9),
)
def test_yearly_decline_window_matches_join_reference(qtys, gap_at):
    """tpcds_yearly_decline_union r15: the LAG-window text must equal
    the historical curr/prev self-join on micro-data with year GAPS
    (the window's prev row is the previous EXISTING year — only the
    prev_yr = yr - 1 gate makes it the join's consecutive-year
    partner), decline boundaries (10*qty = 9*prev_qty exactly), and
    multi-channel/part collisions."""
    import duckdb as _duckdb

    from datafusion_umami_spark.queries.tpcds_shapes_t6 import (
        _FINAL75,
        _Q75_WIN,
        _SALES75,
    )

    li_rows, o_rows = [], []
    ok = 1
    for yi, qty in enumerate(qtys):
        yr = 1992 + yi
        if yi == gap_at:
            continue  # year gap: LAG sees a non-consecutive prev year
        for ln in (1, 2, 3):  # three channels via l_linenumber % 3
            li_rows.append(f"({ok}, {ln}, 7, {qty}.0, {qty * 10}.0, 'N')")
        o_rows.append(f"({ok}, DATE '{yr}-07-01')")
        ok += 1
    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ",".join(li_rows)
        + ") t(l_orderkey, l_linenumber, l_partkey, l_quantity,"
        " l_extendedprice, l_returnflag)"
    )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ",".join(o_rows)
        + ") t(o_orderkey, o_orderdate)"
    )
    ref = con.execute(
        f"WITH channel_sales AS ({_SALES75})\n{_FINAL75}"
    ).fetchall()
    win = con.execute(_Q75_WIN).fetchall()
    con.close()
    assert win == ref

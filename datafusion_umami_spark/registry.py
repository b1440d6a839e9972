"""Query registry: the engine's operator-coverage contract.

Each capability from SURVEY.md §2 is registered once as a `QuerySpec`:
a Spark callable `(spark, sf_dir) -> DataFrame` plus (when expressible)
an ANSI-SQL twin that DuckDB runs on the same parquet files.  The driver
contract (`__spark_entry__.py`), the pytest oracle gate, and `bench.py`
all iterate over this registry — one definition, three consumers.

Determinism conventions (so Spark and DuckDB value-hashes agree):
- Money aggregates go through exact decimal arithmetic and only the FINAL
  value is cast to double: decimal addition is associative, so the result
  is independent of Spark's partition/merge order. `dec()` / SQL
  `CAST(x AS DECIMAL(12,2))` implement this on the two sides.
- Inherently order-sensitive float stats (variance/corr/regr) are rounded
  on both sides, inline in each spec's paired Spark/DuckDB texts (no
  shared helper module — the texts themselves are fingerprinted).
- Timestamp outputs are cast to TIMESTAMP_NTZ (session TZ pinned to UTC)
  so Arrow schemas match DuckDB's naive timestamps.
- Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    # Discrimination probe (r13 verdict item 4 — the "vacuous branch"
    # defect class): DuckDB SQL over the proof tables returning
    # (branch VARCHAR, pop BIGINT) rows, one per load-bearing branch of
    # the spec (anti-join survivors, HAVING rejections, rows a LIKE
    # fence excludes, NULLs reaching an output NULLS clause, ...).
    # tests/test_discrimination.py asserts every pop > 0 at sf0.001 AND
    # sf0.01, so a spec whose interesting branch sits in an empty or
    # measure-zero set can never stay hash-green silently.  Not hashed
    # as a field (it asserts about the DATA a fixed text runs on, not the
    # text's semantics), so adding one is fingerprint-neutral for SQL
    # specs only: an `@register` spec's fingerprint is its source, which
    # `inspect.getsource` takes with the decorator, so a new probe, tag
    # or `bench=` there demotes the spec (checked on dedup_simhash).
    discrimination: str | None = None


REGISTRY: dict[str, QuerySpec] = {}

def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    discrimination: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench,
            discrimination=discrimination,
        )
        return fn

    return deco


def register_sql(
    name: str,
    spark_sql: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    discrimination: str | None = None,
    spread_tables: tuple[str, ...] = (),
) -> None:
    """Register a query expressed as Spark SQL text (views pre-registered).

    When `oracle` is None the same text is used for DuckDB — for the large
    ANSI-compatible subset this keeps the two sides trivially in sync.
    `spread_tables` opts named fact views into the scale-adaptive scan
    spread for this query (tables._maybe_spread; r14 measured per-query).
    The fingerprint covers the SQL and `fn._sql_shape`, not this closure's
    source (fingerprint.spec_fingerprint).
    """
    # imported here, not at module level: perfbench/tracing.py wraps
    # tables.register_views before the registry loads
    from datafusion_umami_spark.tables import register_views

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, spread=spread_tables)
        return spark.sql(spark_sql)

    fn.__doc__ = spark_sql
    fn._sql_shape = ("sql", tuple(spread_tables))
    register(
        name,
        oracle if oracle is not None else spark_sql,
        tags=tags,
        bench=bench,
        discrimination=discrimination,
    )(fn)


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def bench_queries() -> dict[str, QuerySpec]:
    _load_all()
    return {name: spec for name, spec in REGISTRY.items() if spec.bench}


_LOADED = False


def _load_all() -> None:
    """Import every query module (they self-register on import)."""
    global _LOADED
    if _LOADED:
        return
    import datafusion_umami_spark.queries  # noqa: F401  (side-effect imports)

    _LOADED = True


# ---------------------------------------------------------------------------
# Shared expression helpers (determinism conventions)
# ---------------------------------------------------------------------------

def probe(**branches: str) -> str:
    """Build a discrimination probe from named branch-count subqueries.

    Each value is a scalar-COUNT SQL text (DuckDB dialect, over the
    proof views); the result is the (branch, pop) UNION ALL that
    tests/test_discrimination.py asserts all-positive at every proof
    SF.  Keyword order is preserved, so probe output is deterministic.
    """
    return "\nUNION ALL\n".join(
        f"SELECT '{k}' AS branch, CAST(({v.strip()}) AS BIGINT) AS pop"
        for k, v in branches.items()
    )


def dec(col: str | Column, scale: int = 2, precision: int = 12) -> Column:
    """Cast to an exact decimal so downstream sums are order-independent."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Order-independent SUM over a double column: decimal-sum → double."""
    return F.sum(dec(col, scale)).cast("double")


def davg(col: str | Column, scale: int = 2) -> Column:
    """Order-independent AVG: exact decimal sum / count, double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, scale)).cast("double") / F.count(c)


def money(price: str | Column = "l_extendedprice", disc: str | Column = "l_discount") -> Column:
    """Exact `price * (1 - discount)` as decimal (the TPC-H revenue term)."""
    return dec(price) * (F.lit(1).cast("decimal(12,2)") - dec(disc))


def ntz(col: str | Column) -> Column:
    """Timestamp output convention: NTZ so Arrow schema matches DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ntz")

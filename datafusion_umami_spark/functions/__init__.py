"""Column-expression helpers for functions the reference has but
pyspark.sql.functions lacks. All pure JVM-side expression composition
(higher-order functions) — no UDFs, codegen-friendly at any scale."""

from datafusion_umami_spark.functions.array_extra import (
    array_distance,
    array_replace_all,
    array_resize,
)

__all__ = [
    "array_distance",
    "array_replace_all",
    "array_resize",
]

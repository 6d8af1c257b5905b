from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and pass the result to ``fn`` as a
    bound lambda variable (via a 1-element array transform).

    Catalyst inlines plain column expressions into each invocation of a
    higher-order-function lambda — a non-trivial subexpression (regexp,
    split, per-token hashing) referenced inside ``transform(sequence(...))``
    is otherwise recomputed PER ELEMENT, turning linear map logic
    quadratic. Lambda variables, by construction, are evaluated exactly
    once per binding.
    """
    return F.transform(F.array(col), fn).getItem(0)


def widen(df: DataFrame, *keys: str, per_core: int = 2) -> DataFrame:
    """The fan-out guard: repartition ``df`` (by ``keys``, else
    round-robin) to ``per_core`` × the session parallelism when it has
    fewer partitions. Small-file inputs arrive as 1-2 partitions and the
    stage that follows is compute-bound; at real scale the input is
    already wide and this is a no-op. The default ×2 keeps the count ≠
    ``spark.sql.shuffle.partitions``, so CollapseRepartition cannot
    silently remove a keyed fan-out."""
    target = df.sparkSession.sparkContext.defaultParallelism * per_core
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys)
    return df

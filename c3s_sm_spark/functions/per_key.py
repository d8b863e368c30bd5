"""Per-key ordered scan: the one physical rule behind every operator
that needs each key's whole series, in order, inside one task.

Order-dependent kernels (recursive smoothers, changepoint searches,
pairwise trend pieces, the packed codec) cannot be expressed as
associative aggregates; like the reference's per-cell series assembly
they need the complete series of a key, sorted, in one place. The rule
is a hash shuffle on the keys at a fixed width, a sort within each
partition by ``(keys, order)``, and one partition-level ``mapInPandas``
stream — one Arrow batch stream per PARTITION, not per group (a
grouped-map ``applyInPandas`` round-trips one batch per key, measured
4-7x slower at realistic key counts).

Contract of :func:`per_key_ordered_map`:

- **width** — ``n_partitions`` hash partitions, by default twice
  ``defaultParallelism`` (see :func:`per_key_ordered`);
- **order** — the kernel sees one key's rows sorted by ``order``
  (Spark's ascending sort, nulls first);
- **null keys** — rows whose key is null form ONE group, exactly as in
  Spark's ``groupBy``; they are neither dropped nor split.

Each key's series is complete and sorted inside one task, so any
sequential float recurrence in a kernel gives the same bits under any
input partitioning.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def per_key_ordered(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    n_partitions: int | None = None,
) -> DataFrame:
    """Hash-partition ``df`` on ``keys`` and sort each partition by
    ``(keys, order)``: every key's rows end up contiguous, in ``order``,
    inside one partition."""
    # explicit partition count: a bare repartition(keys) lets AQE coalesce
    # a small shuffle down to ONE partition, serializing the whole per-key
    # pass on a single task (measured 5 s -> 0.6 s at 1500 series in
    # pack_series); the Python work downstream is invisible to AQE's
    # size-based estimate
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n_partitions, *keys).sortWithinPartitions(*keys, *order)


def per_key_ordered_map(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    kernel: Callable,
    schema: StructType | str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Run ``kernel(key_tuple, rows)`` once per key over
    :func:`per_key_ordered` partitions and stream the results.

    ``rows`` is the key's pandas frame (all of ``df``'s columns) in
    ``order``; ``key_tuple`` holds one value per key column (NaN for a
    null key). The kernel returns a pandas frame matching ``schema``, or
    ``None``/an empty frame to emit nothing for that key.
    """
    keys = list(keys)

    def _partition(batches):
        import pandas as pd

        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        out = []
        for kv, rows in pdf.groupby(keys, sort=False, dropna=False):
            res = kernel(kv, rows)
            if res is not None and len(res):
                out.append(res)
        if out:
            yield out[0] if len(out) == 1 else pd.concat(out, ignore_index=True)

    return per_key_ordered(df, keys, order, n_partitions).mapInPandas(
        _partition, schema=schema
    )


def key_ddl(df: DataFrame, keys: Sequence[str]) -> str:
    """DDL fragment declaring ``keys`` at their types in ``df`` — the
    head of a kernel's output schema."""
    return ", ".join(f"`{k}` {df.schema[k].dataType.simpleString()}" for k in keys)

"""Two-level salted sketch merge: stage 2 of the combine.

Fever's single-process analog is the associative partial-count merge at
/root/reference/processing/unicorn_aggregator.go:145-155. At cluster scale
the merge moves states, not rows: build_sketches emits one partial per
(partition, key), plus memory-budget flushes that land on the same
partition, so a key has at most ~P partials however skewed its rows are,
P being the build frame's partition count. The default is therefore one
shuffle:

  groupBy(keys, sketch)  — one reducer merges every partial of a key.

With 4 build partitions the old salted default merged only 2 states per key
at its first level while paying a second shuffle of every state; one level
instead took the traced page-sketch job (perfbench, seed 7, 4-core VM) from
1217 to 844 merge shuffle records, 24.7 to 12.9 MB and 1.82 to 0.94 s.

For very wide build frames (thousands of partitions, so thousands of
partials per hot key) pass ``salt=S`` to shuffle twice instead:

  level 1: groupBy(keys, sketch, salt)  — salt = map-partition-id % S spreads
           a hot key's partials over S reducers; each merges ~P/S states.
  level 2: groupBy(keys, sketch)        — merges the S survivors per key.

Shuffle volume at both levels is O(groups × S × state_size) — independent of
input row count. For the final single-sketch-per-spec case (keys == []), the
same tree applies with salt as the only level-1 key.

Because every sketch merge is associative (+ commutative for the lattice
sketches), the result is invariant to S and to input partitioning — tested
in tests/test_spark_ops.py against S ∈ {1, 4, 16}.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fever_spark.sketch.base import merge_many, sketch_from_bytes

_SALT = "__fvs_salt"


def _merge_states(states: pd.Series) -> bytes:
    return merge_many([bytes(b) for b in states]).to_bytes()


def _merge_group_fn(out_cols: list[str]):
    """Group merger for the applyInPandas fallback: ALL non-state columns
    forward from the group head, and the returned frame carries exactly
    the declared output schema's columns in order (extra columns included
    — dropping them made the frame disagree with the schema at the Arrow
    boundary, round-6 fix)."""
    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        head = pdf.iloc[:1].copy()
        head["state"] = [_merge_states(pdf["state"])]
        return head[out_cols]

    return merge_group


def two_level_merge(sketch_df: DataFrame, keys: list[str],
                    salt: int = 1) -> DataFrame:
    """Merge per-partition sketch rows down to one row per (keys, sketch).

    ``salt=1`` (the default) merges in one shuffle; ``salt=S`` adds a
    level that spreads each key's partials over S reducers first, for
    build frames with very many partitions.
    """
    keys = list(keys)
    non_salt = [f.name for f in sketch_df.schema.fields if f.name != _SALT]
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in sketch_df.schema.fields if f.name != _SALT)

    # VECTORIZED-ACROSS-GROUPS merge for the canonical (keys, sketch,
    # state) shape: groupBy().agg(collect_list(state)) + ONE pandas_udf
    # merging every group's state list in the same Arrow batch.
    # applyInPandas pays per-GROUP Arrow round-trips (one pandas frame
    # per merge group) — measured ~3.6s to merge 10.7k partials into 336
    # groups on the rollup ladder, almost all of it per-group overhead.
    # Per-group state-list memory is bounded: level-1 lists hold
    # ~partitions/salt states, level-2 at most `salt`. Frames carrying
    # EXTRA columns (e.g. a chunk tag) fall back to the applyInPandas
    # path, which forwards them from the group head.
    canonical = set(sketch_df.columns) == set(keys + ["sketch", "state"])

    @F.pandas_udf("binary")
    def _merge_lists(lists: pd.Series) -> pd.Series:
        return lists.map(
            lambda arr: merge_many([bytes(b) for b in arr]).to_bytes())

    if salt == 1:
        # degenerate salt: one merge group per key — a single shuffle.
        # The right call when the input is ALREADY per-group-merged state
        # (rollup ladders: <= fine/coarse-ratio states per key, skew-free
        # by construction) where the salted level is pure overhead.
        if canonical:
            return (sketch_df.groupBy(*keys, "sketch")
                    .agg(F.collect_list("state").alias("__sts"))
                    .select(*keys, "sketch",
                            _merge_lists("__sts").alias("state")))
        return sketch_df.groupBy(*keys, "sketch").applyInPandas(
            _merge_group_fn(non_salt), schema=out_fields)

    # level 1: spread each key's partial states across `salt` reducers.
    # spark_partition_id is deterministic per map task and cheap; pmod keeps
    # the salt domain bounded regardless of partition count.
    salted = sketch_df.withColumn(_SALT, F.pmod(F.spark_partition_id(), F.lit(salt)))
    if canonical:
        level1 = (salted.groupBy(*keys, "sketch", _SALT)
                  .agg(F.collect_list("state").alias("__sts"))
                  .select(*keys, "sketch",
                          _merge_lists("__sts").alias("state")))
        return (level1.groupBy(*keys, "sketch")
                .agg(F.collect_list("state").alias("__sts"))
                .select(*keys, "sketch",
                        _merge_lists("__sts").alias("state")))
    level1 = salted.groupBy(*keys, "sketch", _SALT).applyInPandas(
        _merge_group_fn(non_salt + [_SALT]),
        schema=f"{out_fields}, {_SALT} int")
    # level 2: at most `salt` rows per (keys, sketch) remain.
    level2 = level1.drop(_SALT).groupBy(*keys, "sketch").applyInPandas(
        _merge_group_fn(non_salt), schema=out_fields)
    return level2


def merge_to_driver(sketch_df: DataFrame):
    """Merge ALL rows of a keyless sketch_df (single spec) into one Sketch
    object on the driver. Use only after a two_level_merge or on tiny frames."""
    rows = sketch_df.select("state").collect()
    if not rows:
        return None
    acc = sketch_from_bytes(bytes(rows[0]["state"]))
    for r in rows[1:]:
        acc.merge(sketch_from_bytes(bytes(r["state"])))
    return acc

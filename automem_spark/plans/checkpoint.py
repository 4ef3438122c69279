"""Checkpoint gate: `localCheckpoint` with an off-switch for plan tests.

Operators materialize small reused frames (bounded candidate sets) with
`localCheckpoint` to cut lineage and avoid recomputing a corpus scan per
consumer. But a checkpoint replaces the subtree with `Scan ExistingRDD` in
the physical plan, which blinds the plan-shape guards in
tests/test_plan_scale.py (a corpus scan hidden behind a checkpoint could be
broadcast unbounded and the guard would not see it). Setting
AUTOMEM_SPARK_DISABLE_CHECKPOINT=1 keeps the full lineage visible so the
guards inspect the real subtree; production runs leave it unset.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

DISABLE_ENV = "AUTOMEM_SPARK_DISABLE_CHECKPOINT"


def maybe_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    if os.environ.get(DISABLE_ENV):
        return df
    return df.localCheckpoint(eager=eager)

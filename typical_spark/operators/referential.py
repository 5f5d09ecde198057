"""Referential-integrity check: keys with no match in a dimension table.

The distributed generalization of the reference's required-key set algebra
(typic/constraints/mapping.py:228-235 `issuperset` on key sets) — here the
"required set" is a dimension table that may itself be huge.

Scale design: LEFT ANTI join on the key, with no join hint. Spark
broadcasts a dimension whose size it knows to be small (zero shuffle of
the fact side) and sort-merges a large one, with AQE's skew-join
splitting (spark.sql.adaptive.skewJoin.enabled is on in session.py): a
conversations dim at 10^12/20 keys is too big to broadcast. A merge
hint here would shuffle the fact, since nothing has clustered it on the
key. Neither join needs distinct dim keys, so the dim is never
deduplicated: that would cost an Aggregate and an Exchange.

The fused `pipeline.full_validation` pass spells the same check as a
correlated EXISTS against the dim, planned as a sort-merge
ExistenceJoin above its conv_id windows, and emits `referential_check`
on its flag.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typical_spark.plans.validation import keyed_entry
from typical_spark.sql_text import path, string


def referential_check(key: str, matched: str) -> dict[str, str]:
    """The referential check as a fused-array entry, by check id: a
    non-NULL `key` whose `matched` flag (SQL text) — an EXISTS against
    the dimension, false when no dim row has the key — is false has no
    row in the dimension."""
    k = path(key)
    return keyed_entry("referential", f"{k} IS NOT NULL AND NOT {matched}", key,
                       f"CAST({k} AS STRING)", string(f"{key} exists in conversations"))


def referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Rows of `fact` whose key has no match in `dim`.

    NULL keys are skipped (they are NotNullCheck's business, mirroring
    the reference's nullable short-circuit common.py:272-287). Duplicate
    and NULL dim keys need no cleaning: an anti join emits a fact row
    only when no dim row equals it, however many do.
    """
    fact_keys = list(fact_keys)
    dim_keys = list(dim_keys or fact_keys)
    keyed_dim = dim.select(*[F.col(d).alias(f) for d, f in zip(dim_keys, fact_keys)])
    cond = F.lit(True)
    for k in fact_keys:
        cond = cond & F.col(k).isNotNull()
    return fact.where(cond).join(keyed_dim, fact_keys, "left_anti")

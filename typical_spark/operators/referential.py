"""Referential-integrity check: keys with no match in a dimension table.

The distributed generalization of the reference's required-key set algebra
(typic/constraints/mapping.py:228-235 `issuperset` on key sets) — here the
"required set" is a dimension table that may itself be huge.

Scale design: LEFT ANTI join on the key. When the dimension is small
(conversations dim ~ n_turns/20 keys, but each row is tiny) we broadcast
it explicitly — zero shuffle of the 100 TB fact side. When it is too big
to broadcast, we drop the hint and let AQE pick sort-merge with skew-join
splitting (spark.sql.adaptive.skewJoin.enabled is on in session.py).
Neither join needs distinct dim keys, so the dim is never deduplicated:
that would cost an Aggregate and an Exchange before the broadcast.

The fused `pipeline.full_validation` pass spells the same check as a
correlated EXISTS against the dim (a broadcast ExistenceJoin) and emits
`referential_check` on its flag.
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
    broadcast_dim: bool = True,
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
    if broadcast_dim:
        keyed_dim = F.broadcast(keyed_dim)
    cond = F.lit(True)
    for k in fact_keys:
        cond = cond & F.col(k).isNotNull()
    return fact.where(cond).join(keyed_dim, fact_keys, "left_anti")

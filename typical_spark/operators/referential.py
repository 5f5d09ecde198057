"""Referential-integrity check: keys with no match in a dimension table.

The distributed generalization of the reference's required-key set algebra
(typic/constraints/mapping.py:228-235 `issuperset` on key sets) — here the
"required set" is a dimension table that may itself be huge.

Scale design: LEFT ANTI join on the key. When the dimension is small
(conversations dim ~ n_turns/20 keys, but each row is tiny) we broadcast
it explicitly — zero shuffle of the 100 TB fact side. When it is too big
to broadcast, we drop the hint and let AQE pick sort-merge with skew-join
splitting (spark.sql.adaptive.skewJoin.enabled is on in session.py);
distinct-ing the dim's key first shrinks the build side either way.

`dim_key_set` is that distinct key side for both spellings of the check:
the anti join here and the fused `pipeline.full_validation` pass, which
left-joins it with a marker column and emits `referential_check`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from typical_spark.plans.validation import violation_struct


def dim_key_set(
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Sequence[str] | None = None,
) -> DataFrame:
    """The dimension's distinct keys, renamed to `fact_keys`. No join
    hint: each caller broadcasts the DataFrame it actually joins."""
    fact_keys = list(fact_keys)
    dim_keys = list(dim_keys or fact_keys)
    return dim.select(
        *[F.col(d).alias(f) for d, f in zip(dim_keys, fact_keys)]
    ).dropDuplicates(fact_keys)


def referential_check(key: str, matched: Column) -> Column:
    """The referential check as a fused-array entry: a non-NULL `key`
    whose `matched` column — a dim-side marker after a left join with
    `dim_key_set` — is NULL has no row in the dimension."""
    return F.when(
        F.col(key).isNotNull() & matched.isNull(),
        violation_struct(
            key, "referential", F.col(key).cast("string"),
            F.lit(f"{key} exists in conversations"),
        ),
    )


def referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Sequence[str] | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Rows of `fact` whose key has no match in `dim`.

    NULL keys are skipped (they are NotNullCheck's business, mirroring
    the reference's nullable short-circuit common.py:272-287).
    """
    keyed_dim = dim_key_set(dim, fact_keys, dim_keys)
    if broadcast_dim:
        keyed_dim = F.broadcast(keyed_dim)
    cond = F.lit(True)
    for k in fact_keys:
        cond = cond & F.col(k).isNotNull()
    return fact.where(cond).join(keyed_dim, list(fact_keys), "left_anti")

"""Proportional-allocation operators — the reference's semantic core.

The reference disaggregates parent-level daily traffic metrics to listing
variations by revenue weight (reference ``tarefa_consolidar_dados.php:
180-235``) and allocates order freight to items by revenue share (reference
``tarefa_coletar_financas.php:121-135``). SURVEY.md §2.5 catalogs these as
W1 (ratio-to-parent), W2 (cap), W3 (zero-denominator fallback to the "main
variation") and W6 (per-order rateio).

Spark-first restatement: each is a window-function expression —
``sum(weight) over (partition by parent)`` gives the denominator without the
reference's separate pre-aggregation pass (its "ETAPA 2.5"). One shuffle on
the parent key, all arithmetic JVM-side inside whole-stage codegen; at 100 TB
the window's partition key is the join/groupBy key the surrounding plan
already shuffles on, so the allocation itself adds no extra exchange.

Rounding parity: PHP ``round()`` is half-away-from-zero, which matches Spark
``F.round`` (not ``bround``); the reference rounds impressions/clicks/visits
and the capped ads-qty but NOT cost or ads revenue — callers express that
per-metric via ``AllocSpec.rounded``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class AllocSpec:
    """One parent-level metric to allocate down to child rows.

    source   : column holding the parent-level metric (already joined onto the
               child rows, e.g. via the J4 left join of SURVEY.md §2.3).
    out      : output column name.
    round_to : decimal places for a final half-away-from-zero round over the
               whole expression — 0 for the reference's count metrics
               (impressions/clicks/visits/qty), None to leave money unrounded
               like the reference does.
    cap      : optional child-level column the allocated value may not exceed
               (W2: ads-sales qty capped at the variation's own total sales,
               reference ``tarefa_consolidar_dados.php:207-217``).
    """

    source: str
    out: str
    round_to: int | None = None
    cap: str | None = None


def allocate_ratio_to_parent(
    df: DataFrame,
    *,
    parent_key: str | list[str],
    weight: str,
    specs: list[AllocSpec],
    child_id: str | None = None,
    parent_id: str | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """W1-W3: allocate parent-level metrics to children by weight share.

    For each child row:
      peso      = weight / total
      allocated = source * peso        [least(·, cap)] [round(·, k)]

    ``total`` is ``sum(weight) over (partition by parent_key)`` by default; a
    pre-computed denominator column can be supplied via ``total_col`` (the
    reference materializes exactly that in its "ETAPA 2.5" pre-pass,
    ``tarefa_consolidar_dados.php:118-138``).

    Zero-denominator fallback (W3, reference ``tarefa_consolidar_dados.php:
    222-234``): when the parent's weight total is 0 (or null), the child whose
    ``child_id`` equals ``parent_id`` (the "main variation") receives 100% of
    each metric and its siblings receive 0. If no id pair is given, all
    children of a zero-weight parent get 0.
    """
    keys = [parent_key] if isinstance(parent_key, str) else list(parent_key)
    if total_col is not None:
        total: Column = F.col(total_col)
    else:
        total = F.sum(F.col(weight)).over(Window.partitionBy(*keys))
    has_weight = total.isNotNull() & (total > 0)
    peso = F.col(weight) / total

    out = df
    for spec in specs:
        src = F.coalesce(F.col(spec.source), F.lit(0))
        alloc: Column = src * peso
        if spec.cap is not None:
            alloc = F.least(alloc, F.col(spec.cap).cast("double"))
        if child_id is not None and parent_id is not None:
            fallback = F.when(F.col(child_id) == F.col(parent_id), src).otherwise(F.lit(0))
        else:
            fallback = F.lit(0)
        value = F.when(has_weight, alloc).otherwise(fallback)
        # Rounding the whole branch expression matches the reference: the
        # allocated branch is what it rounds; fallback values are raw parent
        # integers / already-2dp money, for which round() is the identity.
        if spec.round_to is not None:
            value = F.round(value, spec.round_to)
        out = out.withColumn(spec.out, value)
    return out


def allocate_by_share(
    df: DataFrame,
    *,
    group_key: str | list[str],
    amount: str | Column,
    share: str | Column,
    out: str,
) -> DataFrame:
    """W6: per-group ratio allocation (the order-freight "rateio").

    allocated = amount * share / sum(share) over (partition by group_key),
    0 when the group's share total is 0 (reference
    ``tarefa_coletar_financas.php:134-135``).
    """
    keys = [group_key] if isinstance(group_key, str) else list(group_key)
    amount_c = F.col(amount) if isinstance(amount, str) else amount
    share_c = F.col(share) if isinstance(share, str) else share
    w = Window.partitionBy(*keys)
    total = F.sum(share_c).over(w)
    alloc = F.when(total > 0, amount_c * share_c / total).otherwise(F.lit(0.0))
    return df.withColumn(out, F.round(alloc, 2))

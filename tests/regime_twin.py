"""Regime-twin harness for the size-gated operators.

A twin builds one query twice: at the shipped budget (every test SF
takes the broadcast regime) and with ``durability.BROADCAST_MAX_ROWS``
patched to 0 (every gate takes its merge regime). Each run returns its
rows and its plan totals -- every recorded materialize/pin segment plus
the final fragment, counted by the same tree walk PLANS.md uses -- so a
twin proves both that the rows are equal and that the regime really
flipped. A gate that stopped reading the budget would compare broadcast
with broadcast: equal rows, equal totals.
"""

from __future__ import annotations

from typing import NamedTuple

from ushas_spark import durability


class Run(NamedTuple):
    rows: list[tuple]
    final: dict[str, int]  # plan_counts of the final fragment
    total: dict[str, int]  # final fragment + every recorded segment


def audited_run(spark, build) -> Run:
    """Rows of ``build()`` with its final and summed plan counts."""
    with durability.segments() as segs:
        df = build()
    final = durability.plan_counts(df._jdf.queryExecution().executedPlan())
    total = durability.plan_totals(segs, df)
    rows = [tuple(r) for r in df.collect()]
    durability.release(spark)
    return Run(rows, final, total)


def twin(spark, monkeypatch, build) -> tuple[Run, Run]:
    """The broadcast-regime and merge-regime runs of ``build``."""
    broadcast = audited_run(spark, build)
    with monkeypatch.context() as m:
        m.setattr(durability, "BROADCAST_MAX_ROWS", 0)
        merge = audited_run(spark, build)
    return broadcast, merge

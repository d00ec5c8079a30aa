"""Plan-shape pins for the r12 n-gram distinct removals
(OPTIMIZATION_r12.md item 8).

Both restructures remove a provably-redundant distinct:

- text_boilerplate_ngrams: (gram, doc) duplicates can only arise within
  one document, so explode(array_distinct(gram_array)) is globally
  distinct by construction and the separate distinct() exchange on full
  gram strings is gone (4 -> 3 planned shuffles).
- pipeline_decontaminate: grams are per-doc distinct and the broadcast
  ev side is distinct on ng, so COUNT == COUNT(DISTINCT) per doc and
  the distinct-aggregate's extra (doc_id, ng)-wide exchange is gone
  (4 -> 3 planned shuffles).

Value identity is pinned by the oracle gate (both queries hash-green at
sf0.001/0.01 and probe-hash-identical at sf0.1); these tests pin the
physical shape the restructure bought, via the same tree-walk counter
PLANS.md uses.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ushas_spark.durability import plan_counts


def _counts(df):
    return plan_counts(df._jdf.queryExecution().executedPlan())


def test_boilerplate_plans_three_shuffles(spark, sf_dir):
    from ushas_spark.operators.text import text_boilerplate_ngrams

    counts = _counts(text_boilerplate_ngrams(spark, sf_dir))
    assert counts["shuffles"] == 3, counts
    assert counts["bhj"] == 1, counts  # boiler set joins as broadcast


def test_decontaminate_plans_three_shuffles(spark, sf_dir):
    from ushas_spark.operators.pipeline import pipeline_decontaminate

    counts = _counts(pipeline_decontaminate(spark, sf_dir))
    assert counts["shuffles"] == 3, counts
    assert counts["bhj"] == 1, counts  # ev set joins as broadcast

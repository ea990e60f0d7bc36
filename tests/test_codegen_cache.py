"""The generated-code cache holds the basket's working set.

Spark caches compiled whole-stage and expression classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries (100 by default). The 14
headline queries compile about 300 classes cold, so at the default size
a second pass recompiled almost all of them. ``session.get_spark`` sizes
the cache to the whole registry; this test fails if the setting is
lowered or the working set outgrows it.
"""

from __future__ import annotations

from financial_data_warehouse_automation_spark.registry import REGISTRY, load_all
from financial_data_warehouse_automation_spark.session import codegen_stats


def test_second_basket_pass_compiles_almost_nothing(spark, sf_dir):
    load_all()
    basket = sorted(n for n, s in REGISTRY.items() if s.headline)
    assert len(basket) == 14
    compiled = []
    for _ in range(2):
        n0, _ms = codegen_stats(spark)
        for name in basket:
            REGISTRY[name].builder(spark, sf_dir).collect()
        compiled.append(codegen_stats(spark)[0] - n0)
    first, second = compiled
    # Not exactly 0: Catalyst numbers the groups of a multi-distinct
    # aggregate in hash order of expression ids, so a rebuilt plan can
    # produce a new class body (doc_decontaminate_splits: 6 classes).
    assert second <= 0.05 * first, (
        f"second pass compiled {second} classes, first pass {first}: "
        f"the codegen cache is evicting the basket's working set"
    )

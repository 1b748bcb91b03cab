"""Session defaults that the analytics pass depends on."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402
from snapshot_sender_spark.queries import all_queries  # noqa: E402
from snapshot_sender_spark.session import compiled_classes  # noqa: E402


def test_warm_pass_compiles_no_generated_class(spark, sf_dir):
    """A pass over the headline queries needs ~185 generated classes at
    sf0.001. Spark's default 100-entry codegen cache evicts them in a cycle,
    so every repeat of the pass recompiled ~157 of them; the session's cache
    must hold the whole pass, so a repeat compiles none."""
    registry = all_queries()

    def compiled_by_pass() -> int:
        before = compiled_classes(spark)
        for name in bench.HEADLINE:
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiled_classes(spark) - before

    cold = compiled_by_pass()
    warm = compiled_by_pass()
    assert warm == 0, f"the warm pass recompiled {warm} classes (cold pass: {cold})"

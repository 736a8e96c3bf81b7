"""A rerun in one session must reuse Spark's generated classes.

Spark keeps compiled whole-stage/expression classes in a JVM-wide LRU cache
(``spark.sql.codegen.cache.maxEntries``). When that cache is smaller than
one run's working set, a rerun of the same plans evicts each class just
before it is needed again and recompiles every one of them.
"""

from __future__ import annotations


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_rerun_hits_codegen_cache(spark, bundle, tmp_path):
    from metadata_reconciliation_tool_spark.plans.pipeline import (
        ReconConfig,
        ReconPipeline,
    )

    def run():
        cfg = ReconConfig(job_id="cg", work_dir=str(tmp_path), force=True)
        ReconPipeline(spark, cfg).run(bundle["transcripts"], bundle["dictionary"])

    run()
    before = _compilations(spark)
    run()
    added = _compilations(spark) - before
    assert added <= 10, f"rerun compiled {added} new classes"

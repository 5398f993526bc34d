"""Session-level behaviour: what every session ``get_spark`` builds keeps
across the queries it runs."""

from __future__ import annotations

from mric_bak_etl_spark.catalog import all_specs
from mric_bak_etl_spark.session import codegen_compiles

# perfbench's llm sweep: builder-side eager jobs, many jobs per query and a
# mapInPandas stage, ~230 generated classes in all.
LLM_SWEEP = (
    "l2_minhash_lsh", "l17_semdedup", "g4_triangle_count",
    "a23b_portable_sketch_merge_rollup", "m2_feature_extract",
)


def _clear_codegen_cache(spark) -> None:
    # Earlier tests may have compiled these queries' classes already; empty
    # Spark's generated-class cache (a private field of the CodeGenerator
    # object) so the first pass below compiles the whole working set.
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(cls.getField("MODULE$").get(None)).invalidateAll()


def test_warm_pass_reuses_compiled_classes(spark, sf_dir):
    # At Spark's default cache of 100 classes the second pass recompiles
    # all ~230; a session from get_spark compiles each class once.
    specs = all_specs()
    _clear_codegen_cache(spark)
    compiled = []
    for _ in range(2):
        before = codegen_compiles(spark)
        for name in LLM_SWEEP:
            specs[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        compiled.append(codegen_compiles(spark) - before)
    first, second = compiled
    assert first > 100, compiled
    assert second < 0.1 * first, compiled

"""Sink abstraction (SURVEY §7.0): the CatalogTableSink routes the stage
contract through DataSourceV2 writeTo() — the Iceberg layout path — while
ParquetDirSink (default, exercised by every pipeline test) keeps the
partitioned-dir layout. Contract checked here: table-addressed write/read,
partitioned layout, checkpoint-resume, and per-partition lineage."""

from __future__ import annotations

import pyspark.sql.functions as F

from kg_curation_spark.stages.base import CatalogTableSink, PipelineContext


def _run(spark, wd, calls):
    ctx = PipelineContext(
        spark=spark, workdir=wd,
        sink=CatalogTableSink(table_prefix="kgsink_test_"),
    )

    def stage_a():
        calls.append("a")
        return spark.range(40).select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("bucket")
        )

    a = ctx.stage("sa", stage_a)
    ctx.stage(
        "sb",
        lambda: (calls.append("b") or a.groupBy("bucket").count()),
        partition_by=["bucket"],
    )
    return ctx


def test_catalog_sink_layout_and_resume(spark, tmp_path):
    calls: list = []
    try:
        ctx = _run(spark, str(tmp_path), calls)
        assert calls == ["a", "b"]
        assert [r.resumed for r in ctx.ran] == [False, False]
        # table-addressed read
        assert spark.table("kgsink_test_sa").count() == 40
        got = {r["bucket"]: r["count"] for r in spark.table("kgsink_test_sb").collect()}
        assert got == {"0": 10, "1": 10, "2": 10, "3": 10}
        # partitioned layout is registered in the catalog, not just on disk
        parts = {r[0] for r in spark.sql("SHOW PARTITIONS kgsink_test_sb").collect()}
        assert parts == {"bucket=0", "bucket=1", "bucket=2", "bucket=3"}
        # per-partition lineage was captured from the table's data files
        lin = ctx.lineage().filter(F.col("stage") == "sb")
        assert lin.agg(F.sum("rows_out")).first()[0] == 4
        # resume: a fresh context skips both stages without recompute
        ctx2 = _run(spark, str(tmp_path), calls)
        assert calls == ["a", "b"]
        assert [r.resumed for r in ctx2.ran] == [True, True]
        assert ctx2.ran[1].rows_out == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS kgsink_test_sa")
        spark.sql("DROP TABLE IF EXISTS kgsink_test_sb")


def test_catalog_sink_transient_failure_preserves_snapshot(spark, tmp_path):
    """ADVICE r03 #2: a transient write failure must re-raise, NOT drop the
    previously committed table and retry — only the known RTAS capability
    gap (AnalysisException naming REPLACE TABLE AS SELECT) may fall back."""
    import pytest

    from kg_curation_spark.stages.base import CatalogTableSink

    sink = CatalogTableSink(table_prefix="kgsink_fail_")
    ctx = PipelineContext(spark=spark, workdir=str(tmp_path), sink=sink)
    try:
        sink.write(ctx, "t", spark.range(5), None)
        assert spark.table("kgsink_fail_t").count() == 5

        class ExplodingWriter:
            def using(self, fmt):
                return self

            def partitionedBy(self, *cols):
                return self

            def createOrReplace(self):
                raise RuntimeError("executor lost mid-write")

        real_writeTo = type(spark.range(1)).writeTo
        df = spark.range(99)
        df.writeTo = lambda name: ExplodingWriter()  # instance-level stub
        with pytest.raises(RuntimeError, match="executor lost"):
            sink.write(ctx, "t", df, None)
        # previous committed snapshot untouched
        assert spark.table("kgsink_fail_t").count() == 5
        assert type(spark.range(1)).writeTo is real_writeTo
    finally:
        spark.sql("DROP TABLE IF EXISTS kgsink_fail_t")


def test_parquet_sink_empty_stage_materializes_and_resumes(spark, tmp_path):
    """The default sink reads each stage back with the schema it was
    written with (recorded in the commit marker): a partitioned stage with
    0 rows — its write leaves no data file — reads back as an empty table
    instead of failing schema inference, through a fresh run and a resume,
    with the same column order as a non-empty partitioned read-back."""
    import json

    wd = str(tmp_path)

    def run():
        ctx = PipelineContext(spark=spark, workdir=wd)
        decided = ctx.stage(
            "decide",
            lambda: spark.range(10).select(
                F.col("id").alias("subject"),
                (F.col("id") % 3).cast("string").alias("predicate"),
                (F.col("id") * 0.5).alias("score"),
            ).filter(F.col("score") > 100),
        )
        full = ctx.stage(
            "full",
            lambda: spark.range(6).select(
                F.col("id").alias("subject"),
                (F.col("id") % 3).cast("string").alias("predicate"),
                (F.col("id") * 0.5).alias("score"),
            ),
            partition_by=["predicate"],
        )
        mat = ctx.stage(
            "materialize", lambda: decided.select("subject", "predicate", "score"),
            partition_by=["predicate"],
        )
        return ctx, full, mat

    ctx, full, mat = run()
    assert [r.resumed for r in ctx.ran] == [False, False, False]
    assert mat.count() == 0 and ctx.ran[-1].rows_out == 0
    inferred = spark.read.parquet(f"{wd}/full")
    assert full.columns == inferred.columns == ["subject", "score", "predicate"]
    assert mat.schema == full.schema
    assert dict(full.dtypes)["predicate"] == "string"

    ctx2, full2, mat2 = run()
    assert [r.resumed for r in ctx2.ran] == [True, True, True]
    assert mat2.count() == 0 and mat2.schema == mat.schema
    assert sorted(full2.collect()) == sorted(full.collect())

    # a marker written without a schema falls back to inference
    marker = f"{wd}/_full.COMMITTED"
    with open(marker) as f:
        meta = json.load(f)
    del meta["schema"]
    with open(marker, "w") as f:
        json.dump(meta, f)
    ctx3 = PipelineContext(spark=spark, workdir=wd)
    assert ctx3.committed_schema("full") is None
    legacy = ctx3.sink.read(ctx3, "full")
    # inference reads the numeric-looking string partition values as ints
    assert dict(legacy.dtypes)["predicate"] == "int"
    assert sorted((r[0], r[1], str(r[2])) for r in legacy.collect()) == sorted(
        full.collect()
    )

"""Stage runner: checkpointed parquet sinks, per-partition lineage, resume.

Replaces the reference's incremental JSON memo-caches (cache.py:46-51 —
save after every key so an interrupted run resumes) with the Spark-native
equivalent: each stage writes its output parquet once, commits a marker
file, and a re-run skips straight to reading the committed output.

Lineage is fused into the write job itself — no extra Spark jobs:
  * the row count comes from an ``Observation`` attached to the written
    DataFrame (computed inside the write job, like Iceberg's snapshot
    summary metrics);
  * the per-partition rows come from the written parquet file footers,
    read driver-side with pyarrow (a pure metadata operation — the exact
    information an Iceberg manifest carries per data file, so on a real
    cluster this becomes a manifest read, not a scan).
Each stage's lineage lives in its own overwrite-mode file stamped with a
per-run id, so a rerun or a crash-then-resume can never double
count rows (previously lineage was append-mode and rows_out summed stale
runs).

Sinks are pluggable (SURVEY §7.0): the default ``ParquetDirSink`` writes
partitioned parquet with an atomic commit marker (Iceberg snapshot commit
stand-in); ``CatalogTableSink`` routes the identical stage contract through
the DataSourceV2 ``df.writeTo(table)`` API against the session catalog —
point it at an Iceberg catalog (format='iceberg', table_prefix
'catalog.namespace') on a real cluster and each stage boundary becomes a
true Iceberg snapshot commit with manifest-carried lineage.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class StageResult:
    name: str
    df: DataFrame
    resumed: bool
    rows_out: int
    wall_s: float


def _footer_lineage(out: str) -> list[tuple[int, int]]:
    """(partition_id, rows) per written data file, from parquet footers
    only — no Spark job, no data scan. partition_id is the writer task id
    parsed from the part-NNNNN filename."""
    import pyarrow.parquet as pq

    rows = []
    for root, _dirs, files in os.walk(out):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            pid = int(fn.split("-")[1]) if fn.startswith("part-") else len(rows)
            n = pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
            rows.append((pid, n))
    return sorted(rows)


class ParquetDirSink:
    """Default sink: one partitioned-parquet directory per stage under the
    workdir. The atomic marker rename in PipelineContext.stage is the
    snapshot-commit stand-in. Reads use the schema recorded in the marker:
    no schema-inference job, and a stage with 0 rows (a partitioned write
    then leaves no data file) reads back as an empty table instead of
    failing with UNABLE_TO_INFER_SCHEMA."""

    def write(self, ctx: "PipelineContext", name: str, df: DataFrame,
              partition_by: list[str] | None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(ctx.workdir, name))

    def read(self, ctx: "PipelineContext", name: str) -> DataFrame:
        reader = ctx.spark.read
        schema = ctx.committed_schema(name)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(os.path.join(ctx.workdir, name))

    def data_dir(self, ctx: "PipelineContext", name: str) -> str | None:
        return os.path.join(ctx.workdir, name)


class CatalogTableSink:
    """Iceberg-layout sink (SURVEY §7.0): stages write through the
    DataSourceV2 ``df.writeTo(<prefix><stage>)`` API instead of a path.

    On a cluster with an Iceberg catalog configured, construct with
    format='iceberg' and table_prefix='catalog.namespace.' — then
    createOrReplace() is an atomic Iceberg snapshot swap and per-file
    lineage comes from the manifest. The sandbox session catalog supports
    the same writeTo layout contract for parquet tables but not RTAS, so
    the write falls back to drop + create there; the stage-level atomic
    resume marker still provides the commit point either way.
    """

    def __init__(self, table_prefix: str = "", fmt: str = "parquet"):
        self.table_prefix = table_prefix
        self.fmt = fmt

    def table(self, name: str) -> str:
        return f"{self.table_prefix}{name}"

    def write(self, ctx: "PipelineContext", name: str, df: DataFrame,
              partition_by: list[str] | None) -> None:
        from pyspark.errors import AnalysisException

        w = df.writeTo(self.table(name)).using(self.fmt)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        try:
            w.createOrReplace()  # atomic snapshot swap on v2 catalogs
        except AnalysisException as ex:
            # Only the known capability gap falls back: the sandbox session
            # catalog cannot run REPLACE TABLE AS SELECT. Anything else
            # (executor loss, OOM, quota) re-raises so a transient failure
            # never drop+retries away the previous committed snapshot.
            # Match the STABLE error condition first (message wording
            # varies across Spark versions), message substrings as backup.
            cond = ""
            for attr in ("getCondition", "getErrorClass"):
                fn = getattr(ex, attr, None)
                if fn is not None:
                    try:
                        cond = fn() or ""
                        break
                    except Exception:  # noqa: BLE001 - diagnostics only
                        continue
            msg = str(ex)
            known_gap = (
                cond.startswith("UNSUPPORTED_FEATURE")
                or "REPLACE TABLE AS SELECT" in msg
                or "RTAS" in msg
            )
            if not known_gap:
                raise
            ctx.spark.sql(f"DROP TABLE IF EXISTS {self.table(name)}")
            w.create()

    def read(self, ctx: "PipelineContext", name: str) -> DataFrame:
        return ctx.spark.table(self.table(name))

    def data_dir(self, ctx: "PipelineContext", name: str) -> str | None:
        """Table location for footer lineage; an Iceberg deployment reads
        per-file rows from the manifest instead."""
        rows = ctx.spark.sql(
            f"DESCRIBE FORMATTED {self.table(name)}"
        ).collect()
        for r in rows:
            if r["col_name"].strip() == "Location":
                loc = r["data_type"].strip()
                if loc.startswith("file://"):
                    return loc[len("file://"):]
                if loc.startswith("file:"):
                    return loc[len("file:"):]
                return loc
        return None


@dataclass
class PipelineContext:
    spark: SparkSession
    workdir: str
    ran: list[StageResult] = field(default_factory=list)
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    sink: object = field(default_factory=ParquetDirSink)

    def _paths(self, name: str) -> tuple[str, str]:
        out = os.path.join(self.workdir, name)
        return out, os.path.join(self.workdir, f"_{name}.COMMITTED")

    def committed_schema(self, name: str) -> StructType | None:
        """The schema stage ``name`` was written with, from its commit
        marker; None for a marker written without one (inference then)."""
        with open(self._paths(name)[1]) as f:
            js = json.load(f).get("schema")
        return StructType.fromJson(json.loads(js)) if js else None

    def stage(
        self,
        name: str,
        fn,
        *,
        partition_by: list[str] | None = None,
        repartition: tuple[int, list[str]] | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage. ``fn() -> DataFrame``.

        repartition=(n, cols): explicit pre-sink repartition — the north
        rule requires it after extraction and before components so the
        downstream shuffle layout is chosen deliberately, not inherited.
        """
        out, marker = self._paths(name)
        if os.path.exists(marker):
            df = self.sink.read(self, name)
            with open(marker) as f:
                rows = json.load(f)["rows_out"]
            self.ran.append(StageResult(name, df, True, rows, 0.0))
            return df

        t0 = time.time()
        df = fn()
        if repartition:
            n, cols = repartition
            df = df.repartition(n, *[F.col(c) for c in cols])
        obs = Observation(f"lineage_{name}_{self.run_id}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        self.sink.write(self, name, df, partition_by)
        rows = int(obs.get["rows_out"])  # computed inside the write job

        # per-partition lineage from footers — metadata-only, zero jobs
        import pyarrow as pa
        import pyarrow.parquet as pq

        data_dir = self.sink.data_dir(self, name)
        per_part = _footer_lineage(data_dir) if data_dir else []
        lin_dir = os.path.join(self.workdir, "_lineage")
        os.makedirs(lin_dir, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "partition_id": pa.array([p for p, _ in per_part], pa.int32()),
                    "rows_out": pa.array([n for _, n in per_part], pa.int64()),
                    "stage": pa.array([name] * len(per_part), pa.string()),
                    "run_id": pa.array([self.run_id] * len(per_part), pa.string()),
                }
            ),
            os.path.join(lin_dir, f"{name}.parquet"),  # overwrite per stage
        )

        # the read-back layout: partition columns move to the end, as a
        # partitioned parquet read places them
        parts = set(partition_by or ())
        schema = StructType(
            [f for f in df.schema if f.name not in parts]
            + [f for f in df.schema if f.name in parts]
        )
        wall = time.time() - t0
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "stage": name, "rows_out": rows, "wall_s": wall,
                    "run_id": self.run_id, "schema": schema.json(),
                },
                f,
            )
        os.replace(tmp, marker)  # atomic commit — resume boundary
        committed = self.sink.read(self, name)
        self.ran.append(StageResult(name, committed, False, rows, wall))
        return committed

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "_lineage"))

"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: plant assertions into a repos-shaped corpus built
                 from sf0.001 documents, run the real extract stage
                 (a JVM regex), aggregate triples per predicate.
queries()      — one entry per implemented operator from SURVEY.md §2
                 (plus the training-data-pipeline ops), each with a DuckDB
                 oracle in oracle_sql() unless genuinely non-SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    import pyspark.sql.functions as F

    from kg_curation_spark.corpus import documents_as_repos
    from kg_curation_spark.stages.extract import extract_triples

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    repos = documents_as_repos(docs)
    triples = extract_triples(repos)
    return (
        triples.groupBy("predicate")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subject").alias("n_subjects"),
        )
        .orderBy("predicate")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kg_curation_spark import entry_queries

    return entry_queries.QUERIES


def oracle_sql() -> dict[str, str]:
    from kg_curation_spark import entry_queries

    return entry_queries.ORACLES

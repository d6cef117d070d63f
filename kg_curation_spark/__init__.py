"""kg_curation_spark — a from-scratch PySpark-native KG construction & curation engine.

Re-expresses the operator semantics of ChenJiaoyan/KG_Curation (assertion
correction + literal canonicalization, see SURVEY.md) as an idiomatic Spark
DataFrame stage chain:

    extract -> link/score -> constrain -> canonicalize -> materialize

Design rules (enforced throughout):
  * DataFrame / Spark SQL only; no RDDs.
  * The default pipeline (stages/pipeline.py) runs only in the JVM:
    extraction is a ``regexp_extract_all`` expression and scoring is
    native Column arithmetic. Elsewhere Python touches data only through
    Arrow-batched pandas UDFs (``mapInPandas`` / ``pandas_udf``) — never
    per-row Python.
  * Every stage is DataFrame -> DataFrame with a declared schema, a
    checkpointed parquet sink, and per-partition lineage rows (stages/base.py).
  * Hot-key skew handled with explicit salting helpers (operators/salt.py);
    iterative fixpoints (connected components) are hand-written
    large-star/small-star loops (operators/components.py).
"""

__version__ = "0.1.0"

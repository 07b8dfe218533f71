"""redcap_omop_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the operator semantics of the
KPMP/redcap-omop-etl reference pipeline (EAV data model, metadata-driven
filtering, de-identification date transforms, pivot/unpivot, lookup joins,
chunked sinks, schema validation) as an idiomatic, scale-out PySpark engine,
generalized to the full relational + streaming + LLM-data-pipeline surface.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, Arrow, UTC).
- ``sources``    : schema-explicit readers + a chunked REST-style source.
- ``functions``  : scalar column-expression library (dates, strings, errors).
- ``operators``  : relational/EAV/dedup/similarity/text operators.
- ``plans``      : the transform-pipeline framework (named DF->DF stages).
- ``streaming``  : Structured Streaming windows / stateful ops.
- ``sinks``      : chunk-enveloped batch sinks, JSON-lines sinks.
- ``validation`` : schema + constraint checker with error side-channels.

Design stance: DataFrame/SQL first — every operator is a declarative plan
Catalyst can optimize (predicate pushdown, column pruning, broadcast joins,
AQE). Python UDFs only where built-ins genuinely cannot express the
semantics, and then always Arrow-vectorized (pandas_udf / applyInPandas).
"""

__version__ = "0.1.0"

from redcap_omop_etl_spark.caching import (  # noqa: E402
    clear_session_memos,
    materialize,
    unpersist_operator_caches,
)

__all__ = [
    "clear_session_memos",
    "materialize",
    "unpersist_operator_caches",
]

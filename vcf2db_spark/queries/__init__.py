"""Declared-query modules. Importing this package populates the registry.

``QUERIES`` keeps registration order; the order served for the 50-row
correctness window is derived in ``__spark_entry__.queries()``.
"""

from vcf2db_spark.queries import (  # noqa: F401
    analytics,
    etl,
    extensions,
    gemini_dq,
    graph,
    lakehouse_dq,
    mlops,
    pipeline_ext,
    relational,
    streaming_dq,
    tpch,
    training,
    vectors,
    warehouse,
    windows,
)
from vcf2db_spark.registry import ORACLES, QUERIES  # noqa: F401

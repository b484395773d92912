"""cuny_courses_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline (``cvickery/cuny-courses``: CSV
ingest -> clean/typecast -> dict-lookup joins -> group/aggregate -> dedup by
latest effective date -> relational sink; see SURVEY.md SS1-3), extended with
the LLM-data-pipeline operator families (dedup, similarity search, multimodal
columns, text analysis) mandated by BASELINE.json.

Design principles (SURVEY.md SS4, SS7):
- DataFrame/SQL only; Catalyst + Tungsten pick the physical plan.
- No RDDs, no custom Catalyst rules, no SQL parser of our own.
- Python at the edges only, Arrow-vectorized (pandas_udf / applyInPandas).
- Every operator is registered as a named query with a DuckDB oracle where
  SQL-expressible (registry.py), forming the verifiable contract of SURVEY §2.
"""

from cuny_courses_spark.registry import oracles, queries
from cuny_courses_spark.session import cluster_confs, configure, get_session
from cuny_courses_spark.sources.loaders import load
from cuny_courses_spark.sql import register_views, run_sql

# Worker-side portability (r7): pandas_udf / applyInPandas closures defined
# in an importable module are cloudpickled BY REFERENCE — the executor's
# Python worker then tries `import cuny_courses_spark.<module>` and dies
# with ModuleNotFoundError unless the package happens to be on the worker's
# path (true when the driver's cwd is the repo — the masked case — false
# for a plain session launched anywhere else, and false on a real cluster
# without --py-files). Registering the UDF-defining modules for
# pickle-BY-VALUE embeds the function bodies in the serialized task, so
# any executor can run them with zero deployment coupling. Scope is the
# modules whose functions execute on workers (r12 adds the Python data
# source — its stream reader runs in a worker-side python process; the
# lakefeed connector carries the pyspark-free lakeformat protocol
# module's functions with it; the vector-index assignment map carries
# its numpy ranking kernel; the lakehouse's bucket-local rewrite tasks
# carry the bucket_rewrite kernel); relational operators never ship Python.
# Guarded: pickle-by-value is a portability improvement, not a
# correctness dependency.
try:  # pragma: no cover - trivially absent only on exotic pyspark builds
    from pyspark import cloudpickle as _cp

    from cuny_courses_spark import lakeformat as _lakeformat
    from cuny_courses_spark.functions import multimodal as _mm
    from cuny_courses_spark.functions import udfs as _udfs
    from cuny_courses_spark.operators import similarity as _sim
    from cuny_courses_spark.operators import vector_index as _vi
    from cuny_courses_spark.sources import bucket_rewrite as _br
    from cuny_courses_spark.sources import lakefeed as _lakefeed
    from cuny_courses_spark.sources import pyds as _pyds
    from cuny_courses_spark.streaming import batch_twins as _bt

    for _m in (_sim, _vi, _udfs, _mm, _bt, _pyds, _lakefeed, _lakeformat, _br):
        _cp.register_pickle_by_value(_m)
except Exception:
    pass

__all__ = [
    "queries",       # name -> (spark, sf_dir) -> DataFrame (SURVEY §2 contract)
    "oracles",       # name -> DuckDB oracle SQL
    "load",          # typed table loader (parquet, schema contract)
    "run_sql",       # plain-SQL surface over the registered table views
    "register_views",
    "get_session",   # engine-owned local session (tests/bench)
    "configure",     # apply engine runtime confs to any session
    "cluster_confs", # 100 TB deployment conf profile (for spark-submit)
]

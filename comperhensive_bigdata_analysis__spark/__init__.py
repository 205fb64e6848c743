"""comperhensive_bigdata_analysis__spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference repo
``CTlanston/Comperhensive_bigdata_analysis-`` (an ETL + Presto/Hive SQL
analytics pipeline; see SURVEY.md) as an idiomatic Spark DataFrame/SQL
engine, extended with the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns) that a
100 TB corpus needs.

Layout
------
- ``session``    SparkSession factory + catalog helpers (SURVEY §2.10, §3.1)
- ``sources``    scans/sinks: parquet/CSV ingest with the reference's
                 sanitize/infer semantics (SURVEY §2.1, helper_utils.py:27-197)
- ``operators``  relational building blocks: joins, dedup, top-k, windows,
                 exact kNN, curation (DSIR, ExactSubstr)
- ``functions``  scalar/vector/text function library (JVM built-ins only)
- ``plans``      the query catalog: every SURVEY §2 query shape as a
                 (spark, sf_dir) -> DataFrame callable with a DuckDB oracle
- ``forecast``   grouped time-series forecasting (SURVEY §2.9, Prophet-style)
- ``cache``      plan-cache lifecycle: census-shaped plans lazily persist
                 shared frames; session owners release them at phase
                 boundaries via ``release_plan_caches`` (DEPLOY.md) —
                 or run batches through ``run_phase``, which releases
                 at the boundary itself
"""

__version__ = "0.1.0"

from .cache import release_plan_caches  # noqa: F401
from .session import get_spark  # noqa: F401


def __getattr__(name):
    # run_phase lives behind the full plan catalog (plans/__init__
    # imports every plan module to build QUERIES); resolving it lazily
    # keeps the bare package import light for callers that only want
    # get_spark/release_plan_caches.
    if name == "run_phase":
        from .plans.pipeline import run_phase

        return run_phase
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

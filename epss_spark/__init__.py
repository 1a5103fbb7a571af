"""epss_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference EPSS toolkit
(whitfieldsdad/epss), re-expressed Spark-first.

The reference is a batch, eager, Polars-based dataframe application whose
essential computation is time-series delta analytics over a slowly-changing,
date-partitioned fact table (reference: epss/client.py:453-475 — the
"quantization" kernel). This package rebuilds those capabilities as lazy
Catalyst-optimizable DataFrame plans, plus the large-scale training-data
operators (dedup, similarity search, text analysis) a 100 TB pipeline needs.

Layout:
    session     — tuned SparkSession factory
    schemas     — fixed schemas (never infer in production paths)
    tables      — testdata table loaders
    plans       — Query dataclass → Column predicate compiler
    operators   — quantize (lag-diff), as-of join, and the extension
                  families: dedup, similarity, text, clustering,
                  retrieval, layout
    sources     — format readers and writers (incl. the date-partitioned
                  and cve-bucketed layouts), filename-date recovery,
                  sinks, HTTP ingest
    functions   — date coercion, filename dates, iterator helpers
    client      — the EPSS-domain composite API (get_scores, ...)
"""

from epss_spark.session import get_spark


def __getattr__(name):
    # lazy top-level convenience exports: `from epss_spark import EPSSClient`
    # without importing pyspark-heavy modules at package import time
    if name in ("EPSSClient", "get_date_range"):
        from epss_spark import client

        return getattr(client, name)
    if name == "Query":
        from epss_spark.plans.query import Query

        return Query
    raise AttributeError(f"module 'epss_spark' has no attribute {name!r}")


__all__ = ["get_spark", "EPSSClient", "Query", "get_date_range"]
__version__ = "0.2.0"

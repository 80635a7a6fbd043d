"""aspep_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of themarshallproject/aspep-etl.

The reference (``/root/reference/process_aspep``) is a Dagster-orchestrated,
eager-pandas ETL over the U.S. Census ASPEP survey.  This package re-expresses
its data model and every operator in SURVEY.md §2 as lazily-planned Spark
DataFrame pipelines designed for a multi-executor cluster at 100 TB scale,
plus the [EXT] large-scale training-data operators (dedup, similarity search,
text analysis, multimodal plumbing).

Layout
------
- ``session``    SparkSession factory with scale-oriented defaults
- ``schema``     canonical ASPEP fact schema (SURVEY.md §1.4) + column groups
- ``maps``       recode data (state / gov_function / column canonicalization)
- ``functions``  scalar expression builders (SURVEY.md §2.8)
- ``operators``  relational operators: recode joins, grouped stats, windows,
                 filters, set ops, dedup, similarity, text analysis
- ``sources``    ingest adapters (Excel grids, manifests, testdata registry)
- ``sinks``      parquet/Delta canonical store + JSON-array publisher
- ``plans``      full pipelines: combine_years / derive_stats /
                 derive_extended_stats as DataFrame→DataFrame transforms
- ``streaming``  Structured Streaming ingestion path for event streams [EXT]

Python kernels (``mapInPandas``, ``applyInPandas``,
``applyInPandasWithState``) reach the package one way: it is registered to
be pickled BY VALUE, so every kernel carries the package code it uses and
runs on Python workers that cannot import the package, whoever built the
session.  A module global a kernel reads therefore arrives with the
driver's value, not a fresh import's.
"""

import sys

from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

__version__ = "0.1.0"

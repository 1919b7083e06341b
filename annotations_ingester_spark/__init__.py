"""annotations_ingester_spark — a PySpark-native analytics/ETL engine.

A brand-new engine with the query and data-processing capabilities of the
reference ETL pipeline (CogStack/annotations-ingester, surveyed in
repo:SURVEY.md): document corpora in, NLP-annotation rows out, expressed as
idiomatic Spark DataFrame / Structured Streaming plans, plus a
large-scale-training-data operator library (dedup, similarity search,
text analysis, multimodal columns) designed for 100 TB workloads.

Layout
------
- ``session``    : tuned SparkSession builder
- ``config``     : typed PipelineConfig (same YAML surface as the reference)
- ``types``      : MedCAT / GATE annotation StructTypes (SURVEY §1.3)
- ``functions``  : scalar function library (names, text analysis, vectors)
- ``annotator``  : the enrichment UDTF — pluggable NLP client + mapInPandas
- ``operators``  : filters, anti-join, windows, explode, dedup, similarity
- ``sources``    : parquet + Elasticsearch readers behind one interface
- ``sinks``      : flat / partitioned / nested / merge writers (W1-W4)
- ``plans``      : end-to-end batch pipeline assembly
- ``streaming``  : Structured Streaming variant
- ``multimodal`` : binary media columns with typed metadata
- ``worker_imports`` : per-task zip re-parse fix for Spark Python workers
"""

from annotations_ingester_spark import worker_imports

__version__ = "0.1.0"

# engine closures are pickled by reference to this package, so a worker's
# first engine task lands here; a no-op outside PySpark workers
worker_imports.install()

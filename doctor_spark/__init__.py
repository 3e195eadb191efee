"""doctor_spark — a PySpark-native document/main-content extraction engine.

A from-scratch reimplementation of the *semantics* of freelawproject/doctor
(reference snapshot at /root/reference, cited as file:line in docstrings)
re-expressed Spark-first:

- pure-Python extraction kernels (``doctor_spark.kernels``) with zero Spark
  imports — unit-testable in milliseconds, byte-identical to the reference's
  own pure unit tests (doctor/tests.py:577-834);
- Arrow-batched operators (``doctor_spark.operators``) that run those kernels
  over an Iceberg/parquet table of Common-Crawl-style pages ``(url, warc_ts,
  html, text, lang)``: the extraction ``mapInPandas``, one row boundary
  (``doctor_spark.arrow``: ``row_udf``/``row_map``) for the row-wise kernels,
  and one micro-unit quantizer (``doctor_spark.micro``) for every
  oracle-exact log/pow statistic;
- a batch pipeline (``doctor_spark.pipeline``) with classify-then-parse
  staging, a url-hash repartition that spreads extraction cost, a
  day-grouped write (at most T + D output files for T tasks and D crawl
  days), per-partition lineage + metrics, and manifest-based resumable
  writes;
- large-scale training-data operators (``doctor_spark.operators.dedup``,
  ``similarity``, ``functions.text``): exact/MinHash-LSH/SimHash dedup,
  ANN search over embeddings, language-ID / quality / token statistics.
"""

__version__ = "0.1.0"

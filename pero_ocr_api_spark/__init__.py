"""pero_ocr_api_spark — a PySpark-native document extraction engine.

A from-scratch rebuild of the capabilities of DCGM/pero-ocr-api
(reference at /root/reference, studied for semantics only):

* the interleaved-document extraction dataflow (text/HTML cleaning +
  deterministic layout-analysis/OCR over media spans, re-stitched in
  reading order) — reference ``processing_client/run_client.py:197-225``;
* the relational queue / scheduling / statistics / maintenance
  queries, each with a DuckDB twin (``plans/queries_relational.py``) —
  reference ``app/main/general.py``, ``app/__init__.py:76-156``;
* the page states the extraction kernel writes (``ocr/kernel.py``) and
  the PROCESSING-timeout watchdog (``streaming/pipeline.py``) —
  reference ``app/db/model.py:13-22``.

Everything is expressed Spark-first: DataFrame/SQL plans optimized by
Catalyst, with vectorized pandas/Arrow UDFs (``mapInPandas``) only for
the media decode + OCR kernels that built-in operators cannot express.
"""

__version__ = "0.1.0"

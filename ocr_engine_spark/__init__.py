"""ocr_engine_spark — a from-scratch PySpark-native main-content
extraction engine with the capabilities of the reference repo
``DarkStar1997/ocr-engine`` (see SURVEY.md).

Layout
------
- ``kernel/``     pure-Python deterministic extraction kernels (no Spark).
                  Shared by the sequential golden-fixture oracle and the
                  Spark Arrow-batched extraction operator.
- ``functions/``  native Catalyst column expressions (no UDFs).
- ``sources/``    table IO seam (parquet here, Iceberg catalog in prod
                  config) + the deterministic synthetic transcript
                  generator used for fixtures and benchmarks.
- ``operators/``  Spark operators: Arrow extraction stage, skew salting,
                  audit/resume, dedup, similarity search, text stats.
- ``plans/``      end-to-end pipeline assembly.
- ``streaming/``  Structured Streaming variant of the extraction stage.
- ``zipcache``    keeps Python workers from re-reading unchanged zip
                  archives on every task; installed on import below.
"""

from . import zipcache  # noqa: F401  (patches zipimport on import)

__version__ = "0.1.0"

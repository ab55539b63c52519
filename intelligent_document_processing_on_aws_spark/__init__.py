"""PySpark-native main-content extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
jmeisele/intelligent-document-processing-on-aws (GenAIIDP) as an idiomatic
Spark engine over Common-Crawl-style web-page tables:

- ``kernels/``    pure-Python deterministic kernels (DOM parse, boilerplate
                  strip, PDF reading order, markdown tables, comparators) —
                  the byte-identity surface, unit-testable without Spark.
- ``operators/``  DataFrame->DataFrame transforms (extraction stage,
                  classification + sectioning, attribute extraction,
                  evaluation, dedup, similarity search, text stats).
- ``sources/``    warehouse read/write helpers (parquet locally; Iceberg
                  layout in production).
- ``plans/``      end-to-end pipelines + lineage/resume.
- ``streaming/``  Structured Streaming variants.
- ``fixtures/``   deterministic synthetic `pages` corpus + golden outputs.

All per-row logic runs in Arrow-batched pandas UDFs / mapInPandas — no
row-at-a-time Python (no BatchEvalPython nodes in any physical plan).
"""

from . import _zipcache  # noqa: F401  (per-task zip re-reads in workers)

__version__ = "0.1.0"

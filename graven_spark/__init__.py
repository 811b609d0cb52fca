"""graven_spark — a PySpark-native recursive URL-frontier + fetch scheduler.

A brand-new engine with the query/data-processing capabilities of the
reference crawler pipeline (dlg1206/graven, see SURVEY.md), re-expressed
Spark-first:

- the FIFO crawl queue (reference: ``graven/worker/crawler.py:52``) becomes a
  DataFrame-resident priority frontier iterated as batched fetch rounds;
- the URL-seen UNIQUE-key probe (reference: ``graven/db/graven_database.py:103-115``)
  becomes a partitioned-Bloom pre-filter + exact ``left_anti`` join;
- the per-stage thread pools and claim-check scheduler become deterministic
  round membership + per-host politeness token buckets computed by JVM
  window functions over the frontier;
- link/text extraction runs as JVM regex expressions (no Python worker).

Nothing in this package is a port: the reference is a threaded row-at-a-time
pipeline over MySQL; this engine is columnar, declarative, and
Catalyst-optimized end-to-end.
"""

__version__ = "0.1.0"

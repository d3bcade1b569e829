"""spider_spark — a PySpark-native URL frontier + fetch scheduler.

A from-scratch rebuild of the capabilities of the reference crawler suite
(Byzhkc3/spider, a single-process Python-2 fetch-and-parse loop) as an
idiomatic Spark engine:

- partitioned priority frontier over versioned parquet tables (Iceberg
  stand-in, see ``storage.py``) of interleaved text+media documents,
- exact URL-seen dedup: one anti-join per round against the seen table,
  bucketed by url-hash so it opens only the buckets its candidates hit
  (``bloom.py`` keeps a sharded Bloom prefilter as a library; rounds do
  not use it),
- per-host politeness buckets (robots disallow cache, crawl-delay gates)
  enforced via salted host-hash repartitioning,
- URL canonicalization/hashing in vectorized Arrow/pandas UDFs,
- each crawl round is ONE DataFrame job, MERGE-back with per-partition
  lineage rows, resumable from checkpoint.

Reference parity targets are documented per-module with ``file:line``
citations into /root/reference.
"""

__version__ = "0.1.0"

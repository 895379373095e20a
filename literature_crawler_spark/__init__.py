"""literature_crawler_spark — a PySpark-native analytics + crawl-scheduling engine.

A from-scratch re-expression of the capabilities of the reference
``literature_crawler`` repo (Flask/SQLAlchemy/Redis/Selenium scientific
literature crawler) as an idiomatic Spark engine:

* URL frontier kernel: canonicalize -> xxhash64 -> cuckoo-filter
  prefilter (at scale) -> LEFT ANTI join against a hash-bucketed ``seen``
  state table
  (reference: per-row ``query.filter_by(...).first()`` seen checks,
  ``app/service/protocol_io/process_task/protocol_io_crawl.py:100``).
* Politeness + priority scheduling: per-host quotas via window ranking over
  host-partitioned frontiers (reference: serial loops with ``time.sleep``,
  ``protocol_io_crawl.py:80``, ``nature_protocol_crawl.py:269``).
* Fetch + extract: Arrow-batched ``mapInPandas`` stages over an image +
  caption corpus (reference: ``app/util/download.py``).
* Wave loop with snapshot checkpoints + resume (reference: Redis
  ``crawl_list_{task}`` freeze/reload, ``nature_protocol_crawl.py:67-88``).
* Training-data pipeline operators: exact/MinHash-LSH/SimHash/n-gram
  dedup, embedding similarity search, text quality/langid/token stats.

Everything is DataFrame-first: Catalyst handles pushdown/pruning/join
selection; Python appears only inside vectorized pandas/Arrow UDFs.
"""

__version__ = "0.1.0"

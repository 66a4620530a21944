"""edgar_crawler_spark — a PySpark-native distributed crawl frontier +
fetch scheduler + item-extraction engine.

Re-creates the capabilities of ``nlpaueb/edgar-crawler`` (reference at
/root/reference, single-process pandas scripts) as an idiomatic Spark
DataFrame engine:

* ``frontier/``  — URL canonicalization, xxhash64 URL-seen (partitioned
  Bloom pre-filter + exact anti-join), per-host priority queues, token
  bucket politeness over a host-hash fetch repartition, snapshot-committed
  state tables (Iceberg-layout over parquet).
* ``operators/`` — the reference's relational dataflow (SURVEY.md §2:
  projections, filters, joins, ordering, aggregation) plus
  training-data-pipeline operators (dedup, similarity search, text
  analysis, multimodal plumbing).
* ``functions/`` — the extraction kernel (strip-html / clean-text /
  item-section parsing, reference extract_items.py:201-1147) as pure
  per-document Python, invoked only through Arrow-batched pandas UDFs.
* ``extract/``   — the mapInPandas extraction pipeline producing the
  long-form items table.
* ``plans/``     — the stages around the crawl (enrichment, near-dup
  pass, extraction from the frontier's tables).
"""

__version__ = "0.1.0"

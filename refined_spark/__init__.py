"""refined_spark — a from-scratch PySpark-native entity-resolution engine.

Re-creates the query/data-processing capabilities of the reference
(enRichMyData/ReFinED, an entity-linking system) as an idiomatic Spark
pipeline: blocking + pairwise scoring + transitive clustering over a
table of Common-Crawl-style web pages
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``.

Design stance (see SURVEY.md §7): declarative DataFrame plans wherever the
semantics allow (Catalyst/AQE optimize them for free); vectorized
pandas/Arrow UDFs for per-row text math (never row-at-a-time Python UDFs);
the single order-sensitive operator (person-name coreference) as a
(url, word) join plus one latest-registration aggregation over candidate
arrays; an iterative large-star/small-star DataFrame loop for connected
components.
"""

__version__ = "0.1.0"

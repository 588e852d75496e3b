"""toyocr_spark — a PySpark-native main-content extraction engine.

Re-imagines the document-understanding pipeline of ocrbook/ToyOCR
(reference at /root/reference, see SURVEY.md) as an idiomatic Spark
DataFrame pipeline over Common-Crawl-style page tables:

    pages(url, warc_ts, html, text, lang)
      -> repartition(hash(url), salted for hot hosts)
      -> mapInArrow(extract)           # HTML -> blocks -> scores -> spans
      -> (url, extracted_text, spans)  # byte-identical to the frozen oracle
      -> parquet/Iceberg sink + per-partition lineage + commit-log resume

The non-relational kernel (tokenize/score/select/layout) lives in
``toyocr_spark.extractor`` as a pure deterministic function; everything
around it is stock DataFrame code optimized for Catalyst.
"""

__version__ = "0.1.0"

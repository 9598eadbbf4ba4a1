"""fulltextsearch_spark — a PySpark-native inverted-index + BM25 engine.

A brand-new engine with the query/data-processing capabilities of the
reference full-text search engine (PetroProtsyk/FullTextSearch, C#,
surveyed in /root/repo/SURVEY.md), re-expressed Spark-first:

- tokenization: one batch kernel behind Arrow UDFs; text extraction: a
  vectorized pandas (Arrow) UDF
- index build: DataFrame groupBy/shuffle producing posting-list tables
  with delta+varint block compression and block-max skip metadata
- query: Boolean AND/OR/phrase + wildcard/fuzzy term expansion as
  DataFrame filters/joins/unions; BM25 ranked top-k
- persistence: parquet segment tables + a JSON manifest (resumable)

Nothing here is a port of the reference's C# execution code; citations
in docstrings are to semantics (WHAT is computed), per SURVEY.md.
"""

__version__ = "0.1.0"

MAX_TOKEN_SIZE = 64  # reference cap: IndexTypes/Persistent/PersistentBuilder.cs:12
BM25_K1 = 1.2  # fixed in our spec (reference has no ranking — SURVEY.md §0.1)
BM25_B = 0.75

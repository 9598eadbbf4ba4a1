"""In-memory (non-persisted) index — DataFrames only, no parquet.

Analog of the reference's second index backend, InMemoryIndex
(IndexTypes/InMemory/InMemoryIndex.cs:104-114, SURVEY.md §2.F), which
serves as its semantic baseline. Same query interface as
`index_io.Index`, so the planner/BM25 work unchanged; used by
`__spark_entry__.entry` and ad-hoc pipelines that don't need a
persistent index root.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from fulltextsearch_spark.operators import build as B
from fulltextsearch_spark.sources.ids import assign_dense_ids


@dataclass
class MemoryIndex:
    spark: SparkSession
    _postings: DataFrame
    _dictionary: DataFrame
    _doc_stats: DataFrame
    _docs: DataFrame

    @classmethod
    def from_pages(cls, spark: SparkSession, pages: DataFrame) -> "MemoryIndex":
        with_ids = assign_dense_ids(pages, "url", "doc_id", start=1)
        postings = B.tokenize_postings(with_ids).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return cls(
            spark,
            postings,
            B.build_dictionary(postings, single_field=True).persist(StorageLevel.MEMORY_AND_DISK),
            B.doc_stats_from_postings(postings).persist(StorageLevel.MEMORY_AND_DISK),
            with_ids.select(
                "doc_id",
                *[
                    c
                    for c in ("url", "warc_ts", "lang", "meta", "text")
                    if c in with_ids.columns
                ],
            ),
        )

    @classmethod
    def from_docs_table(cls, spark: SparkSession, docs: DataFrame) -> "MemoryIndex":
        """Build directly from (doc_id, text) rows — ids taken as given."""
        postings = B.tokenize_postings(docs.select("doc_id", "text")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        return cls(
            spark,
            postings,
            B.build_dictionary(postings, single_field=True).persist(StorageLevel.MEMORY_AND_DISK),
            B.doc_stats_from_postings(postings).persist(StorageLevel.MEMORY_AND_DISK),
            docs,
        )

    def dictionary(self) -> DataFrame:
        return self._dictionary

    def doc_stats(self) -> DataFrame:
        return self._doc_stats

    def docs(self) -> DataFrame:
        return self._docs

    def collection_stats(self) -> tuple[int, float]:
        r = self._doc_stats.agg(
            F.count("*").alias("n"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        return int(r["n"]), float(r["avgdl"] or 0.0)

    def postings(self, term_pred=None, exact_terms=None) -> DataFrame:
        df = self._postings
        if exact_terms is not None:
            df = df.where(F.col("term").isin(exact_terms))
        elif term_pred is not None:
            df = df.where(term_pred)
        return df.select("term", "doc_id", "field_id", "positions", "tf")

    def unpersist(self) -> None:
        self._postings.unpersist()
        self._dictionary.unpersist()
        self._doc_stats.unpersist()

    def search(self, query: str) -> DataFrame:
        from fulltextsearch_spark.plans.planner import plan_query

        return plan_query(self, query)

    def lookup(self, pattern: str) -> DataFrame:
        from fulltextsearch_spark.plans.planner import plan_lookup

        return plan_lookup(self, pattern)

    def rank(self, query: str, k: int = 10) -> DataFrame:
        from fulltextsearch_spark.operators.bm25 import rank_query

        return rank_query(self, query, k)

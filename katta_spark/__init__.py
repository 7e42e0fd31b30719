"""katta_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Re-creates the capabilities of sgroschupf/katta ("Lucene in the cloud":
partitioned inverted-index build + distributed top-k search with globally
consistent scoring) as idiomatic PySpark dataflow:

- index build  -> katta_spark.build   (Katta: IndexerJob.java + shard deploy)
- query top-k  -> katta_spark.query   (Katta: LuceneClient/LuceneServer 2-phase)
- global stats -> broadcast stats table (Katta: DocumentFrequencyWritable)
- oracle       -> katta_spark.oracle  (Katta: LuceneComplianceTest monolithic index)

Everything here derives from public knowledge only: the Apache Spark API and
the reference repo's observable behavior (cited file:line in docstrings).
"""

__version__ = "0.2.0"

from katta_spark import _zipcache
from katta_spark.scoring import BM25_B, BM25_K1  # noqa: F401

# Every kernel closure imports katta_spark inside the Python worker, so
# this is where a reused worker stops re-reading pyspark.zip and the
# spark-core jar before each task (see _zipcache).
_zipcache.install()


def __getattr__(name):
    """Lazy convenience re-exports (avoid importing pyspark at package
    import time): katta_spark.build_index, .search, .search_multi, ..."""
    _lazy = {
        "build_index": ("katta_spark.build", "build_index"),
        "search": ("katta_spark.query", "search"),
        "search_multi": ("katta_spark.query", "search_multi"),
        "search_sorted": ("katta_spark.query", "search_sorted"),
        "search_grouped": ("katta_spark.query", "search_grouped"),
        "search_with_total": ("katta_spark.query", "search_with_total"),
        "search_after": ("katta_spark.query", "search_after"),
        "count_matches": ("katta_spark.query", "count_matches"),
        "facet_counts": ("katta_spark.query", "facet_counts"),
        "facet_ranges": ("katta_spark.query", "facet_ranges"),
        "match_stats": ("katta_spark.query", "match_stats"),
        "explain_score": ("katta_spark.query", "explain_score"),
        "get_details": ("katta_spark.query", "get_details"),
        "prepare_filter": ("katta_spark.query", "prepare_filter"),
        "CachedFilter": ("katta_spark.query", "CachedFilter"),
        "IndexHandle": ("katta_spark.query", "IndexHandle"),
        "delete_docs": ("katta_spark.delete", "delete_docs"),
        "delete_by_query": ("katta_spark.delete", "delete_by_query"),
        "compact": ("katta_spark.compact", "compact"),
        "expunge": ("katta_spark.compact", "expunge"),
        "train_quality_classifier": (
            "katta_spark.quality_model", "train_quality_classifier"),
        "score_quality": ("katta_spark.quality_model", "score_quality"),
        "pareto_filter": ("katta_spark.quality_model", "pareto_filter"),
        "plan_compaction": ("katta_spark.merge_policy", "plan_compaction"),
        "auto_compact": ("katta_spark.merge_policy", "auto_compact"),
        "live_index_dirs": ("katta_spark.merge_policy", "live_index_dirs"),
        "sweep_consumed": ("katta_spark.merge_policy", "sweep_consumed"),
        "copy_index": ("katta_spark.deploy", "copy_index"),
        "index_manifest": ("katta_spark.deploy", "index_manifest"),
        "verify_index": ("katta_spark.deploy", "verify_index"),
    }
    if name in _lazy:
        import importlib

        mod, attr = _lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(name)

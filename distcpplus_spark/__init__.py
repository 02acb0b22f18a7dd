"""distcpplus_spark — a PySpark-native analytics + file-ETL engine.

A from-scratch re-expression of the capabilities of ``turn/DistCPPlus``
(a feature-enhanced fork of Hadoop DistCp; see /root/reference) as an
idiomatic Spark engine, extended with the relational/LLM-data-pipeline
operator surface declared in SURVEY.md §2b.

Layout
------
- ``session``    : tuned SparkSession factory
- ``catalog``    : table registry over the parquet fixture dirs
- ``sources``    : file listing (distributed BFS lister — the Spark-native
                   version of the reference's driver-side recursive scan,
                   DistCPPlus.java:644-749) + regex source selection
                   (Arguments.java:306-346, 363-437)
- ``plans``      : copy planning — one diff of the two listings (DistCpUtils.java:239-291),
                   duplicate check (DistCpUtils.java:84-110), limits
                   (DistCPPlus.java:676-678), cost-balanced bucketing
                   (CopyInputFormat.java:33-79), mirror delete
                   (DistCpUtils.java:136-223)
- ``operators``  : copy executor (DefaultCopyFilesMapper.java:105-206),
                   attribute preservation (DistCPPlus.java:234-297),
                   LLM-pipeline ops (dedup, similarity, text analysis,
                   multimodal)
- ``functions``  : reusable column expressions (vector math, text stats,
                   hashing/fingerprints)
- ``streaming``  : Structured Streaming surface (windows, watermarks,
                   incremental sync)
- ``queries``    : the declared oracle-checked query set (SURVEY.md §2b)
"""

from distcpplus_spark.session import get_spark, stop_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "__version__"]

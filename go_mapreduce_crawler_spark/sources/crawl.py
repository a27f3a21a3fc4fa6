"""Distributed file enumeration — the reference's List + Searcher operators.

Reference behavior (see SURVEY.md §2.1 ops 1-2; reference
internal/workerpool/pool.go:168-196 and internal/filecrawler/crawler.go:113-155):
level-synchronous BFS over a directory tree with a worker pool per level;
directories become the next BFS level, files are streamed to the map stage.

``list_files`` is the production path.  It delegates to Spark's own
distributed listing (``InMemoryFileIndex``) via ``recursiveFileLookup``; on
a cluster this parallelizes across executors once the directory count
passes ``spark.sql.sources.parallelPartitionDiscovery.threshold``.  This is
what every real read in the engine uses.

Storage Spark has no connector for goes through the pluggable FileSystem
seam instead, whose listing is the driver-side level-synchronous walk
``pyfs.walk`` (threads per level, the reference's ``wg.Wait()`` barrier
between levels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def list_files(spark: SparkSession, root: str, glob: str | None = None) -> DataFrame:
    """Production listing: one-column DataFrame of file paths under root."""
    reader = (spark.read.format("binaryFile")
              .option("recursiveFileLookup", "true"))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(root).select("path")

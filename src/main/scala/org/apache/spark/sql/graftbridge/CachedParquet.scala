package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet reads over a caller-owned file-listing cache.
  *
  * `spark.read.parquet(paths*)` builds a fresh `InMemoryFileIndex` with
  * a fresh `FileStatusCache` namespace on every call, so every read
  * re-lists every directory — and above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths that
  * listing is a distributed Spark job. A reader whose directories are
  * immutable once named can instead keep ONE namespace and list each
  * directory once: the index consults the cache per root path and
  * lists only the misses.
  *
  * The caller owns the invariant that a cached directory's contents
  * never change; it calls `invalidateAll()` on its cache when it
  * cannot guarantee that.
  */
object CachedParquet {
  /** A new listing-cache namespace (bounded by the session's shared
    * `spark.sql.hive.filesourcePartitionFileCacheSize`; a no-op cache
    * when file-source partition management is off).
    */
  def newCache(spark: SparkSession): FileStatusCache = FileStatusCache.getOrCreate(spark)

  /** Scan `dirs` (directories of parquet files, no partition columns)
    * with a fixed schema, listing through `cache`. Paths are qualified
    * first: the index keys its listing by qualified path, so an
    * unqualified root would match no listed file.
    */
  def read(spark: SparkSession, cache: FileStatusCache, dirs: Seq[String],
      schema: StructType): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val roots = dirs.map { d =>
      val p = new Path(d)
      p.getFileSystem(hadoopConf).makeQualified(p)
    }
    val index = new InMemoryFileIndex(spark, roots, Map.empty, Some(schema), cache)
    val relation = HadoopFsRelation(index, partitionSchema = new StructType(),
      dataSchema = schema, bucketSpec = None, fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }
}

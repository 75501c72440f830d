package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

/** Data-layout control for write-time clustering (SURVEY.md §2.8).
  *
  * Parquet readers skip row groups whose column min/max statistics
  * exclude the query predicate — but only if the writer clustered
  * values so the ranges are actually narrow. A shuffled-order write
  * gives every row group the full value range (nothing skips);
  * `writeClustered` range-partitions and sorts within partitions on
  * the cluster keys, so each row group covers a tight, mostly
  * disjoint slice and point/range scans touch a fraction of the data.
  *
  * Scale notes: `repartitionByRange` samples key quantiles (one light
  * pass) and shuffles once; the within-partition sort is the standard
  * write-side cost of any clustered layout. This is the single
  * highest-leverage storage decision for a 100 TB table scanned by
  * key ranges.
  */
object Layout {

  /** Range-partition + sort on `clusterCols`, returning the writer so
    * callers add format options. `partitions` defaults to the session
    * shuffle parallelism.
    */
  def clusteredWriter(df: DataFrame, clusterCols: Seq[String],
      partitions: Option[Int] = None): DataFrameWriter[Row] = {
    val cols = clusterCols.map(col)
    val ranged = partitions match {
      case Some(n) => df.repartitionByRange(n, cols: _*)
      case None => df.repartitionByRange(cols: _*)
    }
    ranged.sortWithinPartitions(cols: _*).write
  }

  /** Clustered parquet write. */
  def writeClustered(df: DataFrame, out: String, clusterCols: Seq[String],
      partitions: Option[Int] = None): Unit =
    clusteredWriter(df, clusterCols, partitions).mode("overwrite").parquet(out)

  /** Compact a small-files parquet dataset (the debris a micro-batch
    * sink accumulates: thousands of KB-sized files whose open/footer
    * overhead eventually dominates scans). Rewrites into
    * ceil(bytes / targetFileBytes) files sized from the dataset's own
    * on-disk footprint, into a NEW directory — parquet writes are not
    * atomic over their own input, so callers swap directories after
    * (the pattern every table format uses).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetFileBytes: Long = 128L << 20): Int = {
    // same-directory guard, both address families: fully-qualified
    // Hadoop paths (hdfs://-or-s3a:// callers — a java.io.File
    // compare would resolve nothing there and let them overwrite
    // their input) AND, when the qualified scheme is local,
    // canonicalized java paths too — makeQualified does not resolve
    // symlinks, so a symlinked outDir aliasing inDir would otherwise
    // pass the URI compare and the overwrite would destroy the input
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).makeQualified(hp)
    }
    val (qi, qo) = (qualified(inDir), qualified(outDir))
    require(qi.toString != qo.toString, "compact into a new directory")
    if (qo.toUri.getScheme == "file" && qi.toUri.getScheme == "file")
      require(new java.io.File(qo.toUri.getPath).getCanonicalPath !=
        new java.io.File(qi.toUri.getPath).getCanonicalPath,
        "compact into a new directory (symlink aliases the input)")
    val df = spark.read.parquet(inDir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = ((bytes + targetFileBytes - 1) / targetFileBytes).max(1).min(1 << 20).toInt
    // coalesce, not repartition: merging files needs no shuffle
    df.coalesce(files).write.mode("overwrite").parquet(outDir)
    files
  }
}

package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed tables: pre-shuffle data ONCE at write time so that every
  * subsequent equi-join/aggregation on the bucket key runs with NO
  * exchange (SURVEY.md §4). At 100 TB this converts the nightly
  * fact⋈fact join from the dominant shuffle into a zip of co-located
  * buckets — the write-time shuffle is paid once, not per query.
  */
object Bucketing {

  /** True-overwrite preparation for a managed table: drop the catalog
    * entry AND its managed location — a stale location from a prior
    * session otherwise fails the next write with
    * LOCATION_ALREADY_EXISTS. Hadoop FileSystem, not java.io.File:
    * the warehouse is hdfs://-or-s3a://-addressable on a real cluster
    * and a local-only delete would silently no-op there, resurfacing
    * the stale-location failure at scale. The name is interpolated
    * into SQL and into a filesystem path — restrict it to identifier
    * chars and lowercase it, matching the catalog's lowercased
    * managed-location directory. Returns the normalized name. ONE
    * owner for this discipline (bucketed tables here, the df-stats
    * totals table) so the next stale-location fix lands everywhere.
    */
  def dropTableAndLocation(spark: org.apache.spark.sql.SparkSession,
      table: String): String = {
    require(table.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"invalid table name: '$table' (expected [A-Za-z][A-Za-z0-9_]*)")
    val t = table.toLowerCase(java.util.Locale.ROOT)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")), t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(loc, true)
    t
  }

  /** Write `df` as a bucketed, sorted parquet table registered in the
    * session catalog (bucket metadata lives in the catalog, which is
    * why this is `saveAsTable`, not a path write).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val t = dropTableAndLocation(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(t)
  }

  /** Append rows to an EXISTING bucketed table under the same layout
    * (Spark writes new per-bucket files; the catalog's bucket spec
    * keeps reads exchange-free). The bucket count is the table's own,
    * read from the catalog: only `writeBucketed` chooses one. Same
    * name validation as the write — one owner for the bucketing
    * convention.
    */
  def appendBucketed(df: DataFrame, table: String, key: String): Unit = {
    require(table.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"invalid table name: '$table' (expected [A-Za-z][A-Za-z0-9_]*)")
    df.write.mode("append").format("parquet")
      .bucketBy(bucketCount(df.sparkSession, table), key).sortBy(key)
      .saveAsTable(table.toLowerCase(java.util.Locale.ROOT))
  }

  /** The bucket count in `table`'s catalog bucket spec. */
  def bucketCount(spark: org.apache.spark.sql.SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(s"$table is not bucketed"))

  /** `rows` minus those whose `idCol` is already present in `table` —
    * the replay-idempotency probe every incremental family's append
    * runs (PostingIndex, IncrementalDedup): presence is checked against
    * THIS table (a crash between two appends must heal exactly the
    * lagging one), via a broadcast semi-probe of the bucketed table
    * (corpus side unshuffled, output ≤ the batch) broadcast back as
    * the exclusion. ONE owner so the discipline cannot drift between
    * families.
    */
  def absentOnly(rows: DataFrame, table: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val spark = rows.sparkSession
    val ids = rows.select(col(idCol)).distinct()
    val present = spark.table(table)
      .join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col(idCol)).distinct()
    rows.join(broadcast(present), Seq(idCol), "left_anti")
  }
}

package graft.sources

import graft.{GraftSession, SparkSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.jdk.CollectionConverters._

class LayoutSpec extends SparkSpec {

  /** (min, max) of `column` per row group across all part files. */
  private def rowGroupRanges(dir: String, column: String): Seq[(Long, Long)] =
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .toSeq.flatMap { part =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val s = b.getColumns.asScala.find(_.getPath.toDotString == column).get.getStatistics
          (s.genericGetMin.asInstanceOf[Number].longValue,
            s.genericGetMax.asInstanceOf[Number].longValue)
        } finally r.close()
      }

  private def overlapFraction(ranges: Seq[(Long, Long)]): Double = {
    val pairs = for {
      (a, i) <- ranges.zipWithIndex; (b, j) <- ranges.zipWithIndex if i < j
    } yield if (a._1 <= b._2 && b._1 <= a._2) 1 else 0
    if (pairs.isEmpty) 0.0 else pairs.sum.toDouble / pairs.size
  }

  test("compaction merges a small-files dataset without a shuffle, preserving rows") {
    val li = GraftSession.table(spark, sf0, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey"))
    val messy = tmpDir("layout") + "/messy"
    li.repartition(64).write.mode("overwrite").parquet(messy) // 64 tiny files
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(messy) === 64)
    val compacted = tmpDir("layout") + "/compacted"
    Layout.compact(spark, messy, compacted, targetFileBytes = 1L << 30)
    assert(parts(compacted) === 1)
    assert(spark.read.parquet(compacted).count() === li.count())
    // no shuffle: the compaction plan must not contain an Exchange
    val plan = spark.read.parquet(messy).coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "coalesce-based compaction must not shuffle")
    intercept[IllegalArgumentException] {
      Layout.compact(spark, messy, messy)
    }
  }

  test("schema evolution: mergeSchema unifies old and new file generations") {
    import spark.implicits._
    val dir = tmpDir("layout_evolution") + "/table"
    // generation 1: (doc_id, text) — written before the pipeline
    // started recording quality
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    // generation 2: adds a quality column (the add-a-column-mid-corpus
    // reality of any long-lived 100 TB table)
    Seq((3L, "gamma", 0.9)).toDF("doc_id", "text", "quality")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.schema.fieldNames.toSet === Set("doc_id", "text", "quality"))
    assert(merged.count() === 3)
    // old-generation rows surface the new column as null; aggregates skip them
    assert(merged.filter($"quality".isNull).count() === 2)
    assert(merged.agg(org.apache.spark.sql.functions.avg($"quality")).head().getDouble(0) === 0.9)
    // default read (no merge) still works against the footer-sampled schema
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("clustered write produces mostly disjoint row-group ranges; shuffled write does not") {
    val li = GraftSession.table(spark, sf0, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_quantity"))
    val clustered = tmpDir("layout") + "/clustered"
    val shuffled = tmpDir("layout") + "/shuffled"
    Layout.clusteredWriter(li, Seq("l_orderkey"), partitions = Some(4))
      .option("parquet.block.row.count.limit", "500")
      .mode("overwrite").parquet(clustered)
    li.repartition(4) // round-robin: every partition sees the full key range
      .write.option("parquet.block.row.count.limit", "500")
      .mode("overwrite").parquet(shuffled)
    val cRanges = rowGroupRanges(clustered, "l_orderkey")
    val sRanges = rowGroupRanges(shuffled, "l_orderkey")
    assert(cRanges.size >= 4 && sRanges.size >= 4)
    val (cOv, sOv) = (overlapFraction(cRanges), overlapFraction(sRanges))
    assert(cOv < 0.2, s"clustered row groups must be mostly disjoint, overlap=$cOv")
    assert(sOv > 0.8, s"shuffled row groups overlap everywhere, overlap=$sOv")
    // the point of the layout: a key-range predicate can skip most
    // row groups under the clustered layout, none under the shuffled
    val probe = (cRanges.map(_._1).min + cRanges.map(_._2).max) / 2
    def touches(rs: Seq[(Long, Long)]) = rs.count(r => r._1 <= probe && probe <= r._2)
    assert(touches(cRanges) * 4 <= cRanges.size,
      "a point probe should touch a small fraction of clustered row groups")
    assert(touches(sRanges) === sRanges.size)
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  // Planted timeline for one user (window = 600s):
  //   clicks at t=0, 100, 599, 600, 1200
  //   purchase at t=600 → window [0, 600): clicks 0, 100, 599  (600 excluded)
  //   purchase at t=1250 → window [650, 1250): click 1200
  //   purchase at t=5000 → no clicks
  private def ts(sec: Long) = to_timestamp(lit(sec))

  private val clicks = Seq(0L, 100L, 599L, 600L, 1200L)
    .toDF("sec").select(lit(1L).as("user_id"), to_timestamp(col("sec")).as("c_ts"))
  private val purchases = Seq((10L, 600L), (11L, 1250L), (12L, 5000L))
    .toDF("event_id", "sec")
    .select(col("event_id"), lit(1L).as("user_id"), to_timestamp(col("sec")).as("p_ts"))

  test("trailing window count: inclusive lower, exclusive upper, zero rows kept") {
    val out = RangeJoin.trailingWindowCount(purchases, clicks, "user_id",
        "p_ts", "c_ts", windowSec = 600L, countAlias = "n")
      .select("event_id", "n").as[(Long, Long)].collect().toMap
    assert(out === Map(10L -> 3L, 11L -> 1L, 12L -> 0L))
  }

  test("cross-user isolation: matches never cross the key") {
    val c2 = clicks.withColumn("user_id", lit(2L))
    val out = RangeJoin.trailingWindowCount(purchases, c2, "user_id",
      "p_ts", "c_ts", windowSec = 600L, countAlias = "n")
    assert(out.agg(sum("n")).as[Long].head() === 0L)
  }
}

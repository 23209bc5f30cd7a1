package graft.tools

import graft.operators.Sessions
import org.apache.spark.sql.functions._

/** Dev tool: demonstrate the chunked sessionizer's skew behavior.
  * One bot user with 2M events (10s apart) + 200 normal users; the
  * single-window path serializes the bot into one task, the chunked
  * path spreads it over ~232 daily chunks.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = "/tmp/graft_skew"
    val bot = spark.range(20000000).select(
      (col("id") + 10000000L).as("event_id"),
      (col("id") * 10000000000L).as("ts"), // ns, 10s apart
      lit(0L).as("user_id"), lit("bot").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props"))
    val normal = spark.range(200000).select(
      col("id").as("event_id"),
      (col("id") * 977L * 1000000000L).as("ts"),
      pmod(col("id"), lit(200)).cast("long").as("user_id"),
      lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
    bot.unionByName(normal).write.mode("overwrite").parquet(s"$dir/events.parquet")

    def time(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"$name: took ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // warm both paths once at small scale via count of distinct plans
    time("single-window")(Sessions.sessionized(spark, dir).select("event_id", "session_id"))
    time("single-window run2")(Sessions.sessionized(spark, dir).select("event_id", "session_id"))
    time("chunked      ")(Sessions.sessionizedChunked(spark, dir).select("event_id", "session_id"))
    time("chunked run2 ")(Sessions.sessionizedChunked(spark, dir).select("event_id", "session_id"))
    // correctness on the skewed data: identical assignments
    val a = Sessions.sessionized(spark, dir).select("event_id", "session_id")
    val b = Sessions.sessionizedChunked(spark, dir).select("event_id", "session_id")
    println("diff rows: " + a.exceptAll(b).count())
    spark.stop()
  }
}

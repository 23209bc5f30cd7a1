package graft.tools

import graft.operators.Messages
import org.apache.spark.sql.functions._

/** Dev tool: demonstrate q12's hot-bucket behavior. One conversation
  * bucket with 10k distinct participants (a broadcast channel) + 2000
  * normal users in small buckets. The OUTPUT of the recipients
  * semantics is inherently quadratic in bucket size (every member
  * lists every other member — 10k users × 10k-long arrays), so the
  * honest mitigations are the per-bucket array emission (arrays move
  * once per member, never per pair) and the maxBucket cap that drops
  * broadcast-channel buckets entirely.
  */
object BucketProbe {
  def main(args: Array[String]): Unit = {
    val hot = args.headOption.map(_.toInt).getOrElse(10000)
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/tmp/graft_bucket"
    // hot bucket: `hot` users all posting in (day 0, k 0)
    val hotRows = spark.range(hot).select(
      (col("id") + 10000000L).as("event_id"),
      (col("id") * 1000000L).as("ts"), // ns → all in day 0
      (col("id") + 100000L).as("user_id"),
      lit("chat").as("event_type"), lit(1.0).as("value"),
      lit("""{"k": 0}""").as("props"))
    // normal: 2000 users over 100 days × 10 keys, ~25 users/bucket
    val normal = spark.range(200000).select(
      col("id").as("event_id"),
      (pmod(col("id"), lit(100)) * 86400000L * 1000000L + col("id")).as("ts"),
      pmod(col("id") * 7L, lit(2000)).as("user_id"),
      lit("chat").as("event_type"), lit(1.0).as("value"),
      concat(lit("""{"k": """), pmod(col("id") * 13L, lit(10)), lit("}")).as("props"))
    hotRows.unionByName(normal).write.mode("overwrite").parquet(s"$dir/events.parquet")

    // min of 3: single interleaved runs swing ±5s on this fixture
    // (GC of the mega-arrays bleeds into whichever run follows)
    def time(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val (ts, n) = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = f.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }.unzip
      println(f"$name: min ${ts.min}%.2fs of ${ts.map(t => f"$t%.2f").mkString("/")} (${n.head} rows)")
    }
    time("warmup (capped)  ")(Messages.recipients(spark, dir, maxBucket = 1000))
    time("capped @1000     ")(Messages.recipients(spark, dir, maxBucket = 1000))
    time("default @10000   ")(Messages.recipients(spark, dir))
    time(s"uncapped ($hot-hot)")(Messages.recipients(spark, dir, maxBucket = Int.MaxValue))
    spark.stop()
  }
}

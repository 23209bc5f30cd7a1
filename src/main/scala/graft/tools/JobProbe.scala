package graft.tools

import graft.SparkEntry

/** Dev probe (r21): run one query warm, then once more under a job
  * listener — prints per-job durations, job count, summed job time vs
  * wall time (the gap is driver-side planning/codegen/broadcast
  * build). The bench's floor triage tool: a query whose wall is 3x
  * its job sum needs fewer actions/plan nodes, not faster tasks.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def force(q: String): Unit =
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    args.drop(1).foreach { q =>
      (1 to 2).foreach(_ => force(q)) // warm (indexes, codegen, caches)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.put(js.jobId, System.nanoTime()); ()
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.get(je.jobId)).foreach { t0 =>
            done.add((je.jobId, (System.nanoTime() - t0) / 1e9)); ()
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      force(q)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val ds = done.asScala.toSeq.sortBy(_._1)
      val sum = ds.map(_._2).sum
      println(f"PROFILE $q wall=$wall%.2fs jobs=${ds.size} jobSum=$sum%.2fs driverGap=${wall - sum}%.2fs")
      ds.filter(_._2 > 0.15).foreach { case (id, d) => println(f"    slow job $id: $d%.2fs") }
    }
    spark.stop()
  }
}

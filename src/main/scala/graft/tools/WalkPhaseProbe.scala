package graft.tools

import graft.Tables
import graft.operators.{CellProbe, KnnGraph, Vectors}
import org.apache.spark.sql.functions._

/** Dev probe (r21): where does q93's wall-clock go — the graph's
  * freshness check, entry scoring, per-hop expansion, final rank.
  * Mirrors graphWalkOn's structure step by step so each phase is
  * timed as its own action.
  */
object WalkPhaseProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime; val r = f
      println(f"$tag: ${(System.nanoTime - t0) / 1e9}%.2fs")
      r
    }
    val path = KnnGraph.graphPath(spark, dir)
    t("ensure (build if stale)")(KnnGraph.graph().ensure(spark, dir, path))
    t("freshness re-check")(KnnGraph.graph().fresh(spark, dir, path))
    // one full gate run, warm
    t("q93 full (warm 1)")(KnnGraph.graphWalkGate(spark, dir)
      .write.format("noop").mode("overwrite").save())
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.put(js.jobId, (System.nanoTime(),
          String.valueOf(js.properties.getProperty("spark.job.description"))))
        ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, d) =>
          done.synchronized { done += ((je.jobId, (System.nanoTime() - t0) / 1e9, d)); () }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    t("q93 full (warm 2)")(KnnGraph.graphWalkGate(spark, dir)
      .write.format("noop").mode("overwrite").save())
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    done.sortBy(_._1).foreach { case (id, dur, d) =>
      println(f"  job $id%3d ${dur}%6.2fs  ${d.take(90)}") }
    // phases
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("q_id"), col("embedding").as("q_emb"))
    val cents = spark.read.parquet(s"$path/centroids")
    val lists = t("cents.count")(cents.count()).toInt
    val cellsDf = spark.read.parquet(s"$path/cells")
    t("cells.count")(cellsDf.count())
    val wholeEdges = t("wholeEdges persist+count") {
      val w = spark.read.parquet(s"$path/edges").select(col("src"), col("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      w.count(); w
    }
    val q = queries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("q.count")(q.count())
    val qCells = t("assignCells plan")(Vectors.assignCells(
        q.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
        cents, nProbe = 1, nCoarse = Vectors.autoCoarse(lists))
      .select(col("vec_id").as("q_id"), col("cell")))
    t("qCells.count")(qCells.count())
    def score(nodes: org.apache.spark.sql.DataFrame) = nodes
      .join(e.select(col("vec_id").as("node"), col("embedding")), "node")
      .join(broadcast(q), "q_id")
      .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6))
      .select("q_id", "node", "sim")
    val cellEntries = qCells.join(cellsDf, "cell")
      .select(col("q_id"), col("vec_id").as("node"))
    val entries = score(cellEntries).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("entries score+count")(entries.count())
    var latest = entries
    var visited = entries
    for (hop <- 1 to 3) {
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("node"))
      val frontier = latest.withColumn("rk", row_number().over(wb))
        .filter(col("rk") <= 8).select("q_id", "node")
      val expand = frontier.join(wholeEdges, frontier("node") === wholeEdges("src"))
        .select(col("q_id"), col("dst").as("node")).distinct()
        .join(visited.select("q_id", "node"), Seq("q_id", "node"), "left_anti")
      val fresh = score(expand).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t(s"hop $hop score+count")(fresh.count())
      visited = visited.union(fresh)
      latest = fresh
    }
    t("final rank + noop") {
      CellProbe.topK(visited, "q_id", "sim", "node", 10)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}

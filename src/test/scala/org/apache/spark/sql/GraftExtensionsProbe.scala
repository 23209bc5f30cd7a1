package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test-only probe in the spark.sql package: a second SparkSession
  * with different extensions can't be created in the shared test JVM
  * (getOrCreate returns the existing one), so verify the extension's
  * injection against a registry directly via the private[sql] hook —
  * the same call `SparkSession.applyExtensions` makes at build time.
  */
object GraftExtensionsProbe {
  def injectedNames(): Seq[String] =
    injected(Seq("cosine_sim", "minhash", "simhash", "fingerprint64", "intersect_count_sorted", "shingles"))

  /** The subset of `names` the extension injects into a builtin registry. */
  def injected(names: Seq[String]): Seq[String] = {
    val ext = new SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val registry = FunctionRegistry.builtin.clone()
    ext.registerFunctions(registry)
    names.filter(n => registry.functionExists(FunctionIdentifier(n)))
  }
}

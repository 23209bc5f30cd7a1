package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point: injects every entry of
  * `functions.GraftFunctions.table` at session build time, so a
  * cluster enables the whole library surface with
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (SQL, views and thrift-server users see the functions too).
  * `GraftSession.builder` sets this conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.GraftFunctions.table.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
}

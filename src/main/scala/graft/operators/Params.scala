package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Request parameters as data. */
object Params {

  /** `df` with one more column per field of `ddl` (e.g. `"p_vec BIGINT,
    * p_src STRING"`), holding `values` in order: a one-row
    * `LocalRelation` cross-joined with its row replicated to every task
    * of `df`'s scan. A filter on the parameters becomes the join
    * condition. `null` is a legal value (an absent optional parameter).
    *
    * Request scalars travel in a relation, not as literals, because
    * whole-stage codegen inlines a primitive literal into the generated
    * Java: every new value is a new class to compile (about 3 per call
    * on a filter/top-k shape), while a value read from a joined row
    * leaves the generated code, and its codegen cache entry, unchanged
    * across requests. A literal projected over `range` compiles too, so
    * the carrier has to be a local relation. Values the plan does not
    * codegen, such as a `limit`, can stay literal.
    *
    * The row is replicated (`shuffle_replicate_nl`: a cartesian product
    * whose one-row side is computed inside each task) rather than
    * broadcast: a broadcast collects its side in a Spark job of its
    * own before the scan starts, one more job per request.
    */
  def withParams(df: DataFrame, ddl: String, values: Any*): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    require(schema.length == values.length,
      s"${values.length} values for the ${schema.length} parameters of '$ddl'")
    val params = df.sparkSession.createDataFrame(java.util.List.of(Row.fromSeq(values)), schema)
    df.crossJoin(params.hint("shuffle_replicate_nl"))
  }
}

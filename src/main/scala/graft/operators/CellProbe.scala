package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The cell probe every IVF read path runs — the search half of the
  * reference's index surface (vector_store.py:105-302
  * `create_hnsw_index`, `similarity_search` with top-k), stated once.
  * The cell layout is reference-point pruning (REPOSE, ICDE 2021): a
  * query ranks the cells, opens only the inverted lists of the best
  * ones, and ranks the candidates found there. Three steps:
  *
  *   1. [[rank]]: per query, the top-`nProbe` cells by a score, the
  *      lower cell id first on ties;
  *   2. [[read]]: the probe rows collected ONCE and handed back as a
  *      local relation, and the cell-partitioned store filtered by a
  *      static `isin` over the probed cells on its partition column.
  *      Knowing which lists to open is the index-probe contract: the
  *      probe set is bounded by the request (queries × nProbe rows),
  *      Spark needs concrete values at plan time to prune partitions,
  *      and the probe side then joins as a small broadcast relation
  *      instead of re-running the ranking inside the candidate query.
  *      A probe set that grows with the corpus (q62b's anchors) joins
  *      the store unpruned instead;
  *   3. [[topK]]: `row_number` top-k per key with an id tie-break,
  *      best score first, ascending or descending.
  *
  * Every step is deterministic under any partitioning: ties always
  * break on a unique id. Request scalars (`k`, `nProbe`, the query
  * count) stay literals: a `rk <= k` filter directly over the window
  * is what Spark plans as a `WindowGroupLimit`, and a literal
  * `vec_id < n` pushes into the scan. [[graft.operators.Params]] would
  * keep the generated code fixed across values, but no caller varies
  * them.
  */
object CellProbe {

  /** Step 1: per `key`, the `nProbe` rows of `pairs` (queries paired
    * with candidate cells) with the highest `score`, the lower `cell`
    * first on ties. The score is kept as `csim`, the rank as `rk`.
    */
  def rank(pairs: DataFrame, key: String, cell: String, score: Column, nProbe: Int): DataFrame =
    topK(pairs.withColumn("csim", score), key, "csim", cell, nProbe)

  /** Step 2: `probes` collected once, returned as a local relation,
    * and `store` pruned to the distinct `probes(cell)` values by a
    * static `isin` on its partition column `part`.
    */
  def read(probes: DataFrame, cell: String, store: DataFrame, part: String): (DataFrame, DataFrame) = {
    val rows = probes.collect()
    val cells = rows.map(_.getAs[Any](cell)).distinct.toSeq
    (probes.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), probes.schema),
      store.filter(col(part).isin(cells: _*)))
  }

  /** Step 3: per `key`, the `k` rows with the best `score` — the
    * highest, or the lowest when `ascending` — the lower `id` first on
    * ties, numbered from 1 in `rk`.
    */
  def topK(df: DataFrame, key: String, score: String, id: String, k: Int,
           ascending: Boolean = false): DataFrame = {
    val order = if (ascending) col(score).asc else col(score).desc
    df.withColumn("rk", row_number().over(Window.partitionBy(key).orderBy(order, col(id))))
      .filter(col("rk") <= k)
  }
}

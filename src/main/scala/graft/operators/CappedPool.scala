package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The lowest-id bucket cap behind the LSH, SimHash, MinHash and
  * SemDeDup pair generators (C3, C5, C10, `knn_graph`,
  * `pipeline_semdedup`): each key group keeps only its `cap` lowest ids
  * as the pool that candidates are compared against.
  *
  * Contract:
  *   - the rank is `row_number` ordered by id, so it is deterministic,
  *     and each oracle mirrors it with the same window in SQL;
  *   - a pair `a < b` survives iff `a` ranks ≤ `cap` in some key the two
  *     share: within one key `b` in the pool implies `a` in the pool, so
  *     pooling the lower side loses nothing;
  *   - candidate volume is at most n·tables·cap, whatever the skew.
  *     Uncapped it is Σ|bucket|², and one hot bucket owns one task.
  *
  * Pairs lost to the cap are mass near-dup families, the exact-collapse
  * tier's regime. The cap never binds at the oracle-gate scales
  * (CappedPoolSpec pins it where it does). Measurements:
  * `bench/dedup_cap_probe.json`, SURVEY.md, OPTIMIZATION_r10.md.
  */
object CappedPool {

  /** The rows of `rows` whose `id` ranks ≤ `cap` in their `keys` group. */
  def lowest(rows: DataFrame, keys: Seq[String], id: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(id))
    rows.withColumn("prn", row_number().over(w))
      .filter(col("prn") <= cap)
      .drop("prn")
  }

  /** One `(tbl, key, pool)` row per `(tbl, key)`: the capped pool packed
    * into an array of `struct(id, members…, poolmask)`, so a probe row
    * meets its whole pool in one 1:1 join and a pool-matching expression
    * loops the members in-task. Bit `t` of a member's `poolmask` is set
    * iff the id is inside table `t`'s pool (of whatever key it has
    * there), which lets the expression emit a pair once, at its first
    * shared pooled table: no distinct and no duplicate scoring.
    *
    * The pooled rows are materialized once (eager `localCheckpoint`):
    * they feed both the mask aggregate and the packing, and unmaterialized
    * the window would execute twice. The mask is one row per id and is
    * broadcast back, so the vector-carrying pooled rows cross no second
    * exchange; the packing reuses the window's `(tbl, key)` exchange.
    */
  def packed(rows: DataFrame, key: String, id: String, cap: Int,
      members: Column*): DataFrame = {
    val pooled = lowest(rows, Seq("tbl", key), id, cap).localCheckpoint(true)
    val mask = pooled.groupBy(col(id))
      .agg(bit_or(expr("shiftleft(1L, tbl)")).as("poolmask"))
    pooled.join(broadcast(mask), Seq(id))
      .groupBy(col("tbl"), col(key))
      .agg(collect_list(struct(
        (col(id).as("id") +: members :+ col("poolmask")): _*)).as("pool"))
  }
}

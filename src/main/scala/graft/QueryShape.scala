package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Plan-shape helpers shared across the query suites. */
object QueryShape {

  /** Global sort with a materialization barrier.
    *
    * A bare `orderBy` range-partitions, and the RangePartitioner's
    * sampling pass executes the sort's entire child subtree a second
    * time — for an expensive upstream (LSH pipelines, pair verifies)
    * that doubles the query. Hash-shuffling the (narrow) result first
    * makes the sampling pass read materialized shuffle files instead:
    * one extra cheap shuffle buys back the full recompute (measured
    * ~2× on the dedup suite at sf0.1).
    */
  def stagedSort(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(cols.head).orderBy(cols: _*)

  /** Rows up to which a side of known size is broadcast; past it the
    * shuffle join is the honest plan on a real cluster.
    */
  val BroadcastRowLimit: Long = 1L << 18

  /** `quantity / perBucket` buckets, clamped to [8, 512]: 8 keeps the
    * small scales' layout, 512 bounds the file and task count.
    */
  def bucketCount(quantity: Long, perBucket: Long): Int =
    math.max(8L, math.min(512L, quantity / perBucket)).toInt
}

package graft.operators

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Every pair of rows whose ids are at most `maxOff` apart, handed to a
  * per-partition function without ever becoming a shuffled row: the
  * skeleton of the exact bounded-offset near-dup tier (C4/C8, C14, C15).
  *
  * Ids fall into 2¹⁴-id buckets, and each bucket's first `maxOff` ids
  * are copied, flagged, into the previous bucket, so every in-window
  * pair is adjacent in one bucket sorted by id: one exchange moves each
  * payload once (the copies are `maxOff` in 2¹⁴ rows). `mapPartitions`
  * is the tool because no join or window composition expresses "every
  * match within a bounded sort distance" without exchanging
  * payload-wide pair rows. Measurements: OPTIMIZATION_r10.md, OPTIMIZATION_r11.md.
  */
object BoundedOffsetPairs {

  private val B: Long = 1L << 14

  /** `doc_id`'s bucket among `width`-id ranges, by integral division:
    * exact at any id, where a double division rounds ids above 2⁵³.
    */
  private[graft] def idBucket(width: Long): Column = expr(s"doc_id DIV $width")

  /** Applies `pairs` to each partition's in-window pairs
    * `(id_a, p_a, id_b, p_b)` with `id_a < id_b ≤ id_a + maxOff`; each
    * such pair of the frame's ids occurs exactly once over all
    * partitions.
    *
    * `frame` holds distinct non-negative `doc_id`s and the payload
    * columns. One payload column decodes as `P`; several decode as the
    * tuple `P`, and they cross the exchange as flat columns, packed into
    * one struct only after the sort.
    */
  def apply[P: TypeTag, U: Encoder](frame: DataFrame, maxOff: Int)(
      pairs: Iterator[(Long, P, Long, P)] => Iterator[U]): Dataset[U] = {
    val payload = frame.columns.toSeq.filter(_ != "doc_id").map(col)
    val keyed = frame.withColumn("bk", idBucket(B)).withColumn("cp", lit(false))
    val lookahead = keyed
      .filter(pmod(col("doc_id"), lit(B)) < maxOff && col("bk") > 0)
      .withColumn("bk", col("bk") - 1)
      .withColumn("cp", lit(true))
    val packed = if (payload.size == 1) payload.head else struct(payload: _*)
    keyed.unionByName(lookahead)
      .select(col("bk") +: col("doc_id") +: payload :+ col("cp"): _*)
      .repartition(col("bk"))
      .sortWithinPartitions(col("bk"), col("doc_id"))
      .select(col("bk"), col("doc_id"), packed, col("cp"))
      .as(Encoders.product[(Long, Long, P, Boolean)])
      .mapPartitions(rows => pairs(window(rows, maxOff)))
  }

  /** Pairs each row of a (bk, doc_id)-sorted partition with the rows
    * before it in its bucket at most `maxOff` ids back. The buffer
    * holds at most `maxOff` rows, so per-task memory is `maxOff`
    * payloads. A lookahead copy enters the buffer but never plays
    * `id_a`: that pair belongs to the copy's own bucket.
    */
  private def window[P](rows: Iterator[(Long, Long, P, Boolean)],
      maxOff: Int): Iterator[(Long, P, Long, P)] = {
    val buf = mutable.ArrayDeque.empty[(Long, Long, P, Boolean)]
    rows.flatMap { case cur @ (bk, id, p, _) =>
      while (buf.nonEmpty &&
        (buf.head._1 != bk || buf.head._2 < id - maxOff)) buf.removeHead()
      val out = buf.iterator
        .collect { case (_, idA, pA, false) => (idA, pA, id, p) }.toList
      buf.append(cur)
      out
    }
  }

  /** Size of the intersection of two ascending, distinct arrays. */
  def intersectCount(x: Array[Long], y: Array[Long]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    c
  }
}

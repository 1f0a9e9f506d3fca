package graft

import graft.operators.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B for the IVF nearest-centroid assignment at 10⁶ vectors: the
  * window-argmin path (explodes n·k rows and shuffles them by vector
  * id) vs the shuffle-free array_min argmin (centroids ride as one
  * broadcast array row). Run:
  *
  *   sbt "Test/runMain graft.AnnAssignBench"
  *
  * Both paths produce identical assignments (asserted); wall seconds
  * per trial printed for each.
  */
object AnnAssignBench {
  private val dim = 16
  private def kOf(args: Array[String]): Int =
    if (args.nonEmpty) args(0).toInt else 8

  /** The pre-r4 window-argmin assignment, kept verbatim for the A/B. */
  private def assignWindow(df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import graft.VectorOps
    def dist2(v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      VectorOps.dot(v, v) - lit(2.0) * VectorOps.dot(v, c) + VectorOps.dot(c, c)
    val w = Window.partitionBy(col(idCol)).orderBy(col("dist2"), col("cid"))
    df.crossJoin(broadcast(centroids))
      .withColumn("dist2", dist2(col(vecCol), col("cv")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col(idCol), col(vecCol), col("cid"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[8]", "ann-assign-bench")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val k = kOf(args)
    println(s"k=$k")

    val n = 1000000L
    val e = spark.range(n).select(col("id").as("vec_id"), expr(
      s"""transform(sequence(0, ${dim - 1}), d ->
         | CAST((1103 * ((id % 8) * $dim + d) + 12289) % 8191 - 4095 AS DOUBLE) / 819.1D
         | + CAST((2971 * (id * $dim + d) + 331) % 997 - 498 AS DOUBLE) / 9970.0D
         |)""".stripMargin).as("v"))
      .localCheckpoint(true) // materialize once; measure assignment only
    val sample = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(5000)
    val cent = IvfIndex.trainCentroids(sample, "vec_id", "v", k, iters = 3)

    def time(tag: String)(mk: => DataFrame): Unit =
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val cnt = mk.groupBy(col("cid")).count().collect().map(_.getLong(1)).sum
        println(f"[$tag] trial $i: ${(System.nanoTime() - t0) / 1e9}%.2f s (n=$cnt)")
      }
    time("argmin")(IvfIndex.assignOne(e, cent, "vec_id", "v"))
    time("window")(assignWindow(e, cent, "vec_id", "v"))
    // identical assignments (same distance arithmetic + tiebreak)
    val diff = IvfIndex.assignOne(e, cent, "vec_id", "v").select("vec_id", "cid")
      .except(assignWindow(e, cent, "vec_id", "v").select("vec_id", "cid")).count()
    println(s"assignment diff rows: $diff")
    assert(diff == 0L)
    spark.stop()
  }
}

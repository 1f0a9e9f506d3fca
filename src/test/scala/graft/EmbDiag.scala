package graft

import org.apache.spark.sql.functions._

/** Throwaway phase timer for dedup_embedding's decade-4 shape:
  *   Test/runMain graft.EmbDiag <sfDir>
  * Times each pipeline phase by materializing it (count), so the
  * dominant stage is visible instead of inferred.
  */
object EmbDiag {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.expressions.Window

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[embdiag] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }

    val tables = 8
    val n = Tables.load(spark, dir, "embeddings").count()
    val bits = graft.operators.RandomHyperplaneLsh.adaptiveBits(n)
    println(s"[embdiag] n=$n bits=$bits")

    val e = timed("collapse") {
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
        .select(col("vec_id"), col("v"))
        .localCheckpoint(true)
    }
    timed("full nearDupPairs (canonical emission) -> noop write") {
      graft.operators.RandomHyperplaneLsh
        .nearDupPairs(e, "vec_id", "v", threshold = 0.3, tables = tables,
          bits = bits, dim = 64, bucketCap = 256)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._

/** Ad-hoc phase profiler for knn_hnsw at an arbitrary SF dir:
  * times corpus load, index build (via a search with 0 queries is not
  * possible — so times full search and its pieces separately).
  *   sbt "Test/runMain graft.HnswProbe target/sf1"
  */
object HnswProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val all = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d -> element_at(v, d + 1) +
          | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
          |   / 8191.0D)""".stripMargin).as("v"))
    t("materialize corpus")(all.write.format("noop").mode("overwrite").save())
    val q = all.filter(col("vec_id") <= 10)
    val res = t("HnswLite.search total") {
      val r = graft.operators.HnswLite.search(all, q, "vec_id", "v", k = 3)
      r.write.format("noop").mode("overwrite").save(); r
    }
    // second run: localCheckpoints inside search are rebuilt — shows
    // whether repeated builds dominate
    t("HnswLite.search again") {
      graft.operators.HnswLite.search(all, q, "vec_id", "v", k = 3)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}

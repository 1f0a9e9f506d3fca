package graft

/** Ad-hoc profiler: `runMain graft.Profile <sfDir> <query...>`.
  * Runs each named query once warm (sf0.001) then 3 timed trials
  * through a noop sink (full materialization — `.count()` lets
  * Catalyst prune the work under test), printing median [min..max].
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_cluster")
    val spark = Graft.session("local[32]", "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    def exhaust(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      exhaust(fn(spark, "/root/testdata/sf0.001")) // warm
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        exhaust(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[profile] $n%-24s median ${times(1)}%8.2f s  [${times.head}%.2f..${times.last}%.2f]")
    }
    spark.stop()
  }
}

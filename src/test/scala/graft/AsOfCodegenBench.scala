package graft

import graft.plans.AsOfJoin
import org.apache.spark.sql.functions._

/** Targeted A/B for the AsOfJoinExec merge loop at a row count where
  * the merge dominates the shuffle (the sf0.1 bench queries are too
  * small to separate the paths from exchange noise). Run both sides:
  *
  *   sbt "Test/runMain graft.AsOfCodegenBench"                    # codegen
  *   GRAFT_ASOF_INTERPRETED=1 sbt "Test/runMain graft.AsOfCodegenBench"
  *
  * Prints per-trial wall seconds for a 20M-left x 10M-right as-of
  * (1000 keys) whose output feeds a fused aggregate.
  */
object AsOfCodegenBench {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[8]", "asof-codegen-bench")
    spark.sparkContext.setLogLevel("WARN")

    val nLeft = 20000000L
    val nRight = 10000000L
    val keys = 1000L
    val left = spark.range(nLeft).select(
      (col("id") % keys).as("key"),
      (col("id") / keys).as("t"),
      (col("id") * 3).as("lv"))
    val right = spark.range(nRight).select(
      (col("id") % keys).as("key"),
      ((col("id") / keys) * 2).as("t"),
      (col("id") + 7).as("rv"))

    val mode = if (sys.env.contains("GRAFT_ASOF_INTERPRETED")) "interpreted"
      else "codegen"
    val trials = (1 to 4).map { i =>
      val t0 = System.nanoTime()
      val out = AsOfJoin.join(left, right, "key", "t", "key", "t")
        .agg(sum(col("rv")).as("s"), count(lit(1)).as("n"))
        .collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[$mode] trial $i: $sec%.2f s  (n=${out.head.getLong(1)})")
      sec
    }
    println(f"[$mode] median: ${trials.sorted.apply(trials.size / 2)}%.2f s")
    spark.stop()
  }
}

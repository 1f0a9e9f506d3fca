package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The curation registry keys, run in sequence over the generated
  * `documents` and `embeddings` tables. Each key's output goes to
  * parquet, as `graft.Verify` writes it; every pass must reproduce
  * the first pass's output exactly, and the last pass's files are what
  * the oracle check compares.
  */
final class Curate(spark: SparkSession, inputs: String, p: Map[String, Int], work: String)
    extends Workload {
  import Curate._
  private val docs = p("docs")
  private val outputs = scala.collection.mutable.HashMap.empty[String, (Long, Long)]

  val opSpans: Seq[String] = Keys.map(k => s"key.$k")
  def unitsPerEpisode: Long = docs.toLong
  override def oracleSql: Map[String, String] = Keys.map(k => k -> SparkEntry.oracleSql(k)).toMap

  def prepare(): Unit = Seq("documents" -> docs, "embeddings" -> p("vectors")).foreach {
    case (table, want) =>
      val n = spark.read.parquet(s"$inputs/$table.parquet").count()
      require(n == want, s"expected $want rows in $table, read $n")
  }

  def episode(sp: Spans, gate: Gate): Unit = Keys.foreach { key =>
    val out = s"$work/curate/$key"
    sp(s"key.$key")(SparkEntry.queries(key)(spark, inputs).write.mode("overwrite").parquet(out))
    val written = spark.read.parquet(out)
    val digest = written.select(count(lit(1)),
      coalesce(sum(pmod(xxhash64(written.columns.map(col).toIndexedSeq: _*), lit(Int.MaxValue.toLong))), lit(0L))).head()
    val got = (digest.getLong(0), digest.getLong(1))
    sp.note("rows_out", got._1)
    gate.check(s"key.$key", outputs.getOrElseUpdate(key, got) == got)
  }
}

object Curate {
  val Keys: Seq[String] = Seq("pipeline_curate", "dedup_minhash_est", "dedup_lsh_sweep", "knn_graph")
}

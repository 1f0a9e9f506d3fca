package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Overflow guard for the deterministic-hash query family (the r8 sf10
  * probe's finding): every query that hashes an entity key with
  * squared-key arithmetic must survive keys at 10-digit magnitude —
  * sf10's shifted keys reach 9.9×10⁹, where a raw k·k exceeds 2⁶³ and
  * ANSI mode (Spark 4 default) throws ARITHMETIC_OVERFLOW instead of
  * wrapping. The fix pattern under test: reduce keys mod M BEFORE
  * squaring ((k² mod M) = ((k mod M)² mod M), so results are
  * unchanged), and compute cubic count terms (Welch df) in double.
  *
  * The spec materializes sf0.001 with every entity key shifted by
  * 9.9×10⁹ and runs the five queries the probe caught (or nearly
  * caught: the two sketches failed the same way when the probe reached
  * them) end-to-end. A regression reintroducing unreduced key algebra
  * fails here with the exact production exception, years of SF before
  * any corpus does.
  */
class KeyMagnitudeSpec extends SparkSpec {

  private val Shift = 9900000000L

  private lazy val bigKeyDir: String = {
    val out = Files.createTempDirectory("graft_bigkey").toString
    val shifted: Map[String, Seq[String]] = Map(
      "documents" -> Seq("doc_id"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "events" -> Seq("event_id", "user_id"),
      "customer" -> Seq("c_custkey"))
    shifted.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + Shift))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    out
  }

  private val guarded =
    Seq("pipeline_split", "q70_ab_ttest", "q89_bootstrap",
      "sketch_bottomk_sample", "sketch_kmv_intersect")

  guarded.foreach { name =>
    test(s"$name survives 10-digit entity keys (ANSI, no overflow)") {
      val rows = SparkEntry.queries(name)(spark, bigKeyDir).collect()
      assert(rows.nonEmpty, s"$name returned no rows on the shifted corpus")
    }
  }

  test("mod-M reduction is value-preserving: shifted-key split hash = raw hash mod M") {
    // the algebraic identity the fixes rely on, checked numerically at
    // the magnitude where the raw form overflows: compute pipeline_split's
    // hash via BigInt (no overflow) and via the shipped mod-M expression.
    val M = 1000003L
    val ids = Seq(9900004999L, 9900000000L, 1234567891L, 42L)
    ids.foreach { id =>
      val raw = ((BigInt(id) * BigInt(id) % M) * 7919 + BigInt(id) * 104729 + 12345) % M
      val dm = id % M
      val reduced = (((dm * dm) % M) * 7919L + dm * 104729L + 12345L) % M
      assert(BigInt(reduced) == raw, s"id=$id: $reduced != $raw")
    }
  }

  test("id buckets are exact above 2^53: 2^53 + 16383 sits in bucket 2^39, offset 16383") {
    // as a double, 2^53 + 16383 rounds up to 2^53 + 16384, so a
    // floating-point division puts the id one bucket too far
    val B = 1L << 14
    val id = (1L << 53) + 16383L
    val row = spark.range(1).select(lit(id).as("doc_id"))
      .select(graft.operators.BoundedOffsetPairs.idBucket(B), pmod(col("doc_id"), lit(B)))
      .head()
    assert(row.getLong(0) == (1L << 39))
    assert(row.getLong(1) == 16383L)
  }

  test("bounded-offset pairs straddling 2^53 + 16384 stay in one bucket") {
    // 2^53 + 16382 and 2^53 + 16383 are one id apart in bucket 2^39; a
    // bucket id one too high for the second id drops the pair
    val base = (1L << 53) + 16382L
    val dir = Files.createTempDirectory("graft_bucket53").toString
    import spark.implicits._
    Seq((base, "the same short text"), (base + 1, "the same short text"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val pairs = DedupQueries.boundedOffsetIntersects(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((base, base + 1)))
  }
}

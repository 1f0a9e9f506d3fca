package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall-vs-cap curves for the dedup tier's bounded pools (VERDICT
  * r8 ask #9: the 256 constants were proven safe at sf10 by wall
  * clock, but the recall they trade was never recorded — this makes
  * the number evidence). Three cap-bearing ops at native-cardinality
  * sf1:
  *   - C3 simhash: 256-lowest-id pool per Manku piece-pair key
  *     ([[DedupQueries.simhashNearDupPairs]]);
  *   - C14 embedding: bucketCap pool per hyperplane bucket
  *     ([[graft.operators.RandomHyperplaneLsh.nearDupPairs]]);
  *   - C4 winnowing: absolute fingerprint df cap
  *     ([[DedupQueries.winnowingPairs]]).
  * For the pooled ops the candidate set is MONOTONE in the cap, so
  * recall is measured against the largest probed cap, and the curve
  * converging (pairs(c) == pairs(2c)) certifies that reference as
  * effectively uncapped. Winnowing's cap is a stop-list bound, also
  * monotone in candidate coverage.
  *
  *   sbt "Test/runMain graft.DedupCapProbe target/sf1"
  */
object DedupCapProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf1")
    val caps = Seq(16, 32, 64, 128, 256, 512, 1024)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")

    def curve(name: String, pairsOf: Int => DataFrame): Seq[(Int, Long, Double)] = {
      val results = caps.map { c =>
        val t0 = System.nanoTime()
        val p = pairsOf(c).select("id_a", "id_b").localCheckpoint(true)
        val n = p.count()
        val secs = (System.nanoTime() - t0) / 1e9
        (c, p, n, secs)
      }
      val (refCap, refPairs, refN, _) = results.last
      val out = results.map { case (c, p, n, secs) =>
        val hit = p.join(refPairs, Seq("id_a", "id_b")).count()
        val recall = if (refN == 0) 1.0 else hit.toDouble / refN
        println(f"[capprobe] $name cap=$c%5d: $n%8d pairs, " +
          f"recall vs cap=$refCap ${recall}%.4f, $secs%6.1f s")
        (c, n, recall)
      }
      val (pc, pn, _) = out(out.length - 2)
      if (pn == refN)
        println(s"[capprobe] $name converged at cap=$pc (== cap=$refCap) — reference is effectively uncapped")
      out
    }

    // C3 simhash
    val sigs = DedupQueries.simhashSigs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    curve("simhash", c => DedupQueries.simhashNearDupPairs(sigs, c))
    sigs.unpersist(false)

    // C14 embedding near-dup
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    curve("embedding", c => graft.operators.RandomHyperplaneLsh
      .nearDupPairs(e, "vec_id", "v", threshold = 0.3, tables = 8, bits = 8,
        dim = 64, bucketCap = c))
    e.unpersist(false)

    // C4 winnowing (df stop-list cap; column names differ)
    val reps = Tables.load(spark, dir, "documents")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    reps.count()
    curve("winnowing", c => DedupQueries.winnowingPairs(reps, c)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
    reps.unpersist(false)

    spark.stop()
  }
}

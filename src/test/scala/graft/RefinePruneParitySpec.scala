package graft

import org.apache.spark.sql.functions._

/** The r11 dense-rank prune inside RandomHyperplaneLsh.refineOnce must
  * be LOSSLESS: a wedge triple with dense_rank > k over
  * (cos DESC, nid) has ≥ k distinct better-ranked scored candidates,
  * all present in the merged list, so it can never enter the final
  * top-k — and a pruned candidate that also lives in the base edge
  * list survives through the base side with the bit-identical cos.
  * This pins pruned == unpruned on real embeddings, two refine rounds
  * deep (the exact shape knn_graph runs).
  */
class RefinePruneParitySpec extends SparkSpec {

  test("refineOnce pruned == unpruned, two rounds (sf0.01)") {
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("v"))
    val base = graft.operators.RandomHyperplaneLsh
      .knnGraphEdges(e, "vec_id", "v", k = 3, tables = 4, bits = 8,
        dim = 64, bucketCap = 64)
      .localCheckpoint(true)

    // the single post-union distinct in refineOnce dedups (qid, nid)
    // only while both sides score a pair bit-identically: pin it
    def onePerPair(r: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val dups = r.groupBy(col("qid"), col("nid")).count()
        .filter(col("count") > 1).count()
      assert(dups == 0, s"$label: $dups (qid, nid) pairs repeat")
    }

    def rounds(prune: Boolean): Array[Seq[Any]] = {
      val r1 = graft.operators.RandomHyperplaneLsh
        .refineOnce(base, e, "vec_id", "v", k = 3, prune = prune)
        .localCheckpoint(true)
      onePerPair(r1, s"round 1, prune=$prune")
      val r2 = graft.operators.RandomHyperplaneLsh
        .refineOnce(r1, e, "vec_id", "v", k = 3, prune = prune)
        .localCheckpoint(true)
      onePerPair(r2, s"round 2, prune=$prune")
      r2.select(col("qid"), col("rn"), col("nid"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .orderBy(col("qid"), col("rn")).collect().map(_.toSeq)
    }

    val pruned = rounds(prune = true)
    val unpruned = rounds(prune = false)
    assert(pruned.length == unpruned.length)
    pruned.zip(unpruned).foreach { case (a, b) => assert(a == b) }
  }
}

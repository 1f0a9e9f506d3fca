package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ad-hoc cost/quality probe for knn_graph's bucketCap: at an SF where
  * buckets exceed the cap (sf1: ~780 avg occupancy per 8-bit table),
  * the cap bounds candidate volume (n·tables·cap) and therefore wall
  * clock — but also truncates each node's candidate pool. This
  * measures both sides: wall-clock of the capped graph AND recall@3
  * of its edges against exact brute-force top-3 on a deterministic
  * probe-node sample.
  * Configs are tables:cap[:bits[:refine]] tuples — bits 0 means
  * occupancy-targeted adaptiveBits(raw n), refine 1 adds one
  * NN-descent round (the r9 production shape is 8:128:0:1).
  *   sbt "Test/runMain graft.KnnGraphCapProbe target/sf1 8:128:8:0,8:128:0:1"
  */
object KnnGraphCapProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf1")
    val configs = args.lift(1).getOrElse("8:128:8:0,8:128:0:1")
      .split(",").map { s0 =>
        val parts = s0.split(":")
        (parts(0).toInt, parts(1).toInt,
          parts.lift(2).map(_.toInt).getOrElse(8),
          parts.lift(3).map(_.toInt).getOrElse(0))
      }
    val nProbe = args.lift(2).map(_.toInt).getOrElse(300)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")

    // the D23 frame: exact-vector collapse to distinct vectors
    val all = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("vkey", md5(to_json(struct(col("v")))))
    val reps = all.groupBy(col("vkey"))
      .agg(min(col("vec_id")).as("vec_id"))
    val distinctVecs = all.join(reps, Seq("vkey", "vec_id"))
      .select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = distinctVecs.count()
    println(s"[probe] distinct vectors: $n")

    // deterministic probe nodes + exact ground truth (brute force on
    // the probe slice only: nProbe × n cosines)
    val probes = distinctVecs
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nProbe)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true)
    val wE = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val exact = distinctVecs.select(col("vec_id").as("nid"), col("v").as("nv"))
      .crossJoin(broadcast(probes))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("nid"))
      .localCheckpoint(true)
    println(s"[probe] exact edges: ${exact.count()}")

    val rawN = Tables.load(spark, dir, "embeddings").count()
    configs.foreach { case (tables, cap, bits0, refine) =>
      val bits = if (bits0 == 0)
        graft.operators.RandomHyperplaneLsh.adaptiveBits(rawN) else bits0
      val t0 = System.nanoTime()
      val base = graft.operators.RandomHyperplaneLsh
        .knnGraphEdges(distinctVecs, "vec_id", "v", k = 3, tables = tables,
          bits = bits, dim = 64, bucketCap = cap)
      val g = (1 to refine).foldLeft(base)((e, _) =>
          graft.operators.RandomHyperplaneLsh
            .refineOnce(e, distinctVecs, "vec_id", "v", k = 3))
        .select(col("qid"), col("nid"))
        .localCheckpoint(true)
      val edges = g.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val hit = exact.join(g, Seq("qid", "nid")).count()
      val denom = exact.count()
      println(f"[probe] tables=$tables%2d cap=$cap%4d bits=$bits%2d " +
        f"refine=$refine: graph $secs%.1f s, " +
        f"$edges edges, recall@3 on $nProbe probes = " +
        f"${hit.toDouble / denom}%.4f ($hit/$denom)")
    }
    spark.stop()
  }
}

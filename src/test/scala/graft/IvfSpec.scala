package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/** Behavior proof for the trained IVF tier: deterministic k-means
  * recovers planted cluster structure, and the trained quantizer's
  * recall beats the seeded-centroid variant on clustered data (the
  * exact failure mode seeding has: centroids drawn where the ids
  * happen to fall, not where the density is).
  */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64

  private def prand(seed: Long): Double = {
    var x = seed * 6364136223846793005L + 1442695040888963407L
    x ^= x >>> 33; x *= -49064778989728563L; x ^= x >>> 33
    (x >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  private def randVec(seed: Long): Array[Double] =
    Array.tabulate(dim)(d => prand(seed * 131 + d))

  private def nearDup(base: Array[Double], seed: Long): Array[Double] =
    base.zipWithIndex.map { case (v, d) => v + 0.05 * prand(seed * 977 + d) }

  /** 8 well-separated clusters × 25 members, ids INTERLEAVED across
    * clusters (id % 8 = cluster) so low-id seeding can't accidentally
    * pick one vector per cluster... and then re-striped so consecutive
    * ids share a cluster — seeded centroids land in few clusters.
    */
  private def clustered: DataFrame = {
    val rows = for {
      c <- 0 until 8
      m <- 0 until 25
    } yield {
      val id = (c * 25 + m).toLong // consecutive ids = same cluster
      val center = randVec(c + 4000L)
      (id, if (m == 0) center else nearDup(center, id + 90000L))
    }
    rows.toDF("vec_id", "v")
  }

  private def recallAt5(e: DataFrame, centroids: DataFrame): Double = {
    val q = e.filter(col("vec_id") % 25 === 0) // one query per cluster
    val approx = IvfIndex.search(e, q, centroids, "vec_id", "v", nprobe = 1, k = 5)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val exact = e.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("qid", "nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, truth) =>
      truth.intersect(approx.getOrElse(qid, Set.empty)).size.toDouble / truth.size
    }
    recalls.sum / recalls.size
  }

  test("k-means training recovers planted clusters and balances lists vs seeding") {
    val e = clustered
    val trained = IvfIndex.trainCentroids(e, "vec_id", "v", k = 8, iters = 5)
    // seeded twin: D5's strategy — the first k corpus vectors, which
    // with consecutive-id clusters are 8 near-identical cluster-0
    // vectors. Whole clusters still co-assign (so recall alone can't
    // expose the degeneracy on planted data); what collapses is LIST
    // BALANCE — several clusters pile onto one noisy centroid — and
    // with it the probed fraction of the corpus, the quantity that
    // decides IVF search cost at 100 TB.
    val seeded = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    def listSizes(cent: org.apache.spark.sql.DataFrame): Seq[Long] =
      IvfIndex.assign(e, cent, "vec_id", "v", keep = 1)
        .groupBy(col("cid")).agg(count(lit(1)).as("n"))
        .select("n").as[Long].collect().toSeq
    val trainedSizes = listSizes(trained)
    val seededSizes = listSizes(seeded)
    // training separates the 8 planted clusters: every list ≈ one
    // cluster (≤ 2 merged at worst); seeding leaves a dominant list
    assert(trainedSizes.max <= 50,
      s"trained lists unbalanced: $trainedSizes")
    assert(trainedSizes.max < seededSizes.max,
      s"training must balance lists: trained=$trainedSizes seeded=$seededSizes")
    val rTrained = recallAt5(e, trained)
    assert(rTrained >= 0.85, s"trained recall@5 $rTrained < 0.85")
  }

  test("sampled Lloyd matches full-corpus quantizer quality at a fraction of the work") {
    // 8 planted clusters × 2500 members: full Lloyd assigns all 20k
    // rows per iteration; the sampled path iterates over a 1k xxhash
    // sample — 20× less per-iteration work, the 100 TB training shape
    // (SURVEY §7 / VERDICT r5 #10). Quality bar: mean quantization
    // error within 5% of the full-corpus quantizer and recall@5 parity.
    val rows = for {
      c <- 0 until 8
      m <- 0 until 2500
    } yield {
      val id = (c * 2500 + m).toLong
      val center = randVec(c + 4000L)
      (id, if (m == 0) center else nearDup(center, id + 90000L))
    }
    val e = rows.toDF("vec_id", "v").repartition(4).localCheckpoint(true)
    def qerr(cent: DataFrame): Double =
      IvfIndex.assign(e, cent, "vec_id", "v", keep = 1)
        .join(broadcast(cent), Seq("cid"))
        .select(avg(VectorOps.dot(col("v"), col("v"))
          - lit(2.0) * VectorOps.dot(col("v"), col("cv"))
          + VectorOps.dot(col("cv"), col("cv"))).as("e"))
        .as[Double].head()
    val t0 = System.nanoTime()
    val full = IvfIndex.trainCentroids(e, "vec_id", "v", k = 8, iters = 3)
    val tFull = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val sampled = IvfIndex.trainCentroidsSampled(e, "vec_id", "v",
      k = 8, iters = 3, sampleCap = 1000)
    val tSampled = (System.nanoTime() - t1) / 1e9
    val (ef, es) = (qerr(full), qerr(sampled))
    info(f"qerr full=$ef%.5f sampled=$es%.5f | train ${tFull}%.1f s vs ${tSampled}%.1f s")
    assert(es <= ef * 1.05,
      s"sampled quantizer degraded: $es vs full $ef")
    val r = recallAt5(e, sampled)
    assert(r >= 0.85, s"sampled-quantizer recall@5 $r < 0.85")
  }

  test("mini-batch Lloyd: full-Lloyd quality at a fraction of per-iteration cost") {
    // the k >> 16 path (VERDICT r7 #9): 32 planted clusters x 625
    // members. Full Lloyd assigns all 20k rows x 32 centroids per
    // iteration; each mini-batch round assigns only the ~1/16 hash
    // slice drawn fresh that round, so 5 rounds see ~6k distinct
    // vectors yet pay 16x less assignment work per iteration.
    val k = 32
    val rows = for {
      c <- 0 until k
      m <- 0 until 625
    } yield {
      val id = (c * 625 + m).toLong
      val center = randVec(c + 7000L)
      (id, if (m == 0) center else nearDup(center, id + 50000L))
    }
    val e = rows.toDF("vec_id", "v").repartition(4).localCheckpoint(true)
    def qerr(cent: DataFrame): Double =
      IvfIndex.assign(e, cent, "vec_id", "v", keep = 1)
        .join(broadcast(cent), Seq("cid"))
        .select(avg(VectorOps.dot(col("v"), col("v"))
          - lit(2.0) * VectorOps.dot(col("v"), col("cv"))
          + VectorOps.dot(col("cv"), col("cv"))).as("e"))
        .as[Double].head()
    val full = IvfIndex.trainCentroids(e, "vec_id", "v", k = k, iters = 3)
    val mb = IvfIndex.trainCentroidsMiniBatch(e, "vec_id", "v",
      k = k, iters = 5, batchDenom = 16)
    // per-iteration cost really is a fraction: the hash slice is ~n/16
    val batchN = e.filter(pmod(xxhash64(col("vec_id"), lit(1)), lit(16)) === 0).count()
    assert(batchN < e.count() / 8, s"batch $batchN not a fraction of ${e.count()}")
    val (ef, em) = (qerr(full), qerr(mb))
    info(f"qerr full=$ef%.5f minibatch=$em%.5f (batch/iter=$batchN rows)")
    assert(em <= ef * 1.05, s"mini-batch quantizer degraded: $em vs full $ef")
    val r = recallAt5(e, mb)
    assert(r >= 0.85, s"mini-batch-quantizer recall@5 $r < 0.85")
    // determinism: hash batches + fixed iteration count, no RNG
    val again = IvfIndex.trainCentroidsMiniBatch(e, "vec_id", "v",
      k = k, iters = 5, batchDenom = 16)
      .orderBy("cid").collect().map(r => r.getSeq[Double](1))
    mb.orderBy("cid").collect().map(r => r.getSeq[Double](1))
      .zip(again).foreach { case (v1, v2) =>
        v1.zip(v2).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
      }
  }

  test("training is deterministic across reruns") {
    val e = clustered
    val c1 = IvfIndex.trainCentroids(e, "vec_id", "v", k = 4, iters = 2)
      .orderBy("cid").collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val c2 = IvfIndex.trainCentroids(e, "vec_id", "v", k = 4, iters = 2)
      .orderBy("cid").collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(c1.map(_._1).sameElements(c2.map(_._1)))
    // float sums can reorder across partitions; allow 1e-9 slack
    c1.zip(c2).foreach { case ((_, v1), (_, v2)) =>
      v1.zip(v2).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("the broadcast argmin assigns every vector as the window argmin does, ties to the lower id") {
    // planted clusters plus 200 unclustered vectors; the centroids are
    // one member per cluster, and cid 1000 repeats cid 3's vector, a
    // tie the (distance, cid) order breaks toward cid 3
    val e = clustered.unionByName(
      (200L until 400L).map(i => (i, randVec(i + 7000L))).toDF("vec_id", "v"))
    val members = e.filter(col("vec_id") < 200 && col("vec_id") % 25 === 3)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val cent = members.unionByName(
      members.filter(col("cid") === 3).withColumn("cid", lit(1000L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val window = e.crossJoin(broadcast(cent))
      .withColumn("d2", VectorOps.dot(col("v"), col("v")) -
        lit(2.0) * VectorOps.dot(col("v"), col("cv")) + VectorOps.dot(col("cv"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val argmin = IvfIndex.assignOne(e, cent, "vec_id", "v")
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(argmin.size == 400)
    assert(argmin == window)
    assert(argmin(3L) == 3L && argmin.values.toSet.size > 2)
  }
}

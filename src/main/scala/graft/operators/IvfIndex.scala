package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.VectorOps

/** IVF (inverted-file) ANN index pieces: a k-means-trained coarse
  * quantizer plus the assign/probe joins.
  *
  * Training is classic Lloyd iteration in its distributed shape
  * (reference operates per-vector in Python; this is the
  * cluster-scale layout):
  *   - assignment: corpus ⨯ broadcast(centroids) + per-vector argmin —
  *     one scan per iteration, no corpus shuffle;
  *   - update: per-dimension mean via posexplode + two hash
  *     aggregations (map-side partials), producing k new centroids;
  *   - centroids (O(k·dim), independent of corpus size) are collected
  *     to the driver each iteration — the standard k-means
  *     synchronization point (Spark MLlib does the same), which also
  *     resets lineage so iterations don't stack plans.
  *
  * Determinism: init is farthest-point traversal from the min-xxhash
  * vector (no RNG state), iteration count is fixed (no convergence
  * RNG), and ties in assignment break on centroid id — reruns on the
  * same data give the same quantizer up to float-sum ordering in the
  * means.
  */
object IvfIndex {

  /** dist²(v, c) = v·v − 2 v·c + c·c over array<double> columns. */
  private def dist2(v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
    VectorOps.dot(v, v) - lit(2.0) * VectorOps.dot(v, c) + VectorOps.dot(c, c)

  /** Assign each row of `df` to its `keep` nearest centroids.
    * Output: (idCol, vecCol, cid), one row per (vector, kept centroid).
    * `keep = 1` takes [[assignOne]]'s shuffle-free argmin; `keep > 1`
    * (query probes — a small frame) explodes candidates through a
    * window rank.
    */
  def assign(df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, keep: Int): DataFrame =
    if (keep == 1) assignOne(df, centroids, idCol, vecCol)
    else {
      val w = Window.partitionBy(col(idCol)).orderBy(col("dist2"), col("cid"))
      df.crossJoin(broadcast(centroids))
        .withColumn("dist2", dist2(col(vecCol), col("cv")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= keep)
        .select(col(idCol), col(vecCol), col("cid"))
    }

  /** Nearest-centroid assignment with NO shuffle and NO row
    * amplification: centroids ride along as one broadcast array row
    * and each vector computes `array_min` over (dist², cid) structs —
    * struct ordering IS the (distance, centroid-id) tiebreak the
    * window path used. The n·k intermediate-row explode + hash
    * shuffle of the window argmin (the cost that shows at 10⁶ vectors
    * per Lloyd iteration / list build) disappears; IvfSpec checks that
    * both argmins assign alike. Measured (SURVEY.md, 10⁶×16d): k=8
    * parity locally (0.7 vs 0.6 s — the shuffle is memory-local on
    * one box), k=64 argmin 3.8 s vs window 4.7 s; on a cluster the eliminated shuffle is the
    * difference between k·corpus rows on the wire per Lloyd iteration
    * and none.
    */
  def assignOne(df: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // centroid norms (cc = cv·cv) precompute at pack time with the
    // same sequential-fold dot, so the native argmin's
    // (v·v − 2·v·cv) + cc is bit-identical to the old HOF d2 — the r8
    // probe measured the interpreted transform-lambda at ~18.7 s for
    // 25M (row × centroid) pairs vs one codegen'd loop (see
    // [[graft.functions.NearestCentroidsExpr]]).
    val cents = centroids
      .agg(collect_list(struct(col("cid"), col("cv"),
        graft.VectorOps.dot(col("cv"), col("cv")).as("cc"))).as("cents"))
    df.crossJoin(broadcast(cents))
      .withColumn("cid", element_at(GraftBridge.column(
        graft.functions.NearestCentroidsExpr(
          GraftBridge.expression(col(vecCol)),
          GraftBridge.expression(col("cents")), 1)), 1))
      .select(col(idCol), col(vecCol), col("cid"))
  }

  /** Deterministic farthest-point (k-center) init over a SAMPLE:
    * one distributed top-N-by-xxhash job collects a representative
    * sample (TakeOrdered — no full sort), then the k-1 farthest-point
    * picks run on the driver over sample×dim doubles. On well-
    * separated data every cluster gets exactly one seed, which is
    * what keeps Lloyd out of merge/split local optima (a pure hash
    * spread can drop 2+ seeds into one cluster and none into
    * another). One job regardless of k; at 100 TB a quantizer is
    * trained on a sample anyway (cluster structure, not the tail, is
    * what init needs). First centroid = the min-xxhash vector, then
    * repeatedly the sample vector farthest from all chosen (ties by
    * id ascending).
    */
  private def kCenterSeeds(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[Array[Double]] = {
    val sampleCap = math.max(64 * k, 512)
    val sample: Array[(Long, Array[Double])] =
      vectors.orderBy(xxhash64(col(idCol)), col(idCol))
        .limit(sampleCap)
        .select(col(idCol).cast("long"), col(vecCol))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
    val minD2 = sample.map(s => d2(s._2, sample.head._2))
    for (_ <- 1 until k) {
      var bi = 0
      var i = 1
      while (i < sample.length) {
        if (minD2(i) > minD2(bi) ||
          (minD2(i) == minD2(bi) && sample(i)._1 < sample(bi)._1)) bi = i
        i += 1
      }
      chosen += sample(bi)
      i = 0
      while (i < sample.length) {
        val d = d2(sample(i)._2, sample(bi)._2)
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
    }
    chosen.map(_._2).toSeq
  }

  /** Train k centroids with `iters` fixed Lloyd iterations over
    * `vectors` (pass a sample for huge corpora — quantizer quality
    * needs a representative sample, not the full 100 TB).
    * Returns (cid: long, cv: array<double>).
    */
  def trainCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    val centSchema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cv", ArrayType(DoubleType), nullable = false)))
    def materialize(df: DataFrame): DataFrame = {
      // k·dim doubles — tiny; driver round-trip is the Lloyd sync point
      val rows = df.orderBy(col("cid")).collect()
        .map(r => Row(r.getLong(0), r.getSeq[Double](1)))
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), centSchema)
    }

    var cent = materialize(
      spark.createDataFrame(
        java.util.Arrays.asList(
          kCenterSeeds(vectors, idCol, vecCol, k).zipWithIndex.map {
            case (v, i) => Row(i.toLong, v.toSeq) }: _*),
        centSchema))

    for (_ <- 1 to iters) {
      val assigned = assign(vectors, cent, idCol, vecCol, keep = 1)
      val means = assigned
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("mx"))
        .groupBy(col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s("mx")).as("mv"))
      // empty clusters keep their previous centroid
      val next = cent.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("mv"), col("cv")).as("cv"))
      cent = materialize(next)
    }
    cent
  }

  /** SAMPLED Lloyd (VERDICT r5 #10 / SURVEY §7): every iteration of
    * [[trainCentroids]] assigns the FULL corpus — n·k·dim multiplies
    * per iteration, which is the remaining ANN training cost at 100 TB
    * where n is the corpus. A quantizer doesn't need the tail: train
    * on a deterministic xxhash top-`sampleCap` sample (same ordering
    * the k-center init already uses, so the sample is shared), then
    * the one full-corpus pass left is the final list ASSIGNMENT the
    * index build pays anyway. Per-iteration cost drops n/sampleCap ×;
    * IvfSpec pins quality (quantization error within 5% of full-corpus
    * Lloyd on planted clusters) and exact determinism (no RNG).
    */
  def trainCentroidsSampled(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, sampleCap: Int): DataFrame = {
    val sample = vectors
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleCap)
      .select(col(idCol), col(vecCol))
      .localCheckpoint(true) // pin: every Lloyd iteration re-reads it
    trainCentroids(sample, idCol, vecCol, k, iters)
  }

  /** MINI-BATCH Lloyd (the web-scale k-means update of Sculley 2010,
    * in its distributed shape) — the k ≫ 16 training path. Where
    * [[trainCentroidsSampled]] iterates over one FIXED sample (quality
    * capped by what that one sample saw), each mini-batch iteration
    * draws a FRESH deterministic batch — the rows with
    * `xxhash64(id, t) ≡ 0 (mod batchDenom)` — so over `iters` rounds
    * the trainer sees ~iters·n/batchDenom distinct vectors while each
    * round pays only (n/batchDenom)·k·dim assignment multiplies plus
    * one cheap full-scan hash filter (no sort, no shuffle of the
    * corpus).
    *
    * Update rule: per-center count-weighted merge. With cumulative
    * count N_c and a batch contributing b_c rows with mean m_c,
    * c ← c + (b_c / (N_c + b_c)) · (m_c − c) — exactly the running
    * mean over every row ever assigned to c, which is Sculley's
    * per-sample learning-rate 1/N update applied batch-wise. Centers
    * and counts live on the driver (k·dim doubles, the same Lloyd sync
    * point [[trainCentroids]] uses); per-batch stats come back as one
    * k·dim-row collect. Batches in an empty center leave it unchanged.
    *
    * Determinism: hash-defined batches, fixed iteration count, no RNG;
    * reruns agree to float-sum ordering (IvfSpec pins it).
    */
  def trainCentroidsMiniBatch(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, batchDenom: Int): DataFrame = {
    val spark = vectors.sparkSession
    val centSchema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cv", ArrayType(DoubleType), nullable = false)))
    def centFrame(centers: Array[Array[Double]]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(centers.zipWithIndex.map {
          case (v, i) => Row(i.toLong, v.toSeq) }: _*),
        centSchema)

    val centers = kCenterSeeds(vectors, idCol, vecCol, k).map(_.clone).toArray
    val counts = Array.fill(k)(0L)
    for (t <- 1 to iters) {
      val batch = vectors.filter(
        pmod(xxhash64(col(idCol), lit(t)), lit(batchDenom)) === 0)
      // per-(center, dim) batch mean + batch count, one k·dim collect
      val stats = assignOne(batch, centFrame(centers), idCol, vecCol)
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x")).as("mx"), count(lit(1)).as("bc"))
        .collect()
      stats.groupBy(_.getLong(0)).foreach { case (cid, rows) =>
        val c = cid.toInt
        val bc = rows.head.getLong(3)
        val eta = bc.toDouble / (counts(c) + bc)
        rows.foreach { r =>
          val pos = r.getInt(1)
          centers(c)(pos) += eta * (r.getDouble(2) - centers(c)(pos))
        }
        counts(c) += bc
      }
    }
    centFrame(centers)
  }

  /** Full IVF search: build inverted lists with the given centroids,
    * probe each query's `nprobe` nearest lists, rank candidates by
    * exact cosine, keep top `k`. Output: (qid, rn, nid, cos_sim).
    */
  def search(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nprobe: Int, k: Int): DataFrame = {
    val lists = assign(corpus, centroids, idCol, vecCol, keep = 1)
      .select(col(idCol).as("nid"), col(vecCol).as("nv"), col("cid"))
    val probes = assign(queries, centroids, idCol, vecCol, keep = nprobe)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
  }
}

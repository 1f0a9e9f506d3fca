package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic main for the C3/C5 sf10 investigations: prints the
  * DISTRIBUTIONS that decide join cost — signature/bucket skew,
  * candidate volume, and output cardinality — instead of guessing
  * from wall-clock. Usage:
  *   Test/runMain graft.ScaleDiag <sfDir> [simhash|embedding|both]
  */
object ScaleDiag {

  private def stats(df: DataFrame, what: String): Unit = {
    val s = df.agg(count(lit(1)).as("n_keys"), sum(col("df")).as("rows"),
      max(col("df")).as("max_df"), sum(col("df") * col("df")).as("sum_df2"),
      sum(col("df") * least(col("df"), lit(256L))).as("sum_df_cap256"))
      .collect()(0)
    println(s"[diag] $what: keys=${s.getLong(0)} rows=${s.getLong(1)} " +
      s"max_df=${s.getLong(2)} sum_df2=${s.getLong(3)} " +
      s"sum_df_cap256=${s.getLong(4)}")
    val top = df.orderBy(col("df").desc).limit(5).collect()
      .map(_.toSeq.mkString(":")).mkString(" ")
    println(s"[diag] $what top5: $top")
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val what = if (args.length > 1) args(1) else "both"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")

    if (what == "simhash" || what == "both") {
      val reps = Tables.load(spark, dir, "documents")
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      println(s"[diag] simhash reps=${reps.count()}")
      val sigs = reps
        .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
          graft.functions.SimhashExpr(
            org.apache.spark.sql.GraftBridge.expression(col("text")))).as("simhash"))
        .localCheckpoint(true)
      // exact-signature families (hamming-0 structure)
      stats(sigs.groupBy(col("simhash")).agg(count(lit(1)).as("df")),
        "simhash exact-sig families")
      // old 16-bit block keys
      val blocks = sigs.select(posexplode(expr(
        "transform(sequence(0, 3), q -> shiftright(simhash, q * 16) & 65535)"))
        .as(Seq("b", "v")))
      stats(blocks.groupBy(col("b"), col("v")).agg(count(lit(1)).as("df")),
        "16-bit block keys")
      // r8-r9 6-piece layout (21-22-bit piece-pair keys), kept for
      // side-by-side concentration comparison with the shipped 5-piece
      val pieces = sigs.withColumn("p", expr(
        "array(simhash & 2047, shiftright(simhash, 11) & 2047, " +
          "shiftright(simhash, 22) & 2047, shiftright(simhash, 33) & 2047, " +
          "shiftright(simhash, 44) & 1023, shiftright(simhash, 54) & 1023)"))
      val combos = for { p <- 0 until 6; q <- (p + 1) until 6 } yield (p, q)
      val keyed = pieces.select(explode(array(combos.map { case (p, q) =>
        struct(lit(p * 6 + q).as("tbl"),
          (element_at(col("p"), p + 1) * lit(2048L) +
            element_at(col("p"), q + 1)).as("key"))
      }: _*)).as("pk")).select(col("pk.tbl").as("tbl"), col("pk.key").as("key"))
      stats(keyed.groupBy(col("tbl"), col("key")).agg(count(lit(1)).as("df")),
        "piece-pair keys")
      // SHIPPED (r10) 5-piece layout: 13/13/13/13/12-bit pieces,
      // C(5,2)=10 pair tables with ~26-bit keys (d<=3 leaves >=2 clean
      // pieces -> >=1 clean pair, same pigeonhole completeness)
      val pieces5 = sigs.withColumn("p", expr(
        "array(simhash & 8191, shiftright(simhash, 13) & 8191, " +
          "shiftright(simhash, 26) & 8191, shiftright(simhash, 39) & 8191, " +
          "shiftright(simhash, 52) & 4095)"))
      val combos5 = for { p <- 0 until 5; q <- (p + 1) until 5 } yield (p, q)
      val keyed5 = pieces5.select(explode(array(combos5.map { case (p, q) =>
        struct(lit(p * 5 + q).as("tbl"),
          (element_at(col("p"), p + 1) * lit(8192L) +
            element_at(col("p"), q + 1)).as("key"))
      }: _*)).as("pk")).select(col("pk.tbl").as("tbl"), col("pk.key").as("key"))
      stats(keyed5.groupBy(col("tbl"), col("key")).agg(count(lit(1)).as("df")),
        "5-piece pair keys")
    }

    if (what == "lshsweep") {
      // C14 (dedup_lsh_sweep) sf100 post-mortem: the sweep died on
      // spill (`No space left on device`, 67 GB free). The cost
      // drivers are (a) identical-minhash-signature FAMILIES — a
      // family of n docs collides in EVERY band of EVERY r, so it
      // alone contributes C(n,2) distinct candidate pairs 3x — and
      // (b) residual band-bucket skew among distinct signatures.
      val reps = Tables.load(spark, dir, "documents")
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      println(s"[diag] lshsweep reps=${reps.count()}")
      val vals = DedupQueries.minhashValuesFor(reps)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // full-signature digest: order-canonical fold over (j, m)
      val sig = vals.groupBy(col("doc_id"))
        .agg(sum(expr("(m * (2*j + 17)) % 1000000007")).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      stats(sig.groupBy(col("sig")).agg(count(lit(1)).as("df")),
        "exact-signature families")
      val famReps = sig.groupBy(col("sig")).agg(min(col("doc_id")).as("doc_id"))
      val rs = { import spark.implicits._; Seq(4, 8, 16).toDF("r") }
      val bands = vals.crossJoin(broadcast(rs))
        .groupBy(col("r"), col("doc_id"), expr("j DIV r").as("band_id"))
        .agg(bit_xor((col("m") * 131 + col("j")) % 1000000007L).as("band_hash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      for (r <- Seq(4, 8, 16)) {
        stats(bands.filter(col("r") === r)
          .groupBy(col("band_id"), col("band_hash")).agg(count(lit(1)).as("df")),
          s"r=$r band buckets (all docs)")
        stats(bands.filter(col("r") === r)
          .join(famReps.select(col("doc_id")), Seq("doc_id"))
          .groupBy(col("band_id"), col("band_hash")).agg(count(lit(1)).as("df")),
          s"r=$r band buckets (family reps)")
      }
    }

    if (what == "minhash") {
      // C10 (dedup_minhash_est) cost drivers: band-bucket skew decides
      // the candidate join; |pairs| decides the est (×64) and exact
      // (×shingles/doc) verification joins downstream.
      val reps = Tables.load(spark, dir, "documents")
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      println(s"[diag] minhash reps=${reps.count()}")
      val bands = DedupQueries.minhashBandsFor(reps).localCheckpoint(true)
      stats(bands.groupBy(col("band_id"), col("band_hash"))
        .agg(count(lit(1)).as("df")), "band buckets")
      val a = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
      val b = bands.select(col("band_id"), col("band_hash"), col("doc_id").as("id_b"))
      val pairs = a.join(b, Seq("band_id", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint(true)
      println(s"[diag] minhash pairs=${pairs.count()}")
    }

    if (what == "ivf") {
      // phase timing for knn_ivf_trained's pipeline
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[diag] ivf $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val all = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), expr(
          """transform(sequence(0, 63), d -> element_at(v, d + 1) +
            | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
            |   / 8191.0D)""".stripMargin).as("v"))
      t("derived-corpus count")(all.count())
      val q = all.filter(col("vec_id") <= 10)
      val cent = t("trainCentroidsSampled")(
        graft.operators.IvfIndex.trainCentroidsSampled(
          all, "vec_id", "v", k = 12, iters = 4, sampleCap = 1024))
      t("search")(graft.operators.IvfIndex
        .search(all, q, cent, "vec_id", "v", nprobe = 2, k = 3).count())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      t("bruteforce")(all.select(col("vec_id").as("nid"), col("v").as("nv"))
        .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))),
          col("nid") =!= col("qid"))
        .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3).count())
    }

    if (what == "knng") {
      // phase volume/time breakdown for knn_graph at scale
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[diag] knng $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val all = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("vkey", md5(to_json(struct(col("v")))))
      val reps = all.groupBy(col("vkey"))
        .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("n_copies"))
      val distinctVecs = all.join(reps.select(col("vkey"), col("vec_id")),
          Seq("vkey", "vec_id")).select(col("vec_id"), col("v"))
        .localCheckpoint(true)
      val n = t("distinctVecs count")(distinctVecs.count())
      val bits = graft.operators.RandomHyperplaneLsh.adaptiveBits(
        Tables.load(spark, dir, "embeddings").count())
      println(s"[diag] knng n=$n bits=$bits")
      val bk = graft.operators.RandomHyperplaneLsh
        .bucketed(distinctVecs, "vec_id", "v", tables = 4, bits = bits, dim = 64)
        .select(col("tbl"), col("bucket"))
      stats(bk.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("df")),
        "knng (tbl,bucket) keys (cap 64 pools)")
      val base = t("base knnGraphEdges")(
        graft.operators.RandomHyperplaneLsh
          .knnGraphEdges(distinctVecs, "vec_id", "v", k = 3, tables = 4,
            bits = bits, dim = 64, bucketCap = 64).localCheckpoint(true))
      println(s"[diag] knng base edges=${base.count()}")
      val und = base.select(col("qid"), col("nid"))
        .union(base.select(col("nid").as("qid"), col("qid").as("nid")))
      stats(und.groupBy(col("qid")).agg(count(lit(1)).as("df")),
        "und out-degree")
      val r1 = t("refine round 1")(
        graft.operators.RandomHyperplaneLsh
          .refineOnce(base, distinctVecs, "vec_id", "v", k = 3)
          .localCheckpoint(true))
      println(s"[diag] knng r1 edges=${r1.count()}")
      val r2 = t("refine round 2")(
        graft.operators.RandomHyperplaneLsh
          .refineOnce(r1, distinctVecs, "vec_id", "v", k = 3)
          .localCheckpoint(true))
      println(s"[diag] knng r2 edges=${r2.count()}")
    }

    if (what == "semdedup") {
      // phase timing for pipeline_semdedup at scale
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[diag] semdedup $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val e = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val reps = e.groupBy(col("v"))
        .agg(min(col("vec_id")).as("rep_id"), count(lit(1)).as("n_exact"))
      t("reps")(reps.count())
      val cent = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val m = graft.operators.IvfIndex
        .assign(reps.select(col("rep_id"), col("v")), cent, "rep_id", "v", keep = 1)
        .join(reps.select(col("rep_id"), col("n_exact")), Seq("rep_id"))
        .localCheckpoint(true)
      t("assign+checkpoint")(m.count())
      val wC = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cid")).orderBy(col("rep_id"))
      val pool = m.select(col("cid"), col("rep_id"), col("v"))
        .withColumn("prn", row_number().over(wC))
        .filter(col("prn") <= 256)
        .select(col("cid"), col("rep_id").as("pool_id"), col("v").as("pool_v"))
      t("pool")(pool.count())
      val dup = m.select(col("rep_id"), col("v"), col("cid"))
        .join(broadcast(pool), Seq("cid"))
        .filter(col("pool_id") < col("rep_id") &&
          round(VectorOps.cosine(col("pool_v"), col("v")), 4) >= 0.3)
        .select(col("rep_id")).distinct()
      t("dup-scan")(dup.count())
    }

    if (what == "embedding" || what == "both") {
      val e = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .groupBy(col("v")).agg(min(col("vec_id")).as("vec_id"))
        .select(col("vec_id"), col("v"))
      println(s"[diag] embedding reps=${e.count()}")
      // SPARK_GRAFT_DIAG_BITS overrides the per-table width so the
      // bits-vs-concentration tradeoff is measurable side by side
      val bits = sys.env.getOrElse("SPARK_GRAFT_DIAG_BITS", "8").toInt
      val bk = graft.operators.RandomHyperplaneLsh
        .bucketed(e, "vec_id", "v", tables = 8, bits = bits, dim = 64)
        .select(col("tbl"), col("bucket"))
      stats(bk.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("df")),
        s"lsh (tbl,bucket) keys bits=$bits")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Writes the r11 after-plans to plans/r11/ — the final frames for the
  * queries whose returned plan is the full pipeline, plus REPLICAS of
  * the collect-side internal pipelines (dedup_minhash_est's scoring
  * frame, dedup_lsh_sweep's fused windowed-counter frame, one grouped
  * BPE round) whose real plans hide behind localCheckpoint stubs or
  * driver collects. The replicas copy the query code verbatim minus
  * persist/checkpoint, so the dumped lineage is the executed one.
  * Usage: runMain graft.PlanDumpR11 [sfDir]
  */
object PlanDumpR11 {

  private def dumpAs(name: String, suffix: String, df: DataFrame): Unit = {
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"plans/r11/${name}_$suffix.txt"), s)
    println(s"[plandump] ${name}_$suffix: ${s.linesIterator.size} lines")
  }

  private def dump(name: String, df: DataFrame): Unit =
    dumpAs(name, "after", df)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Graft.session("local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.GraftBridge

    // full-pipeline finals
    for (n <- Seq("dedup_minhash_est", "dedup_lsh_sweep", "knn_graph",
        "stream_ewma_anomaly", "text_bpe_perlang", "dedup_minhash_lsh",
        "q94_rfm", "ecs_trajectory", "src_bucketed_join"))
      dump(n, SparkEntry.queries(n)(spark, sfDir))

    val reps = Tables.load(spark, sfDir, "documents")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))

    // dedup_minhash_est internal scoring pipeline (replica of
    // DedupQueries.dedupMinhashEst minus persist/localCheckpoint)
    {
      val feat = reps
        .select(col("doc_id"),
          GraftBridge.column(graft.functions.MinhashSigExpr(
            GraftBridge.expression(col("text")), 3, 64)).as("sig"),
          GraftBridge.column(graft.functions.WordShingleModHashesExpr(
            GraftBridge.expression(col("text")), 3)).as("ps"))
        .filter(col("sig").isNotNull)
      val bands = feat
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, 7), b -> aggregate(sequence(b*8, b*8+7), 0L,
            | (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007)))"""
            .stripMargin)).as(Seq("band_id", "band_hash")))
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band_id"), col("band_hash")).orderBy(col("doc_id"))
      val pool = bands.withColumn("prn", row_number().over(wB))
        .filter(col("prn") <= 256)
        .select(col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
      val pairs = pool
        .join(bands.select(col("band_id"), col("band_hash"),
          col("doc_id").as("id_b")), Seq("band_id", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val scored = pairs
        .join(feat.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
          col("ps").as("ps_a")), Seq("id_a"))
        .join(feat.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
          col("ps").as("ps_b")), Seq("id_b"))
        .withColumn("est", expr(
          "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / 64.0"))
        .withColumn("i", size(array_intersect(col("ps_a"), col("ps_b"))).cast("long"))
        .withColumn("na", size(col("ps_a")).cast("long"))
        .withColumn("nb", size(col("ps_b")).cast("long"))
        .select(col("id_a"), col("id_b"),
          (round(col("est"), 4) + lit(0.0)).as("est_jaccard"),
          (round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
            + lit(0.0)).as("exact_jaccard"),
          (round(abs((round(col("est"), 4) + lit(0.0)) -
            (round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4)
              + lit(0.0))), 4) + lit(0.0)).as("abs_err"))
        .transform(QueryShape.stagedSort(_, col("id_a"), col("id_b")))
      dump("minhash_est_scoring_internal", scored)
    }

    // dedup_lsh_sweep fused windowed-counter pass (replica of the
    // truth+flags pipeline that replaced the (p, bkt) truth join —
    // compare with lsh_sweep_truth_internal_before.txt)
    {
      import spark.implicits._
      val windowW = 10
      val bhExpr = expr(
        """concat(
          |  transform(sequence(0, 15), b -> aggregate(sequence(b*4, b*4+3), 0L,
          |    (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007))),
          |  transform(sequence(0, 7), b -> aggregate(sequence(b*8, b*8+7), 0L,
          |    (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007))),
          |  transform(sequence(0, 3), b -> aggregate(sequence(b*16, b*16+15), 0L,
          |    (acc, j) -> acc ^ ((element_at(sig, j+1) * 131 + j) % 1000000007))))"""
          .stripMargin)
      val feat = reps
        .select(col("doc_id"),
          GraftBridge.column(graft.functions.MinhashSigExpr(
            GraftBridge.expression(col("text")), 3, 64)).as("sig"),
          GraftBridge.column(graft.functions.WordShingleModHashesExpr(
            GraftBridge.expression(col("text")), 3)).as("ps"))
        .filter(col("sig").isNotNull)
      val B = 1L << 14
      val docFrame = feat
        .withColumn("bh", bhExpr)
        .select(col("doc_id"), col("ps"), col("bh"))
        .withColumn("bk", (col("doc_id") / lit(B)).cast("long"))
        .withColumn("cp", lit(false))
      val lookahead = docFrame
        .filter(pmod(col("doc_id"), lit(B)) < windowW && col("bk") > 0)
        .withColumn("bk", col("bk") - 1)
        .withColumn("cp", lit(true))
      val counters = docFrame.unionByName(lookahead)
        .select(col("bk"), col("doc_id"), col("ps"), col("bh"), col("cp"))
        .repartition(col("bk"))
        .sortWithinPartitions(col("bk"), col("doc_id"))
        .as[(Long, Long, Array[Long], Array[Long], Boolean)]
        .mapPartitions { _ => Iterator.empty[(Long, Long, Long, Long, Long, Long, Long)] }
        .toDF("wc4", "wc8", "wc16", "tf4", "tf8", "tf16", "ntrue")
        .agg(sum("wc4"), sum("wc8"), sum("wc16"),
          sum("tf4"), sum("tf8"), sum("tf16"), sum("ntrue"))
      dump("lsh_sweep_truth_internal", counters)
    }

    // one grouped BPE training round (replica of trainGrouped's
    // per-round winner job — compare against the four per-language
    // chains: the group key now rides one aggregate)
    {
      val docWords = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), explode(expr(
          "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '' AND length(x) >= 2)"))
          .as("word"))
        .withColumn("pred_lang", lit("en")) // plan shape only
      val typeCounts = docWords
        .groupBy(col("pred_lang"), col("word")).agg(count(lit(1)).as("cnt"))
      val words = typeCounts.withColumn("toks",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .select(col("pred_lang").as("__grp"), col("word"), col("cnt"), col("toks"))
      val pairExpr = expr(
        """transform(sequence(1, size(toks) - 1),
          | i -> struct(element_at(toks, i) AS pa, element_at(toks, i + 1) AS pb))""".stripMargin)
      val best = words.filter(size(col("toks")) >= 2)
        .select(col("__grp"), col("cnt"), explode(pairExpr).as("p"))
        .groupBy(col("__grp"), col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("cnt")).as("weight"))
        .groupBy(col("__grp"))
        .agg(min(struct((col("weight") * lit(-1L)).as("nw"),
          col("pa"), col("pb"))).as("b"))
        .select(col("__grp"), col("b.pa"), col("b.pb"),
          (col("b.nw") * lit(-1L)).as("weight"))
      dump("bpe_grouped_round_internal", best)
    }

    // src_bucketed_join internal join plan, before/after shapes: the
    // query's returned frame is a parquet read-back, so the co-located
    // SMJ itself never reaches plans from SparkEntry. Replicate both
    // layouts (fixed 8 buckets, task-fanned files vs size-derived n,
    // one repartitioned sorted file per bucket) and dump the join.
    {
      val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      def bktJoin(tag: String, repart: Boolean): DataFrame = {
        val liTbl = s"pd_li_$tag"; val ordTbl = s"pd_ord_$tag"
        val li = Tables.load(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        val ord = Tables.load(spark, sfDir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        (if (repart) li.repartition(8, col("l_orderkey")) else li)
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liTbl)
        (if (repart) ord.repartition(8, col("o_orderkey")) else ord)
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordTbl)
        spark.table(liTbl)
          .join(spark.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(max(col("o_totalprice")), 2).as("max_price"))
      }
      dumpAs("src_bucketed_join_internal", "before", bktJoin("b", repart = false))
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      dumpAs("src_bucketed_join_internal", "after", bktJoin("a", repart = true))
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      Seq("pd_li_b", "pd_ord_b", "pd_li_a", "pd_ord_a")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }

    // ecs_trajectory internal displacement join (the query returns a
    // collected LocalTableScan; the zero-exchange bucketed SMJ it
    // asserts on lives here). Same plan shape before/after — the r11
    // change is the bucket COUNT (8 fixed → size-derived), which at
    // dump scale resolves to 8 either way.
    {
      import graft.ecs._
      val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val world = World.make(spark, "sim_graft", "run_traj_pd")
      world.addProcessor(EcsQueries.MovementProcessor)
      val seed = Tables.load(spark, sfDir, "customer").select(
        col("c_custkey").cast("long").as("entity_id"),
        floor(col("c_acctbal")).cast("double").as("position__x"),
        lit(0.0).as("position__y"),
        (col("c_custkey") % 7).cast("double").as("velocity__vx"),
        ((col("c_custkey") % 5) - 2).cast("double").as("velocity__vy"))
      world.spawnBatch(EcsQueries.PosVel, seed)
      (1 to 8).foreach(_ => world.step(0.25))
      val hist = world.getHistory(EcsQueries.PosVel)(EcsQueries.PosVelHash)
        .select(col("entity_id"), col("step"),
          col("position__x"), col("position__y"))
      hist.write.bucketBy(8, "entity_id").sortBy("entity_id")
        .saveAsTable("pd_traj")
      val t4 = spark.table("pd_traj").filter(col("step") === 4)
        .select(col("entity_id"), col("position__x").as("x4"),
          col("position__y").as("y4"))
      val t8 = spark.table("pd_traj").filter(col("step") === 8)
        .select(col("entity_id"), col("position__x").as("x8"),
          col("position__y").as("y8"))
      dumpAs("ecs_trajectory_internal", "after",
        t4.join(t8, Seq("entity_id"))
          .select(col("entity_id"), (col("x8") - col("x4")).as("dx"),
            (col("y8") - col("y4")).as("dy"))
          .agg(count(lit(1)).as("n_entities"),
            round(sum(col("dx")), 2).as("sum_dx"),
            round(sum(col("dy")), 2).as("sum_dy")))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.sql("DROP TABLE IF EXISTS pd_traj")
    }

    spark.stop()
  }
}

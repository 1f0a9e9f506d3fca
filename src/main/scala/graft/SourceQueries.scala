package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink suite (SURVEY §2.H): parquet→JSON→CSV→parquet
  * round-trip preserving schema and values, verified by aggregating
  * the round-tripped data against the original table's oracle.
  */
object SourceQueries {

  private val RoundtripSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_returnflag", StringType)))

  private def srcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("roundtrip")
    // the test tables are single parquet files → one input partition;
    // without a repartition every text serialization below runs on ONE
    // core. Spreading to the session's parallelism is also the shape a
    // real distributed write wants (write width = cluster width).
    val base = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .repartition(s.sparkContext.defaultParallelism)
    // r10: gzip both text legs and drop each intermediate once its
    // consumer has materialized. Uncompressed, sf100's lineitem made
    // ~36 GB JSON + ~20 GB CSV live at once — a TASK_WRITE_FAILED
    // disk death on the probe box — and no production lake writes
    // uncompressed text interchange anyway; the serde paths under
    // test are unchanged (same reader/writer, plus the codec).
    base.write.mode("overwrite").option("compression", "gzip")
      .json(s"$tmp/json")
    val fromJson = s.read.schema(RoundtripSchema).json(s"$tmp/json")
    fromJson.write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(s"$tmp/csv")
    TmpDir.delete(s"$tmp/json")
    val fromCsv = s.read.schema(RoundtripSchema).option("header", "true")
      .csv(s"$tmp/csv")
    fromCsv.write.mode("overwrite").parquet(s"$tmp/parquet")
    TmpDir.delete(s"$tmp/csv")
    s.read.parquet(s"$tmp/parquet")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  private val srcRoundtripSql =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // H2 — ORC round-trip: the other columnar format Spark ships
  // natively. Writes orders to ORC sorted within partitions by the
  // filter key (so ORC row-group min/max stats prune the predicate on
  // read-back, the same stats story as parquet), reads it back with
  // a pushed filter, and aggregates.
  private def srcOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("orc")
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .sortWithinPartitions(col("o_totalprice"))
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .filter(col("o_totalprice") >= 200000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        round(avg(col("o_totalprice")), 4).as("avg_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val srcOrcRoundtripSql =
    """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total,
      | round(avg(o_totalprice), 4) AS avg_price
      |FROM orders WHERE o_totalprice >= 200000.0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // H3 — hive-partitioned layout + partition pruning: write orders
  // partitioned by o_orderstatus (the coarse-selectivity column a
  // 100 TB table would be laid out on), then read back ONE partition.
  // The status predicate is a partition filter — resolved against the
  // directory listing at planning, so the other partitions' files are
  // never opened (SourcePruningSpec asserts the plan reads only the
  // matching partition). Aggregation is per order-month on the pruned
  // read-back.
  private def srcPartitionedWrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("part")
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_orderstatus") === "F")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_month"))
  }

  private val srcPartitionedWriteSql =
    """SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS n,
      | round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // H4 — Z-order (Morton) layout: orders range-partitioned + sorted
  // by the interleaved bits of (o_custkey, bucketized o_totalprice),
  // so BOTH columns cluster within every file/row group and min/max
  // stats prune selective scans on either one — the multi-dimensional
  // layout a 100 TB table needs when more than one column is
  // filter-hot (a single-column sort only serves itself). ZorderSpec
  // quantifies the clustering (per-file key ranges shrink on both
  // dimensions vs a round-robin layout); here the read-back runs one
  // selective filter per dimension and aggregates — results must be
  // layout-invariant, which is what the oracle checks.
  private def srcZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    val tmp = TmpDir.scratch("zorder")
    val orders = Tables.load(s, dir, "orders")
    // scale BOTH dimensions to the full bit width first (one tiny agg
    // job): a dimension whose values only reach 2^14 leaves its top
    // interleaved bits constant and the other column alone decides
    // the coarse file split — ZorderSpec caught exactly that.
    val hi = orders.agg(max(col("o_custkey")).cast("double"),
      max(col("o_totalprice"))).head()
    orders
      .withColumn("zkey", ZOrder.morton(
        ZOrder.bucketize(col("o_custkey"), 0.0, hi.getDouble(0) + 1, bits = 16),
        ZOrder.bucketize(col("o_totalprice"), 0.0, hi.getDouble(1) + 1, bits = 16),
        bits = 16))
      .repartitionByRange(8, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.mode("overwrite").parquet(tmp)
    val back = s.read.parquet(tmp)
    val byCust = back.filter(col("o_custkey") < 150)
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(lit("custkey_range").as("sel"), col("n"), col("total"))
    val byPrice = back.filter(col("o_totalprice") >= 400000.0)
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(lit("price_range").as("sel"), col("n"), col("total"))
    byCust.unionByName(byPrice).orderBy(col("sel"))
  }

  private val srcZorderLayoutSql =
    """SELECT * FROM (
      | SELECT 'custkey_range' AS sel, count(*) AS n,
      |   round(sum(o_totalprice), 2) AS total
      | FROM orders WHERE o_custkey < 150
      | UNION ALL
      | SELECT 'price_range' AS sel, count(*) AS n,
      |   round(sum(o_totalprice), 2) AS total
      | FROM orders WHERE o_totalprice >= 400000.0
      |) ORDER BY sel""".stripMargin

  // H5 — parquet schema EVOLUTION: a v1 batch written with three
  // columns, a v2 batch with a fourth added; `mergeSchema` unions the
  // footers at read time and v1 rows surface the new column as null —
  // the additive-evolution contract any long-lived 100 TB table
  // depends on (schema-per-file, no rewrite of old data). The
  // aggregation groups on the evolved column with a null bucket, so
  // the row only matches if old-file rows really read as null.
  private def srcSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("evo")
    val o = Tables.load(s, dir, "orders")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmp/batch=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$tmp/batch=2")
    s.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(coalesce(col("o_orderstatus"), lit("pre_evolution")).as("status"))
      .agg(count(lit(1)).as("n"),
        count(col("o_orderstatus")).as("n_evolved"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("status"))
  }

  private val srcSchemaEvolutionSql =
    """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
      |        ELSE 'pre_evolution' END AS status,
      | count(*) AS n,
      | count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END) AS n_evolved,
      | round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // H6 — bucketed tables: both join sides written bucketBy/sortBy on
  // the join key (saveAsTable: the layout a 100 TB fact-fact join is
  // pre-paid with), then joined WITHOUT a shuffle — auto-broadcast is
  // disabled for the join so only bucket co-location can avoid the
  // Exchange, and the absence of `Exchange hashpartitioning` is
  // asserted ON THE PLAN inside the query (a silent layout regression
  // fails the correctness gate, not just a spec). Oracle = the plain
  // join result, which bucketing must not change.
  //
  // r11 (guide §2.5/§6 — scale the layout, not the constant): the
  // bucket count was a FIXED 8, so the shuffle-free join ran 8 tasks
  // regardless of scale — at sf100 (7.3 GB lineitem) that is 8 tasks
  // each re-sorting ~50M multi-file-bucket rows on a 32-core box
  // (probe: 598 s, factor 16.2). The count now derives from the
  // big side's KNOWN file bytes (~64 MB of parquet per bucket, the
  // same data-quantity gate style as HnswLite's): 8 at the test SFs
  // (layout and bench numbers unchanged) and ~117 at sf100. Each side
  // is also repartitioned by the join key into exactly its bucket
  // partitioning before the write — Spark's bucket id is the same
  // pmod(murmur3, n), so every bucket lands as ONE sorted file, the
  // scan regains the sortBy order (no in-task re-sort under the SMJ)
  // and the table has n files instead of tasks × n. Join results are
  // byte-identical: count/max are order-free and sum(l_quantity)
  // folds exact small integers.
  private def srcBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val liTbl = s"graft_li_bkt_$tag"
    val ordTbl = s"graft_ord_bkt_$tag"
    val liRaw = Tables.load(s, dir, "lineitem")
    // size the layout from the UNPROJECTED relation's file bytes
    // (projection would scale the estimate by guessed column widths)
    val nBuckets = QueryShape.bucketCount(
      liRaw.queryExecution.optimizedPlan.stats.sizeInBytes.toLong, 64L << 20)
    liRaw
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .repartition(nBuckets, col("l_orderkey"))
      .write.bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey").saveAsTable(liTbl)
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(nBuckets, col("o_orderkey"))
      .write.bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordTbl)
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAutoScan = s.conf.get(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    val prevSortedScan = s.conf.get(
      "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // one file per bucket (the repartitioned write guarantees it), so
    // the scan may advertise the sortBy order — off by default since
    // SPARK-32859 because the single-file check costs a listing; here
    // the layout is known and the SMJ drops both per-task Sorts
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      // join AND aggregate both on the bucket key: the whole pipeline
      // rides the storage partitioning — zero exchanges end to end
      val joined = s.table(liTbl)
        .join(s.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(max(col("o_totalprice")), 2).as("max_price"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        "bucketed join unexpectedly shuffled — storage co-location broken")
      // materialize to parquet before the tables drop: stays
      // distributed and leaves no retained executor blocks behind
      // (the localCheckpoint alternative pins block storage — the
      // r2-ADVICE leak pattern)
      val out = TmpDir.scratch("bktout")
      joined.orderBy(col("l_orderkey")).write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAutoScan)
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevSortedScan)
      s.sql(s"DROP TABLE IF EXISTS $liTbl")
      s.sql(s"DROP TABLE IF EXISTS $ordTbl")
    }
  }

  private val srcBucketedJoinSql =
    """SELECT l_orderkey, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
      | round(max(o_totalprice), 2) AS max_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  // H7 — DYNAMIC partition overwrite: rewrite ONE hive partition of a
  // partitioned table in place (the incremental-reprocess shape — at
  // 100 TB you re-run yesterday's partition, never the table). Full
  // write first; then an overwrite of only status='F' rows with
  // doubled prices under partitionOverwriteMode=dynamic — STATIC mode
  // would truncate every other partition, so the read-back aggregate
  // (F doubled, others byte-identical) proves the dynamic semantics.
  private def srcDynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("dyn")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      orders.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    s.read.parquet(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  private val srcDynamicOverwriteSql =
    """SELECT o_orderstatus, count(*) AS n,
      | round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
      |               ELSE o_totalprice END), 2) AS total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // H8 — compression codec control: the same data written snappy
  // (read-optimized default) and zstd (the 100 TB cold-storage
  // choice), read back and aggregated identically; the query also
  // surfaces the on-disk byte ratio (zstd strictly smaller here) so
  // a codec regression is visible, with the sizes themselves kept
  // out of the hash (they are layout, not semantics).
  private def srcCodecRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("codec")
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    li.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$tmp/snappy")
    li.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$tmp/zstd")
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val zstdSmaller = dirBytes(s"$tmp/zstd") < dirBytes(s"$tmp/snappy")
    def agg(path: String, codec: String) =
      s.read.parquet(path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(lit(codec).as("codec"), col("l_returnflag"), col("n"),
          col("sum_qty"), lit(zstdSmaller).as("zstd_smaller"))
    agg(s"$tmp/snappy", "snappy").unionByName(agg(s"$tmp/zstd", "zstd"))
      .orderBy(col("codec"), col("l_returnflag"))
  }

  private val srcCodecRoundtripSql =
    """SELECT codec, l_returnflag, count(*) AS n,
      | round(sum(l_quantity), 2) AS sum_qty, true AS zstd_smaller
      |FROM lineitem CROSS JOIN (
      | SELECT unnest(['snappy', 'zstd']) AS codec)
      |GROUP BY codec, l_returnflag ORDER BY codec, l_returnflag""".stripMargin

  // H9 — small-file COMPACTION: the table-maintenance op every
  // 100 TB lake runs continuously (ingest dribbles small files; scans
  // die by a thousand file-opens). 64 small files bin-pack into 4 via
  // repartitionByRange on the scan key — range clustering keeps
  // parquet min/max stats selective after compaction, unlike a plain
  // round-robin coalesce. Both file counts are measured and emitted
  // as columns, so the oracle's constants (64, 4) make a layout
  // regression a CORRECTNESS failure; content equality rides the
  // usual aggregate replay.
  private def srcCompactSmallFiles(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("compact")
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .repartition(64) // the dribble: 64 tiny files
      .write.mode("overwrite").parquet(s"$tmp/small")
    val before = s.read.parquet(s"$tmp/small")
    val nBefore = before.inputFiles.length.toLong
    before.repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/compact")
    val compacted = s.read.parquet(s"$tmp/compact")
    val nAfter = compacted.inputFiles.length.toLong
    // the final aggregate is a handful of rows — pin it and release the
    // 68 scratch files NOW rather than at JVM exit (bench replays 4x)
    TmpDir.releasing(
      compacted
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .withColumn("n_files_before", lit(nBefore))
        .withColumn("n_files_after", lit(nAfter))
        .orderBy(col("l_returnflag")),
      tmp)
  }

  private val srcCompactSmallFilesSql =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
      | CAST(64 AS BIGINT) AS n_files_before, CAST(4 AS BIGINT) AS n_files_after
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // H10 — CSV ESCAPE hardening: the round-trip that breaks naive text
  // sinks. Every doc derives a deterministic MESSY field packing the
  // four classic CSV landmines — embedded double quotes, the delimiter
  // itself, a literal newline, a backslash — then writes RFC 4180
  // style (quoteAll + escape='"' → quotes double as "" instead of
  // Spark's default backslash escaping) and reads back with
  // multiLine=true (embedded newlines make rows span physical lines,
  // so files can't be split mid-record — which is WHY the write
  // repartitions first: with multiLine the read parallelism is the
  // file count, a real 100 TB layout decision). Verified by count /
  // length-sum / distinct-count / min-md5 per source against the same
  // derivation computed directly on the parquet — any mangled quote,
  // lost newline, or eaten backslash shifts a digest.
  private def srcCsvEscapes(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("csvesc")
    val messySchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("messy", StringType)))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        concat(lit("\"q\" ,"), substring(col("text"), 1, 24),
          lit(","), lit("\n"), lit("\\tail;"), col("lang")).as("messy"))
      .repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").option("escape", "\"")
      .csv(tmp)
    s.read.schema(messySchema)
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(tmp)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("messy"))).cast("long").as("sum_len"),
        countDistinct(col("messy")).as("n_distinct"),
        min(md5(col("messy"))).as("min_md5"))
      .orderBy(col("source"))
  }

  private val srcCsvEscapesSql =
    """WITH m AS (
      | SELECT doc_id, source,
      |   '"q" ,' || substring(text, 1, 24) || ',' || chr(10) || '\tail;' || lang
      |     AS messy
      | FROM documents)
      |SELECT source, count(*) AS n,
      | CAST(sum(length(messy)) AS BIGINT) AS sum_len,
      | CAST(count(DISTINCT messy) AS BIGINT) AS n_distinct,
      | min(md5(messy)) AS min_md5
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  // H11 — MANIFEST-BASED FILE PRUNING (the Iceberg/Delta table-format
  // pattern, built from parquet's own footers): a range-clustered
  // write produces files with tight per-file min/max on the cluster
  // key; a manifest of those footer statistics lets the PLANNER pick
  // the files a predicate can touch BEFORE any scan task launches.
  // This is the decisive 100 TB lever — Spark's row-group stats prune
  // only after a task has opened the file; a manifest prunes the task
  // list itself (and on object storage, the LIST+open round-trips).
  // The query proves the skip is real (require: matched files < total,
  // but every in-range row survives) by aggregating the manifest-
  // pruned scan against the plain full-table oracle.
  private def srcManifestPruning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val tmp = TmpDir.scratch("manifest")
    val nFiles = 8
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"),
        col("l_extendedprice"))
      // range-cluster on the pruning key: each output file owns a
      // contiguous shipdate slice, so footer min/max are TIGHT
      .repartitionByRange(nFiles, col("l_shipdate"))
      .write.mode("overwrite").parquet(tmp)
    val conf = s.sessionState.newHadoopConf()
    val fs = new Path(tmp).getFileSystem(conf)
    // the manifest: per-file (path, min_us, max_us) off the parquet
    // footers — statistics only, no data pages read
    val manifest: Seq[(String, Long, Long)] = fs.listStatus(new Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
      .map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try {
          val blocks = r.getFooter.getBlocks
          var lo = Long.MaxValue; var hi = Long.MinValue
          blocks.forEach { b =>
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == "l_shipdate") {
                val st = c.getStatistics
                lo = math.min(lo, st.genericGetMin.asInstanceOf[Number].longValue)
                hi = math.max(hi, st.genericGetMax.asInstanceOf[Number].longValue)
              }
            }
          }
          (p.toString, lo, hi)
        } finally r.close()
      }
    // predicate: Q1-1996 (the generator's shipdates span 1995-2001) —
    // overlap test against the manifest picks the candidate files; the
    // residual filter still applies row-level
    val loTs = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val hiTs = java.time.LocalDateTime.of(1996, 4, 1, 0, 0)
    val loUs = loTs.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val hiUs = hiTs.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val picked = manifest.filter { case (_, lo, hi) => hi >= loUs && lo < hiUs }
    require(picked.nonEmpty && picked.size < manifest.size,
      s"manifest pruning ineffective: ${picked.size} of ${manifest.size} files")
    val pruned = s.read.parquet(picked.map(_._1): _*)
      .filter(col("l_shipdate") >= lit(loTs) && col("l_shipdate") < lit(hiTs))
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("month"))
    TmpDir.releasing(pruned, tmp)
  }

  private val srcManifestPruningSql =
    """SELECT date_trunc('month', l_shipdate) AS month, count(*) AS n,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-04-01'
      |GROUP BY 1 ORDER BY month""".stripMargin

  // H12 — JSONL text-fidelity round-trip: JSON-lines is THE
  // training-data interchange format, and the property that matters
  // is byte-exact TEXT preservation through the escape layer (quotes,
  // backslashes, control characters, non-ASCII — whatever the corpus
  // holds), not numeric aggregate parity (H1's job). Documents write
  // to JSONL and read back under an EXPLICIT schema (inference is a
  // schema-drift hazard on a 100 TB lake: one malformed shard can
  // silently widen a column for the whole read); FAILFAST mode makes
  // a corrupt line an error, not a silent null row. The output is the
  // round-tripped rows themselves with an md5 content digest standing
  // in for the text — the oracle is the same projection of the
  // ORIGINAL table, so a green row proves per-row, per-column
  // identity through the format without dumping raw text.
  private def srcJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("jsonl")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite").json(s"$tmp/jsonl")
    s.read.schema(schema).option("mode", "FAILFAST").json(s"$tmp/jsonl")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
        length(col("text")).cast("long").as("text_len"),
        col("lang"), col("source"), col("n_chars"))
      .transform(QueryShape.stagedSort(_, col("doc_id")))
  }

  private val srcJsonlRoundtripSql =
    """SELECT doc_id, md5(text) AS text_md5,
      | CAST(len(text) AS BIGINT) AS text_len, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // H13 — COMMIT-LOG table format (the Delta/Iceberg transaction
  // pattern built from nothing but parquet + a JSON log): a table
  // VERSION is the file set its log entry pins — never a directory
  // listing (list-after-write is the race every lakehouse log
  // exists to close, and on object storage the listing itself costs
  // more than the read). v0 commits f0; v1 appends f1. The reader
  // resolves each snapshot FROM THE LOG and reads exactly those
  // files — a file present in the directory but absent from the log
  // (f_orphan, planted below) must be invisible, which is what
  // separates log-resolved reads from spark.read.parquet(dir). The
  // two snapshots aggregate side by side; the oracle derives both
  // states from the base table, so green proves version isolation.
  // At scale the log is the H11 manifest's big sibling: O(commits)
  // JSON rows, read on the driver, pruning the task list before any
  // scan launches.
  private def srcTxnLog(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("txnlog")
    val orders = Tables.load(s, dir, "orders")
    orders.filter(col("o_orderkey") % 3 === 0)
      .write.mode("overwrite").parquet(s"$tmp/data/f0")
    orders.filter(col("o_orderkey") % 3 === 1)
      .write.mode("overwrite").parquet(s"$tmp/data/f1")
    // an orphan data file no commit references — compaction debris /
    // a failed writer; snapshot reads must not see it
    orders.filter(col("o_orderkey") % 3 === 2)
      .write.mode("overwrite").parquet(s"$tmp/data/f_orphan")
    val log = new java.io.File(s"$tmp/_log")
    log.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/_log/0.json"),
      """{"version": 0, "files": ["f0"]}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/_log/1.json"),
      """{"version": 1, "files": ["f0", "f1"]}""")
    def snapshot(v: Int): DataFrame = {
      val entry = s.read
        .schema("version LONG, files ARRAY<STRING>")
        .json(s"$tmp/_log/$v.json")
        .head() // the log entry is one driver-side row, like H11's manifest
      val files = entry.getSeq[String](1).map(f => s"$tmp/data/$f")
      s.read.parquet(files: _*)
    }
    Seq(0, 1).map { v =>
      snapshot(v).agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
        .withColumn("version", lit(v.toLong))
        .select(col("version"), col("n_rows"), col("sum_price"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  private val srcTxnLogSql =
    """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
      | round(sum(o_totalprice), 2) AS sum_price
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
      | round(sum(o_totalprice), 2) AS sum_price
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |ORDER BY version""".stripMargin

  // H14 — WRITE AUDIT from parquet footers (the trust-but-verify step
  // after any large write: did every row land, with the key range the
  // planner will prune on?): orders are written partitioned by a
  // derived key, then each partition is audited from FOOTER METADATA
  // ONLY — per-file row counts and o_orderkey min/max statistics, no
  // data pages read — and reconciled against per-partition aggregates
  // computed from the source. At 100 TB this is the difference
  // between a free audit (footers are KBs) and a second full scan;
  // it's also the statistics surface H11's manifest pruning trusts,
  // so the audit doubles as a stats-integrity check. Footer walking
  // is driver-side O(files), the same machinery as the events-schema
  // sniffer.
  private def srcWriteAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = TmpDir.scratch("writeaudit")
    val src = Tables.load(s, dir, "orders")
      .withColumn("part", (col("o_orderkey") % 4).cast("int"))
    // hash-cluster by the partition key first: each part value lands in
    // exactly one task ⇒ exactly one file per partition dir (the
    // n_files column is then deterministic for the oracle)
    src.repartition(col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sessionState.newHadoopConf()
    val fs = new Path(tmp).getFileSystem(conf)
    val audited = (0 until 4).map { p =>
      val files = fs.listStatus(new Path(s"$tmp/part=$p")).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      var rows = 0L
      var minK = Long.MaxValue
      var maxK = Long.MinValue
      files.foreach { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          r.getFooter.getBlocks.forEach { blk =>
            rows += blk.getRowCount
            blk.getColumns.forEach { c =>
              if (c.getPath.toDotString == "o_orderkey") {
                val st = c.getStatistics
                minK = math.min(minK, st.genericGetMin.asInstanceOf[Long])
                maxK = math.max(maxK, st.genericGetMax.asInstanceOf[Long])
              }
            }
          }
        } finally r.close()
      }
      (p, files.length.toLong, rows, minK, maxK)
    }
    val footer = audited
      .toDF("part", "n_files", "rows_footer", "min_key_footer", "max_key_footer")
    val source = src.groupBy(col("part"))
      .agg(count(lit(1)).as("rows_source"),
        min(col("o_orderkey")).as("min_key_source"),
        max(col("o_orderkey")).as("max_key_source"))
    footer.join(source, Seq("part"))
      .select(col("part").cast("long").as("part"), col("n_files"),
        col("rows_footer"), col("rows_source"),
        (col("rows_footer") === col("rows_source") &&
          col("min_key_footer") === col("min_key_source") &&
          col("max_key_footer") === col("max_key_source")).as("audit_ok"))
      .orderBy(col("part"))
  }

  private val srcWriteAuditSql =
    """SELECT CAST(o_orderkey % 4 AS BIGINT) AS part,
      | CAST(1 AS BIGINT) AS n_files,
      | count(*) AS rows_footer, count(*) AS rows_source,
      | true AS audit_ok
      |FROM orders GROUP BY o_orderkey % 4 ORDER BY part""".stripMargin

  // H15 — MERGE-ON-READ DELETES via equality-delete files (the
  // Iceberg v2 / Delta deletion-vector pattern): a DELETE commits no
  // rewritten data file — it appends a small file of DELETED KEYS,
  // and readers apply it as an anti-join at scan time. That turns a
  // 100 TB row-level delete from a rewrite of every touched file
  // into an append of kilobytes (compaction folds them in later —
  // H9's job). Two independent delete commits stack; the reader
  // unions them and anti-joins ONCE. Delete sets are dim-sized here
  // so the anti-join broadcasts; a mass delete would ride a shuffled
  // anti-join instead — same plan shape, bigger exchange. The
  // require() proves rows were genuinely masked, and the oracle
  // replays both predicates over the source, so green means the
  // read applied exactly the committed deletes — no more, no fewer.
  private def srcDeletionVectors(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("delvec")
    val orders = Tables.load(s, dir, "orders")
    orders.write.mode("overwrite").parquet(s"$tmp/data")
    // delete commit 1: all rows of a customer slice (GDPR-shaped)
    orders.filter(col("o_custkey") % 10 === 7)
      .select(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/deletes/d0")
    // delete commit 2: a value predicate (data-quality purge)
    orders.filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/deletes/d1")
    val data = s.read.parquet(s"$tmp/data")
    val dels = s.read.parquet(s"$tmp/deletes/d0")
      .unionByName(s.read.parquet(s"$tmp/deletes/d1"))
      .distinct()
    val nData = data.count()
    val live = data.join(broadcast(dels), Seq("o_orderkey"), "left_anti")
    val nLive = live.count()
    require(nLive < nData,
      s"deletion vectors masked nothing: $nLive of $nData rows")
    val out = live.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus"))
    TmpDir.releasing(out, tmp)
  }

  private val srcDeletionVectorsSql =
    """SELECT o_orderstatus, count(*) AS n_orders,
      | round(sum(o_totalprice), 2) AS sum_price
      |FROM orders
      |WHERE NOT (o_custkey % 10 = 7) AND NOT (o_totalprice > 450000.0)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // H16 — INCREMENTAL MATERIALIZED-VIEW maintenance (the Delta Live
  // Tables / streaming-MV pattern in batch form): when a new
  // partition of the fact table lands, refresh the standing
  // aggregate by MERGING per-group deltas into the stored MV —
  // touching O(MV + delta), never the historical base. The merge is
  // a full-outer coalesce of additive states (count/sum are
  // self-maintaining under inserts; min/max would also be — under
  // DELETES they'd need the delete-aware rewrite, which is exactly
  // why MV engines track state additivity). By construction the
  // maintain plan reads only the MV parquet and the delta rows — the
  // base is never scanned — while the oracle recomputes from the
  // FULL union, so green proves incremental == recompute.
  private def srcIncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("incmv")
    val orders = Tables.load(s, dir, "orders")
    val cutoff = to_timestamp(lit("1999-01-01"))
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("sum_cents"))
    // day 0: the MV materializes from the base and persists
    aggOf(orders.filter(col("o_orderdate") < cutoff))
      .write.mode("overwrite").parquet(s"$tmp/mv")
    // day 1: a delta partition arrives; maintain from MV + delta ONLY
    val delta = orders.filter(col("o_orderdate") >= cutoff)
    val mv = s.read.parquet(s"$tmp/mv")
      .select(col("o_orderstatus"), col("n").as("n_mv"),
        col("sum_cents").as("sum_mv"))
    val d = aggOf(delta)
      .select(col("o_orderstatus"), col("n").as("n_d"),
        col("sum_cents").as("sum_d"))
    val refreshed = mv.join(d, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        (coalesce(col("n_mv"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
        round((coalesce(col("sum_mv"), lit(0L)) + coalesce(col("sum_d"), lit(0L)))
          / 100.0, 2).as("sum_price"))
      .orderBy(col("o_orderstatus"))
    TmpDir.releasing(refreshed, tmp)
  }

  private val srcIncrementalMvSql =
    """SELECT o_orderstatus, count(*) AS n,
      | round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
      |   AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // H17 — TABLE STATISTICS collection (ANALYZE TABLE ... COMPUTE
  // STATISTICS FOR COLUMNS — the numbers a cost-based optimizer
  // joins/reorders by): per column of `orders`, compute row count,
  // null count, exact NDV, and min/max (stringified so heterogeneous
  // column types share one report schema). ONE AGG PER COLUMN, not
  // one agg with N countDistinct's: multiple distinct aggregates make
  // Catalyst plan an Expand that inflates every input row (N+1)× —
  // the sf10 probe measured that plan at 13.9× for 10× data (one
  // 90M-row hash table, spilling). Per-column jobs read the SAME
  // total bytes on columnar storage (each scan prunes to exactly its
  // own column — `ReadSchema` is 1 field) and each is a spill-free
  // single-distinct two-phase agg that shuffles only that column's
  // values. Exact NDV is the oracle-checkable twin of the HLL the
  // real ANALYZE would use at 100 TB (I1 carries that contract).
  private def srcTableStats(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderpriority")
    cols.map { c =>
      orders.select(col(c))
        .agg(count(lit(1)).as("n_rows"), count(col(c)).as("nn"),
          countDistinct(col(c)).as("ndv"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("column"), col("n_rows"),
          (col("n_rows") - col("nn")).as("n_nulls"), col("ndv"),
          col("min_val"), col("max_val"))
    }.reduce(_ unionByName _).orderBy(col("column"))
  }

  private val srcTableStatsSql =
    """SELECT * FROM (
      | SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
      |  count(*) - count(o_orderkey) AS n_nulls,
      |  count(DISTINCT o_orderkey) AS ndv,
      |  CAST(min(o_orderkey) AS VARCHAR) AS min_val,
      |  CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM orders
      | UNION ALL
      | SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
      |  count(DISTINCT o_custkey), CAST(min(o_custkey) AS VARCHAR),
      |  CAST(max(o_custkey) AS VARCHAR) FROM orders
      | UNION ALL
      | SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
      |  count(DISTINCT o_orderstatus), CAST(min(o_orderstatus) AS VARCHAR),
      |  CAST(max(o_orderstatus) AS VARCHAR) FROM orders
      | UNION ALL
      | SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
      |  count(DISTINCT o_totalprice), CAST(min(o_totalprice) AS VARCHAR),
      |  CAST(max(o_totalprice) AS VARCHAR) FROM orders
      | UNION ALL
      | SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
      |  count(DISTINCT o_orderpriority), CAST(min(o_orderpriority) AS VARCHAR),
      |  CAST(max(o_orderpriority) AS VARCHAR) FROM orders
      |) ORDER BY "column"""".stripMargin

  // H18 — AS-OF-TIMESTAMP time travel (H13 resolves snapshots by
  // VERSION; analysts ask by TIME — "the table as of yesterday
  // 09:00"): each commit in the log carries its commit timestamp,
  // and the reader resolves the LATEST commit at-or-before the
  // requested instant, then reads exactly that commit's file list.
  // Resolution is O(commits) driver-side JSON — the same tiny-log
  // contract as H13; a require() pins that the middle commit (not
  // the tip, not genesis) is the one resolved, so the query fails
  // loudly if the time arithmetic regresses. Oracle replays the
  // version-1 file predicate.
  private def srcAsOfTimestamp(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("asofts")
    val orders = Tables.load(s, dir, "orders")
    orders.filter(col("o_orderkey") % 3 === 0)
      .write.mode("overwrite").parquet(s"$tmp/data/f0")
    orders.filter(col("o_orderkey") % 3 === 1)
      .write.mode("overwrite").parquet(s"$tmp/data/f1")
    orders.filter(col("o_orderkey") % 3 === 2)
      .write.mode("overwrite").parquet(s"$tmp/data/f2")
    val log = new java.io.File(s"$tmp/_log"); log.mkdirs()
    def commit(v: Int, tsMs: Long, files: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/_log/$v.json"),
        s"""{"version": $v, "ts_ms": $tsMs, "files": [${
          files.map("\"" + _ + "\"").mkString(", ")}]}""")
    commit(0, 1000L, Seq("f0"))
    commit(1, 2000L, Seq("f0", "f1"))
    commit(2, 3000L, Seq("f0", "f1", "f2"))
    // resolve AS OF t=2500 → latest commit with ts_ms <= 2500
    val asOfMs = 2500L
    val commits = new java.io.File(s"$tmp/_log").listFiles()
      .filter(_.getName.endsWith(".json")).toSeq
      .map { f =>
        val txt = java.nio.file.Files.readString(f.toPath)
        val v = """"version":\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
        val ts = """"ts_ms":\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
        val fs = """"([a-z0-9_]+)"""".r.findAllMatchIn(
          txt.substring(txt.indexOf("files"))).map(_.group(1)).toSeq
          .filterNot(Set("files"))
        (v, ts, fs)
      }
    val resolved = commits.filter(_._2 <= asOfMs).maxBy(_._1)
    require(resolved._1 == 1L,
      s"as-of resolution regressed: got version ${resolved._1}, want 1")
    val out = s.read.parquet(resolved._3.map(f => s"$tmp/data/$f"): _*)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .withColumn("as_of_version", lit(resolved._1))
      .orderBy(col("o_orderstatus"))
    TmpDir.releasing(out, tmp)
  }

  private val srcAsOfTimestampSql =
    """SELECT o_orderstatus, count(*) AS n,
      | round(sum(o_totalprice), 2) AS sum_price,
      | CAST(1 AS BIGINT) AS as_of_version
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // H19 — VACUUM / orphan-file GC (the table-maintenance sweep H13's
  // log-resolved reads make SAFE: readers never see unreferenced
  // files, so deleting them cannot change any query): data files for
  // two commits plus one ORPHAN (failed-writer debris); GC lists the
  // directory, subtracts every file referenced by ANY commit, and
  // deletes the rest. The query proves both halves of the contract —
  // the orphan is gone (files_before/files_after/n_deleted) AND the
  // tip snapshot reads identically after the sweep (the aggregate the
  // oracle checks). Resolution is O(commits + files) driver-side.
  private def srcVacuum(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("vacuum")
    val orders = Tables.load(s, dir, "orders")
    orders.filter(col("o_orderkey") % 3 === 0)
      .write.mode("overwrite").parquet(s"$tmp/data/f0")
    orders.filter(col("o_orderkey") % 3 === 1)
      .write.mode("overwrite").parquet(s"$tmp/data/f1")
    orders.filter(col("o_orderkey") % 3 === 2)
      .write.mode("overwrite").parquet(s"$tmp/data/f_orphan")
    val log = new java.io.File(s"$tmp/_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/_log/0.json"),
      """{"version": 0, "files": ["f0"]}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/_log/1.json"),
      """{"version": 1, "files": ["f0", "f1"]}""")
    val referenced: Set[String] = new java.io.File(s"$tmp/_log").listFiles()
      .filter(_.getName.endsWith(".json")).toSeq
      .flatMap { f =>
        val txt = java.nio.file.Files.readString(f.toPath)
        """"(f[a-z0-9_]*)"""".r.findAllMatchIn(
          txt.substring(txt.indexOf("files"))).map(_.group(1)).toSeq
      }.toSet
    val dataDir = new java.io.File(s"$tmp/data")
    val before = dataDir.listFiles().map(_.getName).toSeq
    val orphans = before.filterNot(referenced)
    require(orphans.nonEmpty, "fixture must contain an orphan")
    orphans.foreach { o =>
      val d = new java.io.File(s"$tmp/data/$o")
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val after = dataDir.listFiles().map(_.getName).toSeq
    require(after.size == before.size - orphans.size,
      s"vacuum deleted wrong count: ${before.size} -> ${after.size}")
    // tip snapshot (version 1) read AFTER the sweep
    val out = s.read.parquet(s"$tmp/data/f0", s"$tmp/data/f1")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .withColumn("files_before", lit(before.size.toLong))
      .withColumn("files_after", lit(after.size.toLong))
      .withColumn("n_deleted", lit(orphans.size.toLong))
      .orderBy(col("o_orderstatus"))
    TmpDir.releasing(out, tmp)
  }

  private val srcVacuumSql =
    """SELECT o_orderstatus, count(*) AS n,
      | round(sum(o_totalprice), 2) AS sum_price,
      | CAST(3 AS BIGINT) AS files_before, CAST(2 AS BIGINT) AS files_after,
      | CAST(1 AS BIGINT) AS n_deleted
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // H20 — the TABLE-FORMAT LIFECYCLE composed (VERDICT r8 ask #7:
  // H13 commit log, H15 equality deletes, H18 as-of time travel and
  // H19 vacuum exist as singles — production lakes break where they
  // INTERACT): one table carries an append history (v0: f0; v1:
  // f0+f1), then a row-level DELETE commit (v2 pins the same data
  // files plus equality-delete file d0 — merge-on-read, no rewrite),
  // then VACUUM sweeps with an orphan planted. The composition proves
  // the two contracts the singles can't: (1) DELETES DON'T LEAK INTO
  // HISTORY — the as-of read resolves v1 (ts 2500 < the delete
  // commit) and serves the undeleted rows even though d0 is standing
  // in the directory, because delete application is COMMIT-pinned,
  // not directory-discovered; (2) VACUUM RESPECTS DELETE FILES — the
  // sweep's referenced set unions files AND deletes across every
  // commit, so d0 and the historical data files survive while the
  // true orphan dies, and both snapshots re-read IDENTICALLY after
  // the sweep (the aggregates the oracle checks come from the
  // post-vacuum reads). All resolution is O(commits) driver-side
  // JSON, the H13 contract.
  private def srcTableLifecycle(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("lifecycle")
    val orders = Tables.load(s, dir, "orders")
    orders.filter(col("o_orderkey") % 3 === 0)
      .write.mode("overwrite").parquet(s"$tmp/data/f0")
    orders.filter(col("o_orderkey") % 3 === 1)
      .write.mode("overwrite").parquet(s"$tmp/data/f1")
    orders.filter(col("o_orderkey") % 3 === 2)
      .write.mode("overwrite").parquet(s"$tmp/data/f_orphan")
    // the delete commit's equality-delete file: a customer slice
    orders.filter(col("o_custkey") % 10 === 7).select(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/deletes/d0")
    val log = new java.io.File(s"$tmp/_log"); log.mkdirs()
    def commit(v: Int, tsMs: Long, files: Seq[String],
        deletes: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/_log/$v.json"),
        s"""{"version": $v, "ts_ms": $tsMs, "files": [${
          files.map("\"" + _ + "\"").mkString(", ")}], "deletes": [${
          deletes.map("\"" + _ + "\"").mkString(", ")}]}""")
    commit(0, 1000L, Seq("f0"), Seq.empty)
    commit(1, 2000L, Seq("f0", "f1"), Seq.empty)
    commit(2, 3000L, Seq("f0", "f1"), Seq("d0"))
    // parse the log once: (version, ts, data files, delete files)
    val commits = new java.io.File(s"$tmp/_log").listFiles()
      .filter(_.getName.endsWith(".json")).toSeq
      .map { f =>
        val txt = java.nio.file.Files.readString(f.toPath)
        val v = """"version":\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
        val ts = """"ts_ms":\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
        def names(section: String): Seq[String] = {
          val i = txt.indexOf(section)
          val seg = txt.substring(i, txt.indexOf(']', i))
          """"([a-z0-9_]+)"""".r.findAllMatchIn(seg).map(_.group(1)).toSeq
            .filterNot(Set(section))
        }
        (v, ts, names("files"), names("deletes"))
      }.sortBy(_._1)
    // VACUUM: referenced = data files ∪ delete files of EVERY commit
    val refData = commits.flatMap(_._3).toSet
    val refDel = commits.flatMap(_._4).toSet
    val dataDir = new java.io.File(s"$tmp/data")
    val delDir = new java.io.File(s"$tmp/deletes")
    val before = dataDir.listFiles().map(_.getName).toSeq ++
      delDir.listFiles().map(_.getName).toSeq
    val orphans = dataDir.listFiles().map(_.getName).filterNot(refData) ++
      delDir.listFiles().map(_.getName).filterNot(refDel)
    require(orphans.toSeq == Seq("f_orphan"),
      s"vacuum must remove exactly the orphan, got ${orphans.toSeq}")
    orphans.foreach { o =>
      val d = new java.io.File(s"$tmp/data/$o")
      d.listFiles().foreach(_.delete()); d.delete()
    }
    val after = dataDir.listFiles().map(_.getName).toSeq ++
      delDir.listFiles().map(_.getName).toSeq
    require(after.contains("d0"),
      "vacuum swept a commit-referenced delete file — history is broken")
    // POST-VACUUM reads. as-of ts 2500 → v1 (before the delete commit):
    // deletes must NOT apply even though d0 stands in the directory
    val asOf = commits.filter(_._2 <= 2500L).maxBy(_._1)
    require(asOf._1 == 1L && asOf._4.isEmpty,
      s"as-of resolution regressed: version ${asOf._1}, deletes ${asOf._4}")
    def snapshotRead(c: (Long, Long, Seq[String], Seq[String])): DataFrame = {
      val data = s.read.parquet(c._3.map(f => s"$tmp/data/$f"): _*)
      if (c._4.isEmpty) data
      else {
        val dels = c._4.map(d => s.read.parquet(s"$tmp/deletes/$d"))
          .reduce(_ unionByName _).distinct()
        data.join(broadcast(dels), Seq("o_orderkey"), "left_anti")
      }
    }
    val tip = commits.maxBy(_._1)
    val out = Seq(("v1_asof", snapshotRead(asOf)), ("v2_tip", snapshotRead(tip)))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(name))
      }
      .reduce(_ unionByName _)
      .withColumn("files_before", lit(before.size.toLong))
      .withColumn("files_after", lit(after.size.toLong))
      .withColumn("n_vacuumed", lit(orphans.length.toLong))
      .select(col("snap"), col("n_rows"), col("sum_price"),
        col("files_before"), col("files_after"), col("n_vacuumed"))
      .orderBy(col("snap"))
    TmpDir.releasing(out, tmp)
  }

  private val srcTableLifecycleSql =
    """SELECT 'v1_asof' AS snap, count(*) AS n_rows,
      | round(sum(o_totalprice), 2) AS sum_price,
      | CAST(4 AS BIGINT) AS files_before, CAST(3 AS BIGINT) AS files_after,
      | CAST(1 AS BIGINT) AS n_vacuumed
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |UNION ALL
      |SELECT 'v2_tip' AS snap, count(*) AS n_rows,
      | round(sum(o_totalprice), 2) AS sum_price,
      | CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |  AND NOT (o_custkey % 10 = 7)
      |ORDER BY snap""".stripMargin

  // H21 — CONCURRENT-WRITER COMMIT PROTOCOL (VERDICT r9 ask #5: H13/
  // H20 are single-writer; the reference inherits optimistic
  // concurrency from LanceDB — archetype/core/store.py:250-261 issues
  // merge_insert/add against a lance table whose commits are
  // conditional — and production lakes break exactly where two
  // writers race one version slot). The protocol lives in
  // [[graft.operators.CommitLog]]: a version is claimed by an ATOMIC
  // create-if-absent (hard link of a fully-written temp file — the
  // conditional-PUT analogue), appends REBASE onto the new tip on a
  // lost race, and read-set commits (equality delete, rewrite) ABORT
  // loudly when a concurrent commit removed a file they read.
  //
  // The query drives five acts against one table, each deterministic
  // for the oracle:
  //   1. writer A appends f1 (wins v1 clean);
  //   2. writer B proposes from a STALE v0 snapshot — its v1 claim
  //      LOSES atomically, it rebases onto v1 and lands v2 with f0,
  //      f1 AND f2 intact (the no-lost-update proof: B's commit
  //      carries A's file even though B never saw it when it started);
  //   3. two genuinely CONCURRENT threads race appends fa/fb — the
  //      output pins only the order-free invariants (contiguous
  //      versions, both files at tip, nothing lost);
  //   4. a compaction REWRITES f0+f1+f2 → fc at v5;
  //   5. a delete prepared against v2 (read set f0,f1,f2) must ABORT
  //      — its files were compacted away (the ConcurrentDeleteRead
  //      rule); re-prepared against v5 it lands v6 cleanly.
  // Snapshot reads of v2 (history survived the race) and the tip
  // (all five slices minus the delete) are the oracle-checked rows.
  // ConcurrentCommitSpec drives the same protocol with 8 racing
  // writers and asserts linearizability properties.
  private def srcCommitRace(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CommitLog
    val tmp = TmpDir.scratch("commitrace")
    val orders = Tables.load(s, dir, "orders")
    def slice(i: Int, name: String): Unit =
      orders.filter(col("o_orderkey") % 6 === i)
        .write.mode("overwrite").parquet(s"$tmp/data/$name")
    slice(0, "f0"); slice(1, "f1"); slice(2, "f2")
    slice(3, "fa"); slice(4, "fb")
    orders.filter(col("o_orderkey") % 6 < 3)
      .write.mode("overwrite").parquet(s"$tmp/data/fc")
    orders.filter(col("o_custkey") % 10 === 7).select(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/deletes/d0")

    // v0: the base table
    require(CommitLog.tryCommit(tmp,
      CommitLog.Commit(0L, 1000L, Seq("f0"), Seq.empty)), "v0 must be free")
    // act 1-2: A commits clean; B's stale claim loses atomically, then
    // rebases — the rebased commit must carry A's f1
    val bStale = CommitLog.tip(tmp).get // B snapshots v0 here
    val (vA, cA) = CommitLog.appendWithRetry(tmp, Seq("f1"), 2000L)
    val bLost = !CommitLog.tryCommit(tmp, CommitLog.Commit(
      bStale.version + 1, 3000L, bStale.files :+ "f2", Seq.empty))
    val (vB, _) = CommitLog.appendWithRetry(tmp, Seq("f2"), 3000L)
    require(vA == 1L && bLost && vB == 2L, s"forced race broke: $vA $bLost $vB")
    require(CommitLog.tip(tmp).get.files.toSet == Set("f0", "f1", "f2"),
      "no-lost-update violated: B's rebased commit dropped A's file")
    // act 3: a real race — two threads, each retry-looping its append
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq("fa" -> 4000L, "fb" -> 4001L).map { case (f, t) =>
      new Thread(() =>
        try { CommitLog.appendWithRetry(tmp, Seq(f), t); () }
        catch { case e: Throwable => errs.add(e); () })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    require(errs.isEmpty, s"race writer failed: ${errs.peek()}")
    val afterRace = CommitLog.tip(tmp).get
    val raceOk = afterRace.version == 4L &&
      afterRace.files.toSet == Set("f0", "f1", "f2", "fa", "fb") &&
      CommitLog.commits(tmp).map(_.version) == (0L to 4L)
    require(raceOk, s"race invariants broke: $afterRace")
    // act 4: compaction rewrites the first three slices into fc
    val (vC, _) = CommitLog.rewriteWithRetry(tmp, Seq("f0", "f1", "f2"),
      Seq("fc"), 5000L)
    require(vC == 5L, s"rewrite landed at $vC")
    // act 5: the stale delete MUST abort (read set compacted away) …
    val deleteAborted =
      try { CommitLog.deleteWithRetry(tmp, 2L, Seq("d0"), 6000L); false }
      catch { case _: CommitLog.ConcurrentDeleteReadException => true }
    require(deleteAborted, "stale delete must abort, not resurrect history")
    // … and re-prepared against the current tip it lands cleanly
    val (vD, _) = CommitLog.deleteWithRetry(tmp, 5L, Seq("d0"), 7000L)
    require(vD == 6L, s"rebased delete landed at $vD")

    def snapshotRead(c: CommitLog.Commit): DataFrame = {
      val data = s.read.parquet(c.files.map(f => s"$tmp/data/$f"): _*)
      if (c.deletes.isEmpty) data
      else {
        val dels = c.deletes.map(d => s.read.parquet(s"$tmp/deletes/$d"))
          .reduce(_ unionByName _).distinct()
        data.join(broadcast(dels), Seq("o_orderkey"), "left_anti")
      }
    }
    val all = CommitLog.commits(tmp)
    val out = Seq(
        ("v2_pre_race", snapshotRead(all.find(_.version == 2L).get)),
        ("v6_tip", snapshotRead(all.last)))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("snap", lit(name))
      }
      .reduce(_ unionByName _)
      .withColumn("n_versions", lit(all.size.toLong))
      .withColumn("n_forced_conflicts", lit((cA + (if (bLost) 1 else 0)).toLong))
      .withColumn("race_ok", lit(raceOk))
      .withColumn("delete_abort_ok", lit(deleteAborted))
      .select(col("snap"), col("n_rows"), col("sum_price"),
        col("n_versions"), col("n_forced_conflicts"), col("race_ok"),
        col("delete_abort_ok"))
      .orderBy(col("snap"))
    TmpDir.releasing(out, tmp)
  }

  private val srcCommitRaceSql =
    """SELECT 'v2_pre_race' AS snap, count(*) AS n_rows,
      | round(sum(o_totalprice), 2) AS sum_price,
      | CAST(7 AS BIGINT) AS n_versions,
      | CAST(1 AS BIGINT) AS n_forced_conflicts,
      | true AS race_ok, true AS delete_abort_ok
      |FROM orders WHERE o_orderkey % 6 IN (0, 1, 2)
      |UNION ALL
      |SELECT 'v6_tip', count(*), round(sum(o_totalprice), 2),
      | CAST(7 AS BIGINT), CAST(1 AS BIGINT), true, true
      |FROM orders WHERE o_orderkey % 6 IN (0, 1, 2, 3, 4)
      |  AND NOT (o_custkey % 10 = 7)
      |ORDER BY snap""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_commit_race" -> (srcCommitRace _),
    "src_table_lifecycle" -> (srcTableLifecycle _),
    "src_vacuum" -> (srcVacuum _),
    "src_as_of_timestamp" -> (srcAsOfTimestamp _),
    "src_table_stats" -> (srcTableStats _),
    "src_incremental_mv" -> (srcIncrementalMv _),
    "src_deletion_vectors" -> (srcDeletionVectors _),
    "src_txn_log" -> (srcTxnLog _),
    "src_write_audit" -> (srcWriteAudit _),
    "src_jsonl_roundtrip" -> (srcJsonlRoundtrip _),
    "src_manifest_pruning" -> (srcManifestPruning _),
    "src_csv_escapes" -> (srcCsvEscapes _),
    "src_codec_roundtrip" -> (srcCodecRoundtrip _),
    "src_dynamic_overwrite" -> (srcDynamicOverwrite _),
    "src_bucketed_join" -> (srcBucketedJoin _),
    "src_roundtrip" -> (srcRoundtrip _),
    "src_orc_roundtrip" -> (srcOrcRoundtrip _),
    "src_partitioned_write" -> (srcPartitionedWrite _),
    "src_zorder_layout" -> (srcZorderLayout _),
    "src_schema_evolution" -> (srcSchemaEvolution _),
    "src_compact_small_files" -> (srcCompactSmallFiles _))

  val oracles: Map[String, String] = Map(
    "src_commit_race" -> srcCommitRaceSql,
    "src_table_lifecycle" -> srcTableLifecycleSql,
    "src_table_stats" -> srcTableStatsSql,
    "src_as_of_timestamp" -> srcAsOfTimestampSql,
    "src_vacuum" -> srcVacuumSql,
    "src_incremental_mv" -> srcIncrementalMvSql,
    "src_deletion_vectors" -> srcDeletionVectorsSql,
    "src_txn_log" -> srcTxnLogSql,
    "src_write_audit" -> srcWriteAuditSql,
    "src_jsonl_roundtrip" -> srcJsonlRoundtripSql,
    "src_manifest_pruning" -> srcManifestPruningSql,
    "src_csv_escapes" -> srcCsvEscapesSql,
    "src_codec_roundtrip" -> srcCodecRoundtripSql,
    "src_dynamic_overwrite" -> srcDynamicOverwriteSql,
    "src_bucketed_join" -> srcBucketedJoinSql,
    "src_roundtrip" -> srcRoundtripSql,
    "src_orc_roundtrip" -> srcOrcRoundtripSql,
    "src_partitioned_write" -> srcPartitionedWriteSql,
    "src_zorder_layout" -> srcZorderLayoutSql,
    "src_schema_evolution" -> srcSchemaEvolutionSql,
    "src_compact_small_files" -> srcCompactSmallFilesSql)
}

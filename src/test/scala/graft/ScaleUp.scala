package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an sf1-scale dataset (10× sf0.1) for the scaling probe.
  *
  * Relational/event tables: each fact table is replicated `factor`
  * times with every entity key shifted by copy·OFF, so referential
  * joins (orders→customer, lineitem→orders/part/supplier,
  * events→customer) stay 1:1 instead of fanning out, and per-key
  * cardinalities match a genuinely bigger dataset. The nation/region
  * dimensions keep their natural size, exactly like a real TPC-H
  * scale-up.
  *
  * documents/embeddings: NATIVE-CARDINALITY content (VERDICT r7 ask
  * #7 — a key-shifted replica corpus both hides and overstates
  * dedup/ANN candidate growth, because every doc/vector suddenly has
  * `factor` exact twins). Copy 0 keeps the original rows verbatim
  * (including the generator's planted exact dupes); copies ≥ 1 get
  * FRESH content with matched statistics:
  *   - documents: new text resampled word-by-word from the source
  *     corpus's own per-language unigram distribution (1024-slot
  *     frequency table), preserving each doc's language and word
  *     count — so length/vocab/langid statistics match the original
  *     while shingle sets are effectively independent.
  *   - embeddings: original vector + deterministic per-coordinate
  *     noise scaled to 0.5× the corpus per-dimension stddev, label
  *     kept — new points land inside the same cluster geometry
  *     instead of on top of their source point.
  * All randomness is xxhash64(key, copy, position)-derived: the
  * corpus is bit-reproducible.
  *
  *   sbt "Test/runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1 10"
  */
object ScaleUp {

  private val OFF = 100000000L // far above any sf0.1 key

  /** Which columns are entity keys (shift by copy·OFF) per table. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the session reads events.ts TIMESTAMP(NANOS) as raw longs
    // (exactly as Tables.load does) and writes it back as BIGINT —
    // `ts DIV 1000` conversion downstream handles both encodings
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")

    def replicated(table: String, df: DataFrame): DataFrame =
      keyCols.get(table) match {
        case None => df // dimensions keep natural size
        case Some(keys) =>
          val copies = spark.range(factor).select(col("id").as("_copy"))
          keys.foldLeft(df.crossJoin(copies)) { (d, k) =>
            d.withColumn(k, col(k) + col("_copy") * OFF)
          }
      }

    /** documents: copy 0 verbatim; copies ≥ 1 resample every word from
      * the per-language unigram table, preserving language + word count.
      */
    def scaledDocuments(): DataFrame = {
      val df = spark.read.parquet(s"$srcDir/documents.parquet")
      // per-language 1024-slot unigram frequency table (vocab is tiny;
      // slots approximate the distribution to 1/1024)
      val byLang = df
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("lang", "w").count()
        .collect()
        .groupBy(_.getString(0))
        .map { case (lang, rows) =>
          val words = rows.map(r => (r.getString(1), r.getLong(2))).sortBy(_._1)
          val total = words.map(_._2).sum.toDouble
          val slots = new scala.collection.mutable.ArrayBuffer[String](1024)
          words.foreach { case (w, c) =>
            val k = math.max(1, math.round(c / total * 1024).toInt)
            (0 until k).foreach(_ => slots += w)
          }
          lang -> slots.take(1024).toSeq
        }
      import spark.implicits._
      val slotsDf = byLang.toSeq.toDF("lang", "slots")
      val rep = replicated("documents", df)
      rep
        .join(broadcast(slotsDf), Seq("lang"))
        .withColumn("text",
          when(col("_copy") === 0, col("text")).otherwise(expr(
            """concat_ws(' ', transform(
              |  sequence(1, size(split(text, ' '))),
              |  i -> element_at(slots, CAST(1 + pmod(xxhash64(doc_id, i), size(slots)) AS INT))))""".stripMargin)))
        .withColumn("n_chars", length(col("text")))
        .drop("slots", "_copy")
        .select(df.columns.map(col): _*)
    }

    /** embeddings: copy 0 verbatim; copies ≥ 1 jitter each coordinate
      * by ±0.5·stddev_j (deterministic), keeping the label.
      */
    def scaledEmbeddings(): DataFrame = {
      val df = spark.read.parquet(s"$srcDir/embeddings.parquet")
      val sigma = df
        .select(posexplode(col("embedding")).as(Seq("j", "x")))
        .groupBy("j").agg(stddev(col("x")).as("s"))
        .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
      val sigmaCol = array(sigma.map(lit): _*)
      replicated("embeddings", df)
        .withColumn("_sigma", sigmaCol)
        .withColumn("embedding",
          when(col("_copy") === 0, col("embedding")).otherwise(expr(
            """transform(embedding, (x, j) ->
              |  CAST(x + element_at(_sigma, j + 1) *
              |    (pmod(xxhash64(vec_id, j), 10000) / 10000.0 - 0.5) AS FLOAT))""".stripMargin)))
        .drop("_sigma", "_copy")
        .select(df.columns.map(col): _*)
    }

    def scaled(table: String): DataFrame = table match {
      case "documents" => scaledDocuments()
      case "embeddings" => scaledEmbeddings()
      case t => replicated(t, spark.read.parquet(s"$srcDir/$t.parquet")).drop("_copy")
    }

    (keyCols.keySet ++ Seq("region", "nation")).toSeq.sorted.foreach { t =>
      val out = s"$outDir/$t.parquet"
      // Fact tables: RANGE-partition on the leading entity key into 32
      // key-clustered files. The naive write inherited the source's single
      // partition, so every scaled table landed in ONE file with ONE row
      // group — scans then run as a single task however wide the executor
      // (a 57 MB documents.parquet serialized every text op at sf10).
      // 32 files ≈ local[32] width at either scale keeps factors
      // apples-to-apples, and key clustering preserves min/max pruning.
      val df = scaled(t)
      val laidOut = keyCols.get(t) match {
        case Some(keys) => df.repartitionByRange(32, col(keys.head))
        case None => df // dimensions keep their single tiny file
      }
      laidOut.write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"[scaleup] $t: $n rows -> $out")
    }
    spark.stop()
  }
}

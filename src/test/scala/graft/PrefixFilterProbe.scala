package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Phase profiler for dedup_prefix_filter.
  *   sbt "Test/runMain graft.PrefixFilterProbe target/sf1"
  */
object PrefixFilterProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[pf] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val repIds = docsDf.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val rep = docsDf.join(repIds, Seq("doc_id")).select(col("doc_id"), col("text"))
    val toksCol = expr(
      "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')")
    val grams = t("grams build + pin") {
      rep.withColumn("toks", toksCol)
        .select(col("doc_id"), expr(
          """array_sort(array_distinct(
            |  if(size(toks) >= 5,
            |    transform(sequence(1, size(toks) - 4),
            |      i -> concat_ws(' ', slice(toks, i, 5))),
            |    array())))""".stripMargin).as("g"))
        .filter(size(col("g")) >= 1)
        .withColumn("n", size(col("g")).cast("long"))
        .localCheckpoint(true)
    }
    val tk = grams.select(col("doc_id"), col("n"),
      explode(expr("transform(g, x -> xxhash64(x))")).as("gram"))
    val tkPinned = t("tk explode+hash") { tk.localCheckpoint(true) }
    val freq = t("freq agg") {
      tkPinned.groupBy(col("gram")).agg(count(lit(1)).as("df")).localCheckpoint(true)
    }
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    val prefix = t("prefix rank") {
      tkPinned.join(freq, "gram")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("n") - expr("(7 * n + 9) DIV 10") + 1)
        .localCheckpoint(true)
    }
    println(s"[pf] prefix rows: ${prefix.count()}")
    val pa = prefix.select(col("gram"), col("doc_id").as("id_a"), col("n").as("na"))
    val pb = prefix.select(col("gram"), col("doc_id").as("id_b"), col("n").as("nb"))
    val cand = t("cand self-join") {
      pa.join(pb, "gram")
        .filter(col("id_a") < col("id_b") &&
          lit(10L) * least(col("na"), col("nb")) >= lit(7L) * greatest(col("na"), col("nb")))
        .select(col("id_a"), col("id_b")).distinct()
        .localCheckpoint(true)
    }
    println(s"[pf] candidates: ${cand.count()}")
    t("verification") {
      cand.join(grams.select(col("doc_id").as("id_a"), col("g").as("ga")), Seq("id_a"))
        .join(grams.select(col("doc_id").as("id_b"), col("g").as("gb")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
        .withColumn("un", (size(col("ga")) + size(col("gb"))).cast("long") - col("inter"))
        .filter(col("inter") * 10L >= col("un") * 7L)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}

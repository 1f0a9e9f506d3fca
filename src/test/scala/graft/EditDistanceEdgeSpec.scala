package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** C15 (`dedup_edit_distance`) on inputs the generated corpora lack,
  * against its oracle SQL run by Spark on the same `documents` frame:
  * the range self-join `b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5`
  * with the oracle's capped-distance `CASE`.
  *
  * The frame holds supplementary-plane text (one code point, two UTF-16
  * units: a length counted in UTF-16 units moves `len` and the bound),
  * other non-ASCII text, empty and null text, duplicate texts (only the
  * lowest id of each stays a rep), pairs at and beyond the distance cap
  * of 144, ids near 2⁴⁰, and pairs on both sides of a 2¹⁴-id bucket
  * boundary.
  */
class EditDistanceEdgeSpec extends SparkSpec {

  private val T40 = 1L << 40
  private val Uni = "𝔘𝔫𝔦𝔠𝔬𝔡𝔢"
  private val Smile = "😀"

  private val docsRows: Seq[(Long, String)] = Seq(
    16380L -> "naïve café",
    16381L -> "naive cafe",
    16382L -> null,
    16383L -> s"$Uni text", // bucket 0 ...
    16384L -> s"$Uni test", // ... bucket 1: the pair straddles the boundary
    16385L -> "",
    16386L -> "naïve café", // duplicate of 16380
    16387L -> "你好世界，早上好",
    16388L -> "你好世界，晚上好",
    16389L -> s"$Uni tests",
    (T40 - 3) -> "x" * 400,
    (T40 - 2) -> ("x" * 256 + "y" * 144), // distance 144 to T40 - 3: at the cap
    (T40 - 1) -> ("x" * 255 + "y" * 145), // distance 145 to T40 - 3: beyond it
    T40 -> "a" * 600,
    (T40 + 1) -> "b" * 700,
    (T40 + 2) -> null,
    (T40 + 3) -> "x" * 400, // duplicate of T40 - 3
    (T40 + 4) -> s"$Smile emoji $Smile",
    (T40 + 5) -> s"$Smile emoji 😃",
    (T40 + 6) -> "", // duplicate of 16385
    (T40 + 10) -> s"$Uni text!",
    (T40 + 15) -> s"$Uni text?", // 5 ids after T40 + 10: in the window
    (T40 + 21) -> s"$Uni text.") // 6 ids after T40 + 15: outside it

  private lazy val dir: String = {
    val out = Files.createTempDirectory("graft_c15_edge").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(
        docsRows.map { case (id, t) => Row(id, t) }, 3), schema)
      .write.parquet(s"$out/documents.parquet")
    out
  }

  test("dedup_edit_distance equals its oracle SQL on edge inputs") {
    val view = "c15_edge_documents"
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView(view)
    val oracle = SparkEntry.oracleSql("dedup_edit_distance")
    assert(oracle.contains("FROM documents"))
    val want = spark.sql(oracle.replace("FROM documents", s"FROM $view"))
    val got = SparkEntry.queries("dedup_edit_distance")(spark, dir)
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType))
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    spark.catalog.dropTempView(view)
    assert(g == w, s"\ngot:  $g\nwant: $w")

    // the frame reaches the cases it is built for
    def pair(a: Long, b: Long) = g.find(r => r.getLong(0) == a && r.getLong(1) == b)
    assert(pair(16383L, 16384L).map(r => (r.getLong(2), r.getLong(5))).contains((12L, 1L)),
      "supplementary text across the bucket boundary: 12 code points, distance 1")
    assert(pair(T40 - 3, T40 - 2).map(_.getLong(5)).contains(144L))
    assert(pair(T40 - 3, T40 - 1).map(_.getLong(5)).contains(-1L))
    assert(pair(T40 - 1, T40).isDefined, "a pair across the bucket boundary at 2^40")
    assert(pair(T40 + 10, T40 + 15).isDefined && pair(T40 + 15, T40 + 21).isEmpty)
    assert(g.forall(r => r.getLong(0) != 16386L && r.getLong(1) != T40 + 3),
      "a duplicate text is no rep")
    assert(g.exists(_.getBoolean(6)) && g.exists(r => !r.getBoolean(6)))
  }
}

package graft

import graft.operators.BoundedOffsetPairs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** The bounded-offset pair window against brute force, and the C4/C8
  * queries built on it against a naive offset-explode equi-join.
  */
class BoundedOffsetPairsSpec extends SparkSpec {

  private val B = 1L << 14

  // ids cluster around bucket boundaries (multiples of 2^14) and
  // around 2^53, where a double division would misplace them
  private val center: Gen[Long] = Gen.oneOf(
    Gen.choose(0L, 3L).map(_ * B),
    Gen.choose(-1L, 1L).map(k => (1L << 53) + k * B))
  private val ids: Gen[Seq[Long]] =
    Gen.listOf(for (c <- center; o <- Gen.choose(-20L, 20L)) yield c + o)
      .map(_.filter(_ >= 0).distinct)

  test("emits exactly the pairs 0 < id_b - id_a <= maxOff, each once, with their payloads") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(ids, Gen.choose(1, 12)) { (xs, maxOff) =>
      // two payload columns: they cross the exchange flat and decode as a tuple
      val frame = xs.map(i => (i, -i, i.toString)).toDF("doc_id", "neg", "str")
      val got = BoundedOffsetPairs[(Long, String), (Long, Long, Boolean)](frame, maxOff) {
        _.map { case (a, (na, sa), b, (nb, sb)) =>
          (a, b, na == -a && sa == a.toString && nb == -b && sb == b.toString)
        }
      }.collect().toSeq
      val sorted = xs.sorted
      val want = for {
        a <- sorted; b <- sorted if b > a && b - a <= maxOff
      } yield (a, b)
      ((got.map(p => (p._1, p._2)).sorted == want) :|
        s"maxOff $maxOff, ids $sorted: got ${got.sorted}, want $want") &&
        (got.forall(_._3) :| s"payloads detached from their ids: $got")
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withWorkers(1)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  /** Every (id_a, id_b ≤ id_a + 10) document pair with its distinct
    * character-3-gram codes' intersection and set sizes, by the oracle
    * SQL's arithmetic: an offset-exploded equi-join, no buckets.
    */
  private def naivePairs: DataFrame = {
    val g = Tables.load(spark, sfDir, "documents").select(col("doc_id"), expr(
      """array_distinct(transform(sequence(1, greatest(length(text) - 2, 1)),
        |  i -> ascii(substring(text, i, 1)) * 17161
        |     + ascii(substring(text, i + 1, 1)) * 131
        |     + ascii(substring(text, i + 2, 1))))""".stripMargin).as("g"))
    g.select(col("doc_id").as("id_a"), col("g").as("ga"),
        explode(sequence(lit(1L), lit(10L))).as("off"))
      .withColumn("id_b", col("id_a") + col("off"))
      .join(g.select(col("doc_id").as("id_b"), col("g").as("gb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ga"), col("gb"))).as("inter"),
        size(col("ga")).as("na"), size(col("gb")).as("nb"))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))

  test("dedup_ngram_jaccard == naive offset-explode join (sf0.001)") {
    val got = rows(DedupQueries.queries("dedup_ngram_jaccard")(spark, sfDir))
    val want = rows(naivePairs.select(col("id_a"), col("id_b"),
      round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 4).as("jaccard")))
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("dedup_containment == naive offset-explode join (sf0.001)") {
    val got = rows(DedupQueries.queries("dedup_containment")(spark, sfDir))
    val want = rows(naivePairs.select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("na"), 4).as("cont_a_in_b"),
        round(col("inter").cast("double") / col("nb"), 4).as("cont_b_in_a"))
      .filter(col("cont_a_in_b") >= 0.5 || col("cont_b_in_a") >= 0.5))
    assert(want.nonEmpty)
    assert(got == want)
  }
}

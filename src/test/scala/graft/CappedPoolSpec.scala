package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.operators.CappedPool

/** [[CappedPool]] against brute force at caps that bind. The oracle
  * gate's scales never fill a `knn_graph`, `dedup_minhash_est` or
  * `pipeline_semdedup` pool, so only this spec sees the cap select:
  *   - `lowest` keeps exactly the `cap` smallest ids of each key;
  *   - `packed` has one row per `(tbl, key)` holding that key's pool,
  *     and bit `t` of a member's `poolmask` is set iff the id is in
  *     table `t`'s pool (of whatever key it has there).
  * Keys are skewed, so most cases put more than `cap` ids on one key.
  */
class CappedPoolSpec extends SparkSpec {
  import spark.implicits._

  /** One row per (id, table): `(doc_id, tbl, key)`, ids distinct. */
  private val rows: Gen[Seq[(Long, Int, Long)]] = for {
    tables <- Gen.choose(1, 3)
    n <- Gen.choose(1, 30)
    ids <- Gen.pick(n, 0L until 1000L)
    keys <- Gen.listOfN(n * tables,
      Gen.frequency(6 -> Gen.const(0L), 3 -> Gen.choose(1L, 2L), 1 -> Gen.choose(3L, 9L)))
  } yield for {
    (id, i) <- ids.toSeq.zipWithIndex
    t <- 0 until tables
  } yield (id, t, keys(i * tables + t))

  /** Brute force: the `cap` smallest ids of every `(tbl, key)`. */
  private def pools(rs: Seq[(Long, Int, Long)], cap: Int): Map[(Int, Long), Seq[Long]] =
    rs.groupBy(r => (r._2, r._3)).map { case (k, g) => k -> g.map(_._1).sorted.take(cap) }

  test("lowest and packed equal brute force at binding caps") {
    val prop = Prop.forAllNoShrink(rows, Gen.choose(1, 4)) { (rs, cap) =>
      val df = rs.toDF("doc_id", "tbl", "key").withColumn("sig", col("doc_id") * 7)
      val want = pools(rs, cap)
      val gotLowest = CappedPool.lowest(df, Seq("tbl", "key"), "doc_id", cap)
        .select("doc_id", "tbl", "key").as[(Long, Int, Long)].collect().toSet
      val wantLowest = want.toSeq.flatMap { case ((t, k), ids) => ids.map((_, t, k)) }.toSet
      val inPool = want.toSeq.flatMap { case ((t, _), ids) => ids.map(_ -> t) }.toSet
      val gotPacked = CappedPool.packed(df, "key", "doc_id", cap, col("sig"))
        .collect().map { r =>
          (r.getAs[Int]("tbl"), r.getAs[Long]("key")) ->
            r.getSeq[Row](r.fieldIndex("pool"))
              .map(m => (m.getLong(0), m.getLong(1), m.getLong(2))).sortBy(_._1)
        }.toMap
      val wantPacked = want.map { case (k, ids) =>
        k -> ids.map { id =>
          val mask = (0 until 3).filter(t => inPool((id, t))).map(1L << _).sum
          (id, id * 7, mask)
        }
      }
      val binds = want.keys.exists(k => rs.count(r => (r._2, r._3) == k) > cap)
      Prop.collect(if (binds) "binds" else "slack") {
        ((gotLowest == wantLowest) :| s"lowest $gotLowest != $wantLowest") &&
          ((gotPacked == wantPacked) :| s"packed $gotPacked != $wantPacked") :|
          s"cap $cap rows $rs"
      }
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(20).withWorkers(1)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(result.freqMap.getCount(Set("binds")).exists(_ >= 10),
      s"the cap must bind in most cases: ${result.freqMap}")
  }
}

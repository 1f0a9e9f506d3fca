package graft

import org.apache.spark.sql.functions._

/** C14's r10 signature-family decomposition (closed-form family pairs
  * + n_a·n_b-weighted rep pairs + in-task windowed flags) must equal
  * the naive shape it replaced — materialize every banded candidate
  * pair, distinct, then count — on the registry corpus, and its
  * windowed truth counters must equal a naive shingle-set truth. This
  * is the exact-pair-identity contract that keeps the unchanged DuckDB
  * oracle valid after the sf100 spill-death rewrite.
  */
class LshSweepParitySpec extends SparkSpec {

  test("dedup_lsh_sweep == naive banded-candidate counts (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val out = DedupQueries.queries("dedup_lsh_sweep")(spark, dir)
      .orderBy("rows_per_band").collect().map(_.toSeq)

    // the pre-r10 shape, verbatim: every candidate pair becomes a row
    import spark.implicits._
    val reps = Tables.load(spark, dir, "documents")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val vals = DedupQueries.minhashValuesFor(reps)
    val rs = Seq(4, 8, 16).toDF("r")
    val bands = vals.crossJoin(broadcast(rs))
      .groupBy(col("r"), col("doc_id"), expr("j DIV r").as("band_id"))
      .agg(expr("bit_xor((m * 131 + j) % 1000000007)").as("band_hash"))
    val cand = bands
      .select(col("r"), col("band_id"), col("band_hash"), col("doc_id").as("id_a"))
      .join(bands.select(col("r"), col("band_id"), col("band_hash"),
        col("doc_id").as("id_b")), Seq("r", "band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("r"), col("id_a"), col("id_b")).distinct()
    val naive = cand.groupBy(col("r"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("id_b") <= col("id_a") + 10, 1L).otherwise(0L))
          .as("n_window_candidates"))
      .orderBy(col("r")).collect()
      .map(row => (row.getInt(0).toLong, row.getLong(1), row.getLong(2)))

    // the exact truth, naively: distinct word-3-shingle hashes of the
    // reps with at least one token (the query's doc set: a signature
    // needs one), an offset-exploded (id_b, p) equi-join over
    // id_b ∈ (id_a, id_a + 10], and the oracle's 3·nshared ≥ na + nb
    val ph = reps.select(col("doc_id"), DedupQueries.tokensCol.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), explode(expr("transform(sequence(0, " +
        "greatest(size(tk) - 3, 0)), i -> array_join(slice(tk, i + 1, 3), ' '))")).as("sh"))
      .select(col("doc_id"), expr("aggregate(transform(sequence(1, length(sh)), " +
        "i -> ascii(substring(sh, i, 1))), 7L, (acc, c) -> (acc * 31 + c) % 1000000007)")
        .as("p"))
      .distinct()
    val sizes = ph.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val truth = ph.select(col("doc_id").as("id_a"), col("p"),
        explode(sequence(lit(1L), lit(10L))).as("off"))
      .withColumn("id_b", col("id_a") + col("off"))
      .join(ph.select(col("doc_id").as("id_b"), col("p")), Seq("id_b", "p"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("nshared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
      .filter(col("nshared") * 3 >= col("na") + col("nb"))
      .select(col("id_a"), col("id_b"))
    val nTruth = truth.count()
    val found = cand.filter(col("id_b") <= col("id_a") + 10)
      .join(truth, Seq("id_a", "id_b"))
      .groupBy(col("r")).agg(count(lit(1))).collect()
      .map(row => row.getInt(0).toLong -> row.getLong(1)).toMap

    assert(out.map(_(1)) sameElements naive.map(_._1)) // r
    assert(out.map(_(2)) sameElements naive.map(_._2)) // n_candidates
    assert(out.map(_(3)) sameElements naive.map(_._3)) // windowed
    assert(out.map(_(4)) sameElements naive.map(r => found.getOrElse(r._1, 0L))) // n_true_found
    assert(nTruth > 0 && out.forall(_(5) == nTruth)) // n_true_total
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search suite (SURVEY §2.D) over `embeddings`.
  *
  * Scale design: the brute-force path broadcasts the (small) query
  * set against the full corpus — one scan, no shuffle of the corpus;
  * the LSH path turns ANN into an equi-join on a sign-projection
  * bucket so candidate generation shuffles only bucket-local rows.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  // D1 — exact top-10 cosine neighbors for query vectors (vec_id ≤ 5).
  private def knnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = all.select(col("vec_id").as("nid"), col("v").as("nv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    c.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("nid"), (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  private val knnBruteforceSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      | q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 5),
      | s AS (SELECT qid, e.vec_id AS nid,
      |         list_dot_product(qv, v) /
      |         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
      |       FROM q JOIN e ON e.vec_id <> qid),
      | r AS (SELECT qid, nid, cos,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn
      |       FROM s)
      |SELECT qid, rn, nid, round(cos, 4) + 0 AS cos_sim FROM r WHERE rn <=10
      |ORDER BY qid, rn""".stripMargin

  // D2 — multi-table random-hyperplane LSH ANN: candidates are
  // bucket-mates in any of 8 tables × 8 sign bits (seeded SQL-portable
  // hyperplanes, shared with dedup_embedding), top-5 by exact cosine.
  // Recall-vs-bruteforce on planted clusters is proven in
  // LshRecallSpec.
  private def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") <= 20).select(col("vec_id"), col("v"))
    graft.operators.RandomHyperplaneLsh
      .knn(all.select(col("vec_id"), col("v")), q, "vec_id", "v",
        k = 5, tables = 8, bits = 8, dim = 64)
  }

  private val knnLshSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pl AS (SELECT p, list_transform(generate_series(0, 63), d ->
      |        CAST(((1103*(p*64+d)+12289) % 8191) - 4095 AS DOUBLE)) AS w
      |       FROM (SELECT unnest(generate_series(0, 63)) AS p) ps),
      |bk AS (SELECT e.vec_id, p // 8 AS tbl,
      |        sum(CASE WHEN list_dot_product(v, w) >= 0 THEN 1 << (p % 8) ELSE 0 END) AS bucket
      |       FROM e CROSS JOIN pl GROUP BY e.vec_id, p // 8),
      |q AS (SELECT * FROM bk WHERE vec_id <= 20),
      |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
      |         FROM q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
      |          AND c.vec_id <> q.vec_id),
      |s AS (SELECT qid, nid,
      |        list_dot_product(x.v, y.v) /
      |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
      |      FROM cand JOIN e x ON x.vec_id = qid JOIN e y ON y.vec_id = nid),
      |r AS (SELECT qid, nid, cos,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn
      |      FROM s)
      |SELECT qid, rn, nid, round(cos, 4) + 0 AS cos_sim FROM r WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  // D5 — IVF (inverted-file) ANN: a 16-centroid coarse quantizer
  // partitions the corpus into inverted lists; each query probes its
  // 2 nearest centroids and ranks only those lists by exact cosine.
  // Centroids are SEEDED (the vectors of vec_id < 16) rather than
  // k-means-trained — training is orthogonal to the distributed
  // shape (assignment = one broadcast join + per-vector argmin;
  // search touches nprobe/K of the corpus), and seeding keeps every
  // step replayable in the DuckDB oracle. At scale: K grows with
  // corpus size, lists become bucketed tables, probe stays an
  // equi-join on centroid id.
  private def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir).select(col("vec_id"), col("v"))
    val cent = all.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // corpus-side list build rides IvfIndex.assignOne: argmin over a
    // broadcast centroid array — no n·k row explode, no window shuffle
    // on the corpus (same (dist², cid) tiebreak as the window path, so
    // the oracle replays unchanged); the window rank survives only on
    // the PROBE side, where multi-probe needs keep=2 over 11 queries
    val lists = graft.operators.IvfIndex.assign(all, cent, "vec_id", "v", keep = 1)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cid"))
    val probes = graft.operators.IvfIndex
      .assign(all.filter(col("vec_id") <= 10), cent, "vec_id", "v", keep = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  // D25 — PERSISTED IVF index (index-as-layout): at 100 TB an ANN
  // index is not an in-session join but a STORED layout — the
  // inverted lists are written ONCE as a cid-partitioned parquet
  // table, and each query touches only its probed partitions. The
  // probe side broadcasts, so Spark's dynamic partition pruning
  // plants a DynamicPruningExpression in the list scan's
  // PartitionFilters: only nprobe/K of the index FILES are read —
  // the LanceDB-style serve-from-index story (reference store.py's
  // create_index/search) expressed as pure table layout. Same seeded
  // centroids, probes, and ranking as D5, so results — and the
  // oracle — are exactly knn_ivf's; what changes is the physical
  // plan, which QueriesSpec pins (the builder WARNs if pruning ever
  // stops compiling in).
  private def knnIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir).select(col("vec_id"), col("v"))
    val cent = all.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val tmp = TmpDir.scratch("ivf_persist")
    graft.operators.IvfIndex.assign(all, cent, "vec_id", "v", keep = 1)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cid"))
      .write.partitionBy("cid").parquet(tmp)
    val lists = s.read.parquet(tmp)
    val probes = graft.operators.IvfIndex
      .assign(all.filter(col("vec_id") <= 10), cent, "vec_id", "v", keep = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val ranked = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
    if (!ranked.queryExecution.executedPlan.toString.contains("dynamicpruning"))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "knn_ivf_persisted list scan compiled without dynamic partition " +
          "pruning - the probed-partition-only read is the point of the layout")
    TmpDir.releasing(ranked, tmp)
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  private val knnIvfSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |ad AS (SELECT e.vec_id, e.v, cent.cid,
      |         list_dot_product(e.v, e.v)
      |         - 2 * list_dot_product(e.v, cent.cv)
      |         + list_dot_product(cent.cv, cent.cv) AS dist2
      |       FROM e CROSS JOIN cent),
      |ar AS (SELECT vec_id, v, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS crn
      |       FROM ad),
      |lists AS (SELECT vec_id AS nid, v AS nv, cid FROM ar WHERE crn = 1),
      |probes AS (SELECT vec_id AS qid, v AS qv, cid FROM ar
      |           WHERE crn <= 2 AND vec_id <= 10),
      |s AS (SELECT p.qid, l.nid,
      |        list_dot_product(p.qv, l.nv) /
      |        (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(l.nv, l.nv))) AS cos
      |      FROM lists l JOIN probes p USING (cid) WHERE l.nid <> p.qid),
      |r AS (SELECT qid, nid, cos,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn
      |      FROM s)
      |SELECT qid, rn, nid, round(cos, 4) + 0 AS cos_sim FROM r WHERE rn <= 3
      |ORDER BY qid, rn""".stripMargin

  // D13 — FILTERED ANN (hybrid search): the metadata-predicate +
  // vector query every vector store serves ("top-k within my
  // tenant/language/domain"). The label predicate applies INSIDE the
  // probed list scan — candidates must already satisfy
  // nlabel = qlabel before ranking, so filtered search costs
  // nprobe/K · selectivity of the corpus (a post-filter over an
  // unfiltered top-k can come back EMPTY when the filter is
  // selective; pre-filtering the whole corpus re-scans everything —
  // in-list filtering is the shape vector stores actually ship). At
  // scale the lists are bucketed tables and the predicate is a pushed
  // parquet filter on the list scan. Seeded centroids (D5's contract)
  // keep both the IVF path AND the filtered brute-force reference
  // fully replayable in the oracle; in_bf marks each probed hit
  // against the exact filtered top-3.
  private def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val cent = all.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val lists = graft.operators.IvfIndex.assign(
        all.select(col("vec_id"), col("v")), cent, "vec_id", "v", keep = 1)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cid"))
      .join(all.select(col("vec_id").as("nid"), col("label").as("nlabel")), Seq("nid"))
    val probes = graft.operators.IvfIndex.assign(
        all.filter(col("vec_id") <= 10).select(col("vec_id"), col("v")),
        cent, "vec_id", "v", keep = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cid"))
      .join(all.select(col("vec_id").as("qid"), col("label").as("qlabel")), Seq("qid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val ivf = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid") && col("nlabel") === col("qlabel"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
    val q = all.filter(col("vec_id") <= 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("label").as("qlabel"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"), col("label").as("nlabel"))
      .join(broadcast(q), col("nid") =!= col("qid") && col("nlabel") === col("qlabel"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid").as("bqid"), col("nid").as("bnid"), lit(1L).as("hit"))
    ivf.join(broadcast(bf), col("qid") === col("bqid") && col("nid") === col("bnid"), "left")
      .withColumn("in_bf", col("hit").isNotNull)
      .select(col("qid"), col("rn"), col("nid"), col("cos_sim"), col("in_bf"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  private val knnFilteredSql =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |ad AS (SELECT e.vec_id, e.v, e.label, cent.cid,
      |         list_dot_product(e.v, e.v)
      |         - 2 * list_dot_product(e.v, cent.cv)
      |         + list_dot_product(cent.cv, cent.cv) AS dist2
      |       FROM e CROSS JOIN cent),
      |ar AS (SELECT vec_id, v, label, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS crn
      |       FROM ad),
      |lists AS (SELECT vec_id AS nid, v AS nv, label AS nlabel, cid FROM ar WHERE crn = 1),
      |probes AS (SELECT vec_id AS qid, v AS qv, label AS qlabel, cid FROM ar
      |           WHERE crn <= 2 AND vec_id <= 10),
      |si AS (SELECT p.qid, l.nid,
      |        list_dot_product(p.qv, l.nv) /
      |        (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(l.nv, l.nv))) AS cos
      |      FROM lists l JOIN probes p USING (cid)
      |      WHERE l.nid <> p.qid AND l.nlabel = p.qlabel),
      |ri AS (SELECT qid, nid, cos,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn
      |      FROM si),
      |ivf AS (SELECT qid, rn, nid, round(cos, 4) + 0 AS cos_sim FROM ri WHERE rn <= 3),
      |q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id <= 10),
      |sb AS (SELECT q.qid, e.vec_id AS nid,
      |        list_dot_product(q.qv, e.v) /
      |        (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
      |      FROM q JOIN e ON e.vec_id <> q.qid AND e.label = q.qlabel),
      |rb AS (SELECT qid, nid,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM sb),
      |bf AS (SELECT qid, nid FROM rb WHERE rn <= 3)
      |SELECT i.qid, i.rn, i.nid, i.cos_sim, (bf.nid IS NOT NULL) AS in_bf
      |FROM ivf i LEFT JOIN bf ON bf.qid = i.qid AND bf.nid = i.nid
      |ORDER BY i.qid, i.rn""".stripMargin

  // D14 — MATRYOSHKA retrieval (prefix-dimension coarse rank + full-
  // dimension re-rank): embeddings trained with matryoshka loss carry
  // their information front-loaded, so the first 16 of 64 dims rank a
  // shortlist at 1/4 the distance cost and only the shortlist pays
  // full-dimension scoring — the two-pass serving shape MRL deployments
  // use (and it composes with any of the D5-D12 index tiers, which
  // would produce the candidate stream instead of the scan here). Both
  // passes are deterministic dot products, so the oracle replays
  // coarse AND fine rankings exactly; in_full marks each returned hit
  // against the full-dimension brute-force top-5.
  private def knnMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") <= 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        expr("slice(v, 1, 16)").as("qp"))
    val cand = all
      .select(col("vec_id").as("nid"), col("v").as("nv"),
        expr("slice(v, 1, 16)").as("np"))
      .join(broadcast(q), col("nid") =!= col("qid"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("cos16").desc, col("nid"))
    val shortlist = cand
      .withColumn("cos16", VectorOps.cosine(col("qp"), col("np")))
      .withColumn("crn", row_number().over(wc).cast("long"))
      .filter(col("crn") <= 20)
    val wf = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val reranked = shortlist
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wf).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q.select(col("qid"), col("qv"))), col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wf).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid").as("bqid"), col("nid").as("bnid"), lit(1L).as("hit"))
    reranked
      .join(broadcast(bf), col("qid") === col("bqid") && col("nid") === col("bnid"), "left")
      .withColumn("in_full", col("hit").isNotNull)
      .select(col("qid"), col("rn"), col("nid"), col("cos_sim"), col("in_full"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  private val knnMatryoshkaSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv, v[1:16] AS qp FROM e WHERE vec_id <= 10),
      |sc AS (SELECT q.qid, e.vec_id AS nid, e.v AS nv, q.qv,
      |        list_dot_product(q.qp, e.v[1:16]) /
      |        (sqrt(list_dot_product(q.qp, q.qp)) *
      |         sqrt(list_dot_product(e.v[1:16], e.v[1:16]))) AS cos16
      |      FROM q JOIN e ON e.vec_id <> q.qid),
      |sl AS (SELECT qid, nid, nv, qv, cos16,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos16 DESC, nid) AS crn
      |      FROM sc),
      |fr AS (SELECT qid, nid,
      |        list_dot_product(qv, nv) /
      |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS cos
      |      FROM sl WHERE crn <= 20),
      |rr AS (SELECT qid, nid, cos,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn
      |      FROM fr),
      |res AS (SELECT qid, rn, nid, round(cos, 4) + 0 AS cos_sim FROM rr WHERE rn <= 5),
      |sb AS (SELECT q.qid, e.vec_id AS nid,
      |        list_dot_product(q.qv, e.v) /
      |        (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
      |      FROM q JOIN e ON e.vec_id <> q.qid),
      |rb AS (SELECT qid, nid,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM sb),
      |bf AS (SELECT qid, nid FROM rb WHERE rn <= 5)
      |SELECT r.qid, r.rn, r.nid, r.cos_sim, (bf.nid IS NOT NULL) AS in_full
      |FROM res r LEFT JOIN bf ON bf.qid = r.qid AND bf.nid = r.nid
      |ORDER BY r.qid, r.rn""".stripMargin

  // D6 — IVF with a TRAINED coarse quantizer: deterministic seeded
  // k-means (fixed Lloyd iterations, spread init by xxhash64(id),
  // centroid sync O(k·dim) per iteration) replaces D5's seeded
  // centroids. DuckDB can't replay float k-means, so the oracle is the
  // I1/I2 pattern: exact DuckDB-replayable values (query count +
  // average brute-force top-1 cosine) beside a boolean asserting the
  // trained index's macro recall@3 vs brute force clears 0.7 — the row
  // hash-matches only if training actually produced a working index.
  // IvfSpec additionally proves trained ≥ seeded recall on clustered
  // data.
  private def knnIvfTrained(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    // The raw embeddings are isotropic noise — NO corpus structure, so
    // no coarse quantizer (trained or not) can concentrate true
    // neighbors into cells; IVF recall on such data is ~nprobe/K by
    // construction. Derive a clustered corpus instead: shift each
    // vector by a label-keyed center from the same integer-LCG family
    // as the LSH planes — exact in double arithmetic, so DuckDB
    // replays the corpus (and its brute-force top-k) bit-for-bit while
    // k-means gets real structure to find.
    val all = emb(s, dir)
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d -> element_at(v, d + 1) +
          | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
          |   / 8191.0D)""".stripMargin).as("v"))
    val q = all.filter(col("vec_id") <= 10)
    // sampled Lloyd (VERDICT r5 #10 / D19's move): quantizer quality
    // needs a representative sample, not the corpus — the brute-force
    // recall contract is unchanged and the sf0.1 suite drops ~3 s
    val cent = IvfIndex.trainCentroidsSampled(all, "vec_id", "v",
      k = 12, iters = 4, sampleCap = 1024)
    val ivf = IvfIndex.search(all, q, cent, "vec_id", "v", nprobe = 2, k = 3)
      .select(col("qid"), col("nid"))
    // brute-force top-3: the exact reference the oracle replays
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
    val hits = bf.select(col("qid"), col("nid")).join(ivf, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    bf.groupBy(col("qid"))
      .agg(max(when(col("rn") === 1, col("cos"))).as("top1_cos"))
      .join(hits, Seq("qid"), "left")
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (round(avg(col("top1_cos")), 4) + lit(0.0)).as("avg_top1_cos"),
        (avg(coalesce(col("n_hit"), lit(0L)) / 3.0) >= 0.7).as("ivf_recall_ok"))
  }

  private val knnIvfTrainedSql =
    """WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
      |e AS (SELECT vec_id, list_transform(generate_series(0, 63), d ->
      |        v0[d + 1] +
      |        CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
      |          / 8191.0) AS v
      |      FROM e0),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 10),
      |s AS (SELECT qid, e.vec_id AS nid,
      |        list_dot_product(qv, v) /
      |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
      |      FROM q JOIN e ON e.vec_id <> qid),
      |r AS (SELECT qid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      |      FROM s),
      |t AS (SELECT qid, max(CASE WHEN rn = 1 THEN cos END) AS top1_cos
      |      FROM r WHERE rn <= 3 GROUP BY qid)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  round(avg(top1_cos), 4) + 0 AS avg_top1_cos,
      |  true AS ivf_recall_ok
      |FROM t""".stripMargin

  // D8 — QUANTIZED IVF search (the FAISS IVF-SQ shape): inverted
  // lists store int8 affine codes (D7's scheme — 4× smaller than the
  // raw doubles, which at 100 TB is the difference between lists that
  // fit in memory and lists that don't); probing scores candidates on
  // DEQUANTIZED codes, keeps an approx top-6 pool, and re-ranks it
  // EXACTLY by joining the pool back to the full-precision vectors by
  // id — so quantization error can reorder the pool but not corrupt
  // the final scores. Same clustered corpus + recall contract as D6.
  private def knnIvfQuantized(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    val all = emb(s, dir)
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d -> element_at(v, d + 1) +
          | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
          |   / 8191.0D)""".stripMargin).as("v"))
    val q = all.filter(col("vec_id") <= 10)
    val cent = IvfIndex.trainCentroidsSampled(all, "vec_id", "v",
      k = 12, iters = 4, sampleCap = 1024) // sampled Lloyd, D6's note
    // inverted lists carry ONLY codes (nid, cid, mn, scale, qv)
    val coded = IvfIndex.assign(all, cent, "vec_id", "v", keep = 1)
      .withColumn("mn", array_min(col("v")))
      .withColumn("scale", (array_max(col("v")) - col("mn")) / 255.0)
      .withColumn("qv", expr(
        """transform(v, x -> CASE WHEN scale = 0D THEN 0L
          | ELSE least(CAST(floor((x - mn) / scale) AS BIGINT), 255L) END)""".stripMargin))
      .select(col("vec_id").as("nid"), col("cid"), col("mn"), col("scale"), col("qv"))
    val probes = IvfIndex.assign(q, cent, "vec_id", "v", keep = 2)
      .select(col("vec_id").as("qid"), col("v").as("pqv"), col("cid"))
    val dequant = expr("transform(qv, c -> mn + c * scale)")
    val wA = Window.partitionBy(col("qid")).orderBy(col("approx_cos").desc, col("nid"))
    val pool = coded.join(probes, Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("approx_cos", VectorOps.cosine(col("pqv"), dequant))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= 6)
      .select(col("qid"), col("pqv"), col("nid"))
    // exact re-rank: pool ids join back to full-precision vectors
    val wE = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val ivf = pool.join(all.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
      .withColumn("cos", VectorOps.cosine(col("pqv"), col("nv")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
    val hits = bf.select(col("qid"), col("nid")).join(ivf, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    bf.groupBy(col("qid"))
      .agg(max(when(col("rn") === 1, col("cos"))).as("top1_cos"))
      .join(hits, Seq("qid"), "left")
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (round(avg(col("top1_cos")), 4) + lit(0.0)).as("avg_top1_cos"),
        (avg(coalesce(col("n_hit"), lit(0L)) / 3.0) >= 0.7).as("ivf_recall_ok"))
  }

  // D9 — PRODUCT-QUANTIZED ANN (the FAISS PQ/ADC shape): 64 dims →
  // 8 subspaces × 16-code codebooks, so each corpus vector is 8 codes
  // (~64× smaller than the doubles — at 100 TB the difference between
  // an index that fits in cluster memory and one that doesn't). All 8
  // codebooks train together (one Lloyd job per iteration over
  // (id, sub) rows); search scores candidates via the per-query ADC
  // lookup table (sum of 8 broadcast-joined partials, never a full
  // multiply), pools an approx top-6, and re-ranks the pool EXACTLY
  // against the full-precision vectors. Same clustered corpus + recall
  // contract as D6/D8; PqSpec proves codebook shape, code compression
  // and recall ≥ the flat-scan bound.
  private def knnPq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuantizer
    val all = emb(s, dir)
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d -> element_at(v, d + 1) +
          | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
          |   / 8191.0D)""".stripMargin).as("v"))
    val q = all.filter(col("vec_id") <= 10)
    // codebooks train on a 1024-vector xxhash sample (D19's move);
    // the encode pass still covers the full corpus
    val book = ProductQuantizer.train(
      all.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(1024)
        .localCheckpoint(true),
      "vec_id", "v", m = 8, dim = 64, k = 16, iters = 3)
    val codes = ProductQuantizer.assignCodes(
      ProductQuantizer.subVectors(all, "vec_id", "v", m = 8, dim = 64), book)
    // pool ≥ the largest label cluster (~59 at sf0.01): PQ codes tie
    // cluster-mates (see PqSpec), so the pool must cover the collision
    // set for the exact re-rank to recover the true top-3. 64/500 of
    // the corpus still never touches full vectors during scoring.
    val pool = ProductQuantizer.adcTopPool(codes, book, q, "vec_id", "v",
      m = 8, dim = 64, pool = 64)
    // exact re-rank of the ADC pool against full-precision vectors
    val wE = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val pq = pool
      .join(all.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))), Seq("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
    val hits = bf.select(col("qid"), col("nid")).join(pq, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    bf.groupBy(col("qid"))
      .agg(max(when(col("rn") === 1, col("cos"))).as("top1_cos"))
      .join(hits, Seq("qid"), "left")
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (round(avg(col("top1_cos")), 4) + lit(0.0)).as("avg_top1_cos"),
        (avg(coalesce(col("n_hit"), lit(0L)) / 3.0) >= 0.7).as("ivf_recall_ok"))
  }

  // D10 — RADIUS search (τ-ball retrieval): every neighbor with
  // cosine ≥ τ, the range-query complement to top-k (dedup thresholds
  // and "related items above a floor" use this, not a fixed k).
  // Result cardinality is data-driven, so no window/rank — one
  // broadcast of the query set, one corpus scan, a codegen'd cosine
  // and a filter; the LSH tier (D2) is the scale path when τ is high
  // enough to make candidates sparse.
  private def knnRadius(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .filter(col("cos") >= 0.25)
      .select(col("qid"), col("nid"), (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("nid")))
  }

  private val knnRadiusSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 3),
      |s AS (SELECT qid, e.vec_id AS nid,
      |        list_dot_product(qv, v) /
      |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
      |      FROM q JOIN e ON e.vec_id <> qid)
      |SELECT qid, nid, round(cos, 4) + 0 AS cos_sim
      |FROM s WHERE cos >= 0.25 ORDER BY qid, nid""".stripMargin

  // D3 — per-label vector norm statistics.
  private def vecNormStats(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("nrm", VectorOps.norm(col("v")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")), 4).as("avg_norm"),
        round(min(col("nrm")), 4).as("min_norm"),
        round(max(col("nrm")), 4).as("max_norm"))
      .orderBy(col("label"))

  private val vecNormStatsSql =
    """WITH e AS (SELECT label, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                CAST(embedding AS DOUBLE[]))) AS nrm
      |           FROM embeddings)
      |SELECT label, count(*) AS n, round(avg(nrm), 4) AS avg_norm,
      |  round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  // D4 — higher-order array functions over vectors: filter/exists
  // composition per label.
  private def vecHofStats(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("n_neg", size(expr("filter(v, x -> x < 0)")).cast("long"))
      .withColumn("has_big",
        when(size(expr("filter(v, x -> x > 1.5)")) > 0, 1L).otherwise(0L))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(avg(col("n_neg")), 4).as("avg_neg_dims"),
        sum(col("has_big")).as("n_with_big_dim"))
      .orderBy(col("label"))

  private val vecHofStatsSql =
    """WITH e AS (
      | SELECT label,
      |  len(list_filter(CAST(embedding AS DOUBLE[]), x -> x < 0)) AS n_neg,
      |  CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 1.5)) > 0
      |       THEN 1 ELSE 0 END AS has_big
      | FROM embeddings)
      |SELECT label, count(*) AS n, round(avg(n_neg), 4) AS avg_neg_dims,
      | CAST(sum(has_big) AS BIGINT) AS n_with_big_dim
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  // D7 — int8 scalar quantization: per-vector min/max affine codes
  // (q = floor((x - mn)/scale), clamped to [0, 255]) — the 4×
  // embedding-storage compression step an ANN index at 100 TB applies
  // before IVF/LSH. floor (not round) keeps the arithmetic tie-free,
  // so the code SUMS replay exactly in DuckDB; the reconstruction
  // bound |x - (mn + q·scale)| ≤ scale is checked as a boolean.
  private def vecQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val mn = array_min(col("v"))
    val mx = array_max(col("v"))
    emb(s, dir)
      .withColumn("mn", mn).withColumn("mx", mx)
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .withColumn("qv", expr(
        """transform(v, x -> CASE WHEN scale = 0D THEN 0L
          | ELSE least(CAST(floor((x - mn) / scale) AS BIGINT), 255L) END)""".stripMargin))
      .withColumn("max_err", expr(
        "array_max(zip_with(v, qv, (x, q) -> abs(x - (mn + q * scale))))"))
      .select(col("vec_id"), size(col("v")).cast("long").as("n_dims"),
        expr("aggregate(qv, 0L, (acc, q) -> acc + q)").as("sum_q"),
        (col("max_err") <= col("scale") * 1.0000001 + 1e-12).as("bound_ok"),
        (round(col("mn"), 4) + lit(0.0)).as("mn_r"),
        (round(col("mx"), 4) + lit(0.0)).as("mx_r"))
      .orderBy(col("vec_id"))
  }

  private val vecQuantizeInt8Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
      |        (list_max(v) - list_min(v)) / 255.0 AS scale FROM e),
      |q AS (SELECT vec_id, v, mn, mx, scale,
      |        list_transform(v, x -> CASE WHEN scale = 0 THEN 0
      |          ELSE least(CAST(floor((x - mn) / scale) AS BIGINT), 255) END) AS qv
      |      FROM p)
      |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
      | CAST(list_sum(qv) AS BIGINT) AS sum_q,
      | list_max(list_transform(generate_series(1, len(v)),
      |   i -> abs(v[i] - (mn + qv[i] * scale)))) <= scale * 1.0000001 + 1e-12 AS bound_ok,
      | round(mn, 4) + 0 AS mn_r, round(mx, 4) + 0 AS mx_r
      |FROM q ORDER BY vec_id""".stripMargin

  /** Greedy MMR selection (Carbonell & Goldstein 1998) over a
    * candidate pool (qid, nid, nv, rel): pick `rounds` items
    * maximizing 0.7·relevance − 0.3·max-sim-to-already-selected.
    * Candidate-candidate sims are a per-query pool×pool self-join,
    * never corpus-wide; the greedy argmax ties on nid. Returns
    * (qid, nid, rank, rel).
    *
    * The greedy runs on the DRIVER over the collected pool (r10): the
    * pool is top-12 per query over a FIXED query set, so the collect
    * is ≤ 12·|Q| rows ≈ 40 KB at ANY corpus scale — a bounded driver
    * artifact like BpeTrainer's per-round argmax, not a corpus
    * collect. The r9 shape ran each greedy round as a checkpointed
    * Spark job (pool + pairs checkpoints + 4 rounds = 6 jobs per
    * chain, pure scheduler latency for ≤ 660-row inputs). Float
    * semantics replicate the Catalyst path exactly: DotProductExpr's
    * sequential left fold, Math.sqrt norms, (0.7·rel) − (0.3·pen),
    * java.lang.Double.compare ordering with the nid tie-break —
    * MmrSelectSpec pins equality against the r9 per-round DataFrame
    * formula, ties included.
    */
  private[graft] def mmrGreedy(
      rows: Seq[(Long, Long, Array[Double], Double)],
      rounds: Int): Seq[(Long, Long, Long, Double)] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // (score desc, nid asc) — row_number's ordering on (score, nid)
    def beats(s1: Double, n1: Long, s2: Double, n2: Long): Boolean = {
      val c = java.lang.Double.compare(s1, s2)
      c > 0 || (c == 0 && n1 < n2)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    rows.groupBy(_._1).foreach { case (qid, cands0) =>
      val cands = cands0.map(t => (t._2, t._3, t._4)).sortBy(_._1)
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      for (r <- 1 to rounds) {
        var bestNid = -1L; var bestScore = 0.0; var bestRel = 0.0
        var bestV: Array[Double] = null
        cands.foreach { case (nid, nv, rel) =>
          if (!selected.exists(_._1 == nid)) {
            val score =
              if (r == 1) rel
              else {
                var pen = 0.0; var hasPen = false
                selected.foreach { case (_, bv) =>
                  val sim = cos(nv, bv)
                  // max() aggregate semantics: NaN greatest, like Spark
                  if (!hasPen || java.lang.Double.compare(sim, pen) > 0) {
                    pen = sim; hasPen = true
                  }
                }
                0.7 * rel - 0.3 * pen
              }
            if (bestV == null || beats(score, nid, bestScore, bestNid)) {
              bestNid = nid; bestScore = score; bestRel = rel; bestV = nv
            }
          }
        }
        if (bestV != null) {
          selected += ((bestNid, bestV))
          out += ((qid, bestNid, r.toLong, bestRel))
        }
      }
    }
    out.toSeq
  }

  private def mmrSelect(pool0: DataFrame, rounds: Int = 5,
      maxPool: Int = 4096): DataFrame = {
    val spark = pool0.sparkSession
    import spark.implicits._
    val collected = pool0.select(col("qid"), col("nid"), col("nv"), col("rel"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))
      .toSeq
    // ADVICE r10 #2: the collect is only legitimate because every
    // caller's pool is bounded (top-k per FIXED query set, ≤ ~40 KB at
    // any corpus scale). Fail fast if a future caller hands this an
    // unbounded pool instead of silently OOMing the driver.
    require(collected.size <= maxPool,
      s"mmrSelect pool collected ${collected.size} rows > maxPool=$maxPool; " +
        "the driver greedy is only valid for bounded per-query pools")
    mmrGreedy(collected, rounds).toDF("qid", "nid", "rank", "rel")
  }

  // D12 — HNSW-lite, the FOURTH ANN tier (graft.operators.HnswLite):
  // a deterministic layered-pivot hierarchy searched by beam descent —
  // the navigable-hierarchy idea of HNSW re-expressed as two
  // shuffle-free assignment passes + two broadcast equi-joins, next to
  // brute force (D1), LSH (D2) and IVF (D5-D9). Same clustered corpus
  // and same oracle contract as D6: exact DuckDB-replayable reference
  // values beside a recall boolean the row hash only matches when the
  // index actually works. HnswLiteSpec drives planted clusters at 50k
  // and pins recall + the touched-fraction bound.
  private def knnHnsw(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HnswLite
    val all = emb(s, dir)
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d -> element_at(v, d + 1) +
          | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
          |   / 8191.0D)""".stripMargin).as("v"))
    val q = all.filter(col("vec_id") <= 10)
    val hnsw = HnswLite.search(all, q, "vec_id", "v", k = 3)
      .select(col("qid"), col("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
    val hits = bf.select(col("qid"), col("nid")).join(hnsw, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    bf.groupBy(col("qid"))
      .agg(max(when(col("rn") === 1, col("cos"))).as("top1_cos"))
      .join(hits, Seq("qid"), "left")
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (round(avg(col("top1_cos")), 4) + lit(0.0)).as("avg_top1_cos"),
        (avg(coalesce(col("n_hit"), lit(0L)) / 3.0) >= 0.7).as("hnsw_recall_ok"))
  }

  private val knnHnswSql =
    """WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
      |e AS (SELECT vec_id, list_transform(generate_series(0, 63), d ->
      |        v0[d + 1] +
      |        CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
      |          / 8191.0) AS v
      |      FROM e0),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 10),
      |s AS (SELECT qid, e.vec_id AS nid,
      |        list_dot_product(qv, v) /
      |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
      |      FROM q JOIN e ON e.vec_id <> qid),
      |r AS (SELECT qid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      |      FROM s),
      |t AS (SELECT qid, max(CASE WHEN rn = 1 THEN cos END) AS top1_cos
      |      FROM r WHERE rn <= 3 GROUP BY qid)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  round(avg(top1_cos), 4) + 0 AS avg_top1_cos,
      |  true AS hnsw_recall_ok
      |FROM t""".stripMargin

  // D11 — RETRIEVAL → DIVERSIFY composition, the query a RAG pipeline
  // actually runs: the MMR candidate pool comes from the IVF tier
  // (trained quantizer, nprobe=2 probe join — D6's index path), then
  // the greedy 0.7·rel − 0.3·max-sim re-rank picks k=5 of the top-12.
  // The corpus is D6's clustered derivation so the quantizer has
  // structure to find and DuckDB replays the corpus exactly.
  // Contract (the D6 pattern lifted to composition): the emitted rows
  // are the EXACT brute-force-pool MMR — fully replayed by the oracle's
  // chained CTEs — and `ivf_mmr_ok` certifies in-query that the
  // IVF-pooled MMR selected a full 5 per query whose mean relevance is
  // within 0.05 of the exact path's (pool membership under a trained
  // quantizer is not SQL-replayable; its achieved quality is what the
  // gate can pin). Both selections share [[mmrSelect]]; the pools are
  // per-query top-12, so the greedy rounds never touch the corpus.
  private def knnMmr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IvfIndex
    val all = emb(s, dir)
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d -> element_at(v, d + 1) +
          | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
          |   / 8191.0D)""".stripMargin).as("v"))
    val q = all.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wPool = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    // exact pool: brute-force top-12 (the oracle's replayable reference)
    val brutePool = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("prn", row_number().over(wPool))
      .filter(col("prn") <= 12)
      .select(col("qid"), col("nid"), col("nv"), col("cos").as("rel"))
    // ANN pool: trained-IVF probe join feeding the same top-12 shape.
    // The quantizer trains on a 5k hash-spread SAMPLE — the 100 TB
    // recipe (AnnScaleSpec proves it at 10⁶ vectors); training is not
    // oracle-replayed, and at the correctness-gate scales the sample
    // covers the whole corpus, so sampling changes nothing there.
    val sample = all.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(5000)
    val cent = IvfIndex.trainCentroids(sample, "vec_id", "v", k = 12, iters = 4)
    val lists = IvfIndex.assign(all, cent, "vec_id", "v", keep = 1)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cid"))
    val probes = IvfIndex.assign(
        q.select(col("qid").as("vec_id"), col("qv").as("v")),
        cent, "vec_id", "v", keep = 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cid"))
    val ivfPool = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("prn", row_number().over(wPool))
      .filter(col("prn") <= 12)
      .select(col("qid"), col("nid"), col("nv"), col("cos").as("rel"))
    // the two greedy chains are independent job sequences — run them
    // CONCURRENTLY (each round is a tiny checkpointed job, so the wall
    // cost is scheduler latency, which overlapping halves)
    val Seq(bruteSel, ivfSel) =
      QueryShape.concurrently(s, Seq(brutePool, ivfPool))(mmrSelect(_))
    // certify the composition: full selection per query, mean relevance
    // within 0.05 of the exact path (macro over queries)
    val ok = bruteSel.groupBy(col("qid"))
      .agg(avg(col("rel")).as("b_avg"))
      .join(ivfSel.groupBy(col("qid"))
        .agg(avg(col("rel")).as("i_avg"), count(lit(1)).as("i_n")),
        Seq("qid"), "left")
      .agg(min(when(col("i_n") === 5L &&
        col("i_avg") >= col("b_avg") - 0.05, 1L).otherwise(0L)).as("m"))
      .select((col("m") === 1L).as("ivf_mmr_ok"))
    bruteSel.crossJoin(broadcast(ok))
      .select(col("qid"), col("rank"), col("nid"),
        (round(col("rel"), 4) + lit(0.0)).as("rel"), col("ivf_mmr_ok"))
      .orderBy(col("qid"), col("rank"))
  }

  private val knnMmrSql: String = {
    def round(r: Int) = {
      val prev = s"sel${r - 1}"
      s"""c$r AS (
         | SELECT p.qid, p.nid, p.rel, max(pr.sim) AS pen
         | FROM pool p
         | JOIN pr ON pr.qid = p.qid AND pr.a = p.nid
         | JOIN $prev sb ON sb.qid = pr.qid AND sb.nid = pr.b
         | WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |                   WHERE x.qid = p.qid AND x.nid = p.nid)
         | GROUP BY p.qid, p.nid, p.rel
         |),
         |s$r AS (
         | SELECT qid, nid, rel, CAST($r AS BIGINT) AS rank FROM (
         |  SELECT qid, nid, rel, row_number() OVER
         |    (PARTITION BY qid ORDER BY 0.7 * rel - 0.3 * pen DESC, nid) AS rk
         |  FROM c$r) WHERE rk = 1
         |),
         |sel$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM s$r)""".stripMargin
    }
    s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
       |e AS (SELECT vec_id, list_transform(generate_series(0, 63), d ->
       |        v0[d + 1] +
       |        CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
       |          / 8191.0) AS v
       |      FROM e0),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 5),
       |pool AS (
       | SELECT qid, nid, v, rel FROM (
       |  SELECT qid, e.vec_id AS nid, e.v,
       |    list_dot_product(qv, v) /
       |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS rel,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      list_dot_product(qv, v) /
       |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |      e.vec_id) AS prn
       |  FROM q JOIN e ON e.vec_id <> qid) WHERE prn <= 12
       |),
       |pr AS (
       | SELECT a.qid, a.nid AS a, b.nid AS b,
       |   list_dot_product(a.v, b.v) /
       |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
       | FROM pool a JOIN pool b ON a.qid = b.qid AND a.nid <> b.nid
       |),
       |sel1 AS (
       | SELECT qid, nid, rel, CAST(1 AS BIGINT) AS rank FROM (
       |  SELECT qid, nid, rel,
       |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rk
       |  FROM pool) WHERE rk = 1
       |),
       |${(2 to 5).map(round).mkString(",\n")}
       |SELECT qid, rank, nid, round(rel, 4) + 0 AS rel, true AS ivf_mmr_ok
       |FROM sel5 ORDER BY qid, rank""".stripMargin
  }

  // D15 — HYBRID retrieval via reciprocal-rank fusion (the default
  // composition of a lexical and a vector index in a RAG stack:
  // neither ranking is trusted alone, ranks — not scores — fuse, so
  // the two scales never need calibration). Queries are docs 0..5;
  // the lexical arm ranks candidates by distinct-token overlap with
  // the query doc (inverted-index equi-join on term — work ∝ shared
  // postings, never corpus²), the vector arm by exact cosine over the
  // id-aligned `embeddings` row. Each arm keeps its top-20 per query;
  // RRF = Σ 1/(60+rank) over the arms a candidate appears in (the
  // standard k=60), fused via full-outer join on (qid, nid) — two
  // IEEE divisions added in a fixed order, so the fused score replays
  // bit-identically. At 100 TB each arm is its own index scan (the
  // lexical side a posting join, the vector side any D-tier index)
  // and the fusion is an equi-join on (query, candidate) — nothing
  // here is corpus-wide.
  private def knnRrfFusion(s: SparkSession, dir: String): DataFrame = {
    // Per-query top-20 via HIERARCHICAL two-stage aggregation, not a
    // row_number window: with only 6 qids, a window partitioned by
    // qid is six single-partition sorts over the whole candidate set
    // (the r8 sf10 probe measured the window shape at 18.8× for 10×
    // data — 500k rows per qid partition). Stage 1 takes a per-
    // (qid, nid%256 bucket) top-20 (sorted-slice over ~2k collected
    // structs, fully parallel); stage 2 merges 256×20 survivors per
    // qid. Exact same (key desc, nid asc) order as the window — the
    // oracle is unchanged.
    def topkRanks(df: DataFrame, rankName: String): DataFrame =
      df // (qid, nid, negKey) — top-20 by (negKey ASC, nid ASC)
        .groupBy(col("qid"), (col("nid") % 256).as("b"))
        .agg(expr("slice(array_sort(collect_list(struct(negKey, nid))), 1, 20)").as("t"))
        .groupBy(col("qid"))
        .agg(expr("slice(array_sort(flatten(collect_list(t))), 1, 20)").as("t"))
        .select(col("qid"), posexplode(col("t")).as(Seq("i", "s")))
        .select(col("qid"), col("s.nid").as("nid"),
          (col("i") + 1).cast("long").as(rankName))
    val tokens = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
    val terms = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(tokens).as("term")).distinct()
    val qTerms = terms.filter(col("doc_id") <= 5)
      .select(col("doc_id").as("qid"), col("term"))
    val lex = topkRanks(
      terms.select(col("doc_id").as("nid"), col("term"))
        .join(broadcast(qTerms), "term")
        .filter(col("nid") =!= col("qid"))
        .groupBy(col("qid"), col("nid")).agg(count(lit(1)).as("overlap"))
        .select(col("qid"), col("nid"), (-col("overlap")).as("negKey")),
      "r_lex")
    val all = emb(s, dir)
    val qv = all.filter(col("vec_id") <= 5).select(col("vec_id").as("qid"), col("v").as("qv"))
    val vec = topkRanks(
      all.select(col("vec_id").as("nid"), col("v").as("nv"))
        .join(broadcast(qv), col("nid") =!= col("qid"))
        // nanvl: a zero-norm vector yields NaN cosine; Spark's array
        // sort ranks NaN LAST ascending while the oracle's ORDER BY
        // approx DESC ranks it FIRST — pin NaN → -Inf so the
        // hierarchical slice ranks it first like the window it
        // replaced (no zero vectors in the corpus today; this keeps
        // engines aligned if generation changes).
        .select(col("qid"), col("nid"),
          nanvl(-VectorOps.cosine(col("qv"), col("nv")),
            lit(Double.NegativeInfinity)).as("negKey")),
      "r_vec")
    val wF = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("nid"))
    lex.join(vec, Seq("qid", "nid"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("r_vec")), lit(0.0)))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank"), col("nid"),
        (round(col("rrf"), 6) + lit(0.0)).as("rrf"),
        col("r_lex"), col("r_vec"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rank")))
  }

  private val knnRrfFusionSql =
    """WITH terms AS (
      | SELECT DISTINCT doc_id, unnest(list_filter(
      |   string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
      | FROM documents),
      |qt AS (SELECT doc_id AS qid, term FROM terms WHERE doc_id <= 5),
      |lex AS (
      | SELECT qid, nid, r_lex FROM (
      |  SELECT qid, nid, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY overlap DESC, nid) AS BIGINT) AS r_lex
      |  FROM (SELECT qt.qid, t.doc_id AS nid, count(*) AS overlap
      |        FROM terms t JOIN qt USING (term) WHERE t.doc_id <> qt.qid
      |        GROUP BY qt.qid, t.doc_id))
      | WHERE r_lex <= 20),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 5),
      |vec AS (
      | SELECT qid, nid, r_vec FROM (
      |  SELECT qid, nid, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS r_vec
      |  FROM (SELECT qid, e.vec_id AS nid,
      |          list_dot_product(qv, v) /
      |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
      |        FROM q JOIN e ON e.vec_id <> qid))
      | WHERE r_vec <= 20),
      |fused AS (
      | SELECT coalesce(lex.qid, vec.qid) AS qid, coalesce(lex.nid, vec.nid) AS nid,
      |   lex.r_lex, vec.r_vec,
      |   coalesce(1.0 / (60.0 + lex.r_lex), 0.0)
      |   + coalesce(1.0 / (60.0 + vec.r_vec), 0.0) AS rrf
      | FROM lex FULL OUTER JOIN vec ON lex.qid = vec.qid AND lex.nid = vec.nid)
      |SELECT qid, rank, nid, round(rrf, 6) + 0 AS rrf, r_lex, r_vec FROM (
      | SELECT qid, nid, r_lex, r_vec, rrf, CAST(row_number() OVER (
      |   PARTITION BY qid ORDER BY rrf DESC, nid) AS BIGINT) AS rank
      | FROM fused)
      |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  // D16 — EXACT top-k ANN with CERTIFIED list pruning (Elkan-style
  // triangle-inequality bounds on an IVF layout): unlike D5/D6 (probe
  // nprobe lists, accept approximate recall), this query returns the
  // provably exact answer while skipping every list that CANNOT
  // contain a winner. Per list: angular radius (min cosine between a
  // member and its centroid) and max member norm. For query q, any
  // member v of list c obeys ip(q,v) ≤ |q|·maxn_c·cos(max(0, θ(q,ĉ) −
  // r_c)) — the Cauchy-Schwarz/rotation bound. A 2-list probe sets the
  // running kth-best; only lists whose bound (+1e-9 float slack, which
  // can only ADD lists, never drop one) reaches it are scanned. The
  // ORACLE is plain brute force: a green row literally certifies the
  // pruning lossless, the same proof shape as C11's prefix filter.
  // ExactPrunedSpec asserts the scan actually skips most lists. At
  // 100 TB the assignment is a stored index (here built in-query like
  // D5, by oracle-replay contract), the per-list geometry is k rows,
  // and the exact scan touches only surviving lists — exactness
  // without the full-scan cost brute force pays.
  private def knnExactPruned(s: SparkSession, dir: String): DataFrame =
    exactPrunedParts(emb(s, dir))._2

  /** D16 core over any (vec_id, v) frame; queries = vec_id <= 9.
    * Returns (survivor lists per query, exact top-10) so ExactPrunedSpec
    * can assert the scan skips lists while staying exact.
    */
  private[graft] def exactPrunedParts(
      all: DataFrame, k: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    import graft.operators.IvfIndex
    val base = all.select(col("vec_id"), col("v"))
    val cents = IvfIndex.trainCentroids(base, "vec_id", "v", k = k, iters = iters)
    val assigned = IvfIndex.assignOne(base, cents, "vec_id", "v")
    // per-list geometry: cos_r = min cos(member, centroid) (the widest
    // member), maxn = max |member| — k tiny rows, broadcast everywhere
    val geom = assigned.join(broadcast(cents), Seq("cid"))
      .withColumn("cosvc",
        least(lit(1.0), greatest(lit(-1.0), VectorOps.cosine(col("v"), col("cv")))))
      .groupBy(col("cid"))
      .agg(min(col("cosvc")).as("cos_r"),
        max(VectorOps.norm(col("v"))).as("maxn"),
        min(VectorOps.norm(col("v"))).as("minn"))
      .join(broadcast(cents), Seq("cid"))
    val q = all.filter(col("vec_id") <= 9)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        VectorOps.norm(col("v")).as("qn"))
    // per (query, list): cos to the centroid and the member ip bound
    val qLists = q.crossJoin(broadcast(geom))
      .withColumn("cosqc",
        least(lit(1.0), greatest(lit(-1.0), VectorOps.cosine(col("qv"), col("cv")))))
      // cfac = cos(max(0, θ(q,ĉ) − r_c)). For a member of norm n the
      // bound is qn·n·cfac; maximizing over n ∈ [minn, maxn] picks
      // maxn when cfac ≥ 0 but MINN when cfac < 0 (a negative factor
      // shrinks toward 0 as the norm shrinks — using maxn there would
      // understate the list max and wrongly prune on antipodal data).
      .withColumn("cfac",
        when(col("cosqc") >= col("cos_r"), lit(1.0))
          .otherwise(col("cosqc") * col("cos_r")
            + sqrt(greatest(lit(0.0), lit(1.0) - col("cosqc") * col("cosqc")))
            * sqrt(greatest(lit(0.0), lit(1.0) - col("cos_r") * col("cos_r")))))
      .withColumn("ub", col("qn") *
        when(col("cfac") >= 0, col("maxn") * col("cfac"))
          .otherwise(col("minn") * col("cfac"))
        + lit(1e-9))
      .select(col("qid"), col("qv"), col("cid"), col("cosqc"), col("ub"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("cosqc").desc, col("cid"))
    val probed = qLists.withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 2).select(col("qid"), col("qv"), col("cid"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("ip").desc, col("nid"))
    // probe pass: exact kth-best over the 2 nearest lists = the bound
    val bounds = assigned
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cid"))
      .join(broadcast(probed), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("ip", VectorOps.dot(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 10)
      .select(col("qid"), col("ip").as("bound"))
    // survivors: every list whose bound reaches the probe kth-best
    // (probed lists re-qualify automatically — they contain the bound
    // achiever); missing bound (< 10 candidates) means scan everything
    val surv = qLists.join(broadcast(bounds), Seq("qid"), "left")
      .filter(col("bound").isNull || col("ub") >= col("bound"))
      .select(col("qid"), col("qv"), col("cid"))
    val result = assigned
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cid"))
      .join(broadcast(surv), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("ip", VectorOps.dot(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("ip"), 4) + lit(0.0)).as("ip"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
    (surv, result)
  }

  private val knnExactPrunedSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      | q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 9),
      | s AS (SELECT qid, e.vec_id AS nid, list_dot_product(qv, v) AS ip
      |       FROM q JOIN e ON e.vec_id <> qid),
      | r AS (SELECT qid, nid, ip,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY ip DESC, nid)
      |           AS BIGINT) AS rn
      |       FROM s)
      |SELECT qid, rn, nid, round(ip, 4) + 0 AS ip FROM r WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin

  // D17 — EMBEDDING OOD GATE (the curation use of the coarse
  // quantizer): every vector's squared distance to its assigned
  // centroid, per-list EXACT p95 threshold, vectors beyond it flagged
  // out-of-distribution — the "weird embeddings" filter a training
  // pipeline runs before packing (mislabeled modality, truncated
  // inputs, encoder failures all land far from every centroid).
  // Seeded centroids (D5's contract) + exact interpolated percentile
  // (q24's parity pair) keep the whole gate SQL-replayable; the
  // comparison runs on UNROUNDED doubles in both engines. At scale
  // the assignment is the stored index's and the per-list p95 is one
  // hash agg over (cid, d2) — no extra shuffle beyond the one the
  // index build already pays.
  private def knnCentroidOod(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir).select(col("vec_id"), col("v"))
    val cent = all.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = graft.operators.IvfIndex.assign(all, cent, "vec_id", "v", keep = 1)
    val d2 = assigned.join(broadcast(cent), Seq("cid"))
      .withColumn("d2",
        VectorOps.dot(col("v"), col("v"))
          - lit(2.0) * VectorOps.dot(col("v"), col("cv"))
          + VectorOps.dot(col("cv"), col("cv")))
      .select(col("cid"), col("vec_id"), col("d2"))
    val thr = d2.groupBy(col("cid"))
      .agg(expr("percentile(d2, 0.95)").as("p95"))
    d2.join(broadcast(thr), Seq("cid"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        (round(max(col("p95")), 4) + lit(0.0)).as("p95_d2"),
        sum(when(col("d2") > col("p95"), 1L).otherwise(0L)).as("n_ood"),
        min(when(col("d2") > col("p95"), col("vec_id"))).as("first_ood"))
      .orderBy(col("cid"))
  }

  private val knnCentroidOodSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |ad AS (SELECT e.vec_id, e.v, cent.cid,
      |         list_dot_product(e.v, e.v)
      |         - 2 * list_dot_product(e.v, cent.cv)
      |         + list_dot_product(cent.cv, cent.cv) AS d2
      |       FROM e CROSS JOIN cent),
      |ar AS (SELECT vec_id, cid, d2,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crn
      |       FROM ad),
      |a1 AS (SELECT vec_id, cid, d2 FROM ar WHERE crn = 1),
      |thr AS (SELECT cid, quantile_cont(d2, 0.95) AS p95 FROM a1 GROUP BY cid)
      |SELECT cid, count(*) AS n, round(max(p95), 4) + 0 AS p95_d2,
      | CAST(sum(CASE WHEN d2 > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_ood,
      | min(CASE WHEN d2 > p95 THEN vec_id END) AS first_ood
      |FROM a1 JOIN thr USING (cid)
      |GROUP BY cid ORDER BY cid""".stripMargin

  // D18 — BINARY quantization ANN (the 1-bit tier below D7's int8 and
  // D9's PQ): each vector collapses to its 64 SIGN BITS, packed into
  // two 32-bit words carried as BIGINTs (two words, not one, so every
  // shift stays in 0..31 — no engine-specific 1<<63 overflow semantics
  // in either Spark or the oracle; real systems pack dim/64 words the
  // same way). Candidate scan = Hamming distance bit_count(xor) over
  // the packed words — 8 bytes read per corpus vector instead of 512,
  // a 64× memory-bandwidth cut, and the whole scan is codegen'd
  // integer ops. Top-50 Hamming candidates per query re-rank by exact
  // cosine for the final top-5. The query-code join is a broadcast
  // (query set is small); the only shuffles move narrow (qid, nid,
  // ham) rows through the two top-k windows. At 100 TB the code table
  // is ~1/64 the corpus bytes and the re-rank fetches only |q|·50
  // full vectors by id. Binary recall comes from sign-pattern
  // locality: BinaryHammingSpec plants sign-coherent clusters and
  // proves mates are found at Hamming 0.
  private def knnBinaryHamming(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir).select(col("vec_id"), col("v"))
    def word(off: Int) = expr(
      s"""aggregate(sequence(0, 31), 0L,
         |  (acc, d) -> acc + IF(element_at(v, d + ${off + 1}) >= 0.0D,
         |                       shiftleft(1L, d), 0L))""".stripMargin)
    val coded = all
      .withColumn("c_lo", word(0)).withColumn("c_hi", word(32))
    val q = coded.filter(col("vec_id") <= 10)
      .select(col("vec_id").as("qid"), col("c_lo").as("q_lo"),
        col("c_hi").as("q_hi"), col("v").as("qv"))
    val wH = Window.partitionBy(col("qid")).orderBy(col("ham"), col("nid"))
    val cand = coded.select(col("vec_id").as("nid"), col("c_lo"), col("c_hi"))
      .join(broadcast(q.select(col("qid"), col("q_lo"), col("q_hi"))),
        col("nid") =!= col("qid"))
      .withColumn("ham",
        (bit_count(col("c_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("c_hi").bitwiseXOR(col("q_hi")))).cast("long"))
      .withColumn("hr", row_number().over(wH))
      .filter(col("hr") <= 50)
      .select(col("qid"), col("nid"), col("ham"))
    val wC = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    cand
      .join(all.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
      .join(broadcast(q.select(col("qid"), col("qv"))), Seq("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wC).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("nid"), col("ham"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  private val knnBinaryHammingSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |codes AS (
      | SELECT vec_id, v,
      |   CAST(list_sum(list_transform(generate_series(0, 31), d ->
      |     CASE WHEN v[d + 1] >= 0.0 THEN (1::BIGINT << d) ELSE 0 END)) AS BIGINT) AS c_lo,
      |   CAST(list_sum(list_transform(generate_series(0, 31), d ->
      |     CASE WHEN v[d + 33] >= 0.0 THEN (1::BIGINT << d) ELSE 0 END)) AS BIGINT) AS c_hi
      | FROM e),
      |q AS (SELECT vec_id AS qid, c_lo AS q_lo, c_hi AS q_hi, v AS qv
      |      FROM codes WHERE vec_id <= 10),
      |h AS (SELECT qid, c.vec_id AS nid,
      |        CAST(bit_count(xor(c.c_lo, q_lo)) + bit_count(xor(c.c_hi, q_hi)) AS BIGINT) AS ham
      |      FROM q JOIN codes c ON c.vec_id <> qid),
      |cand AS (SELECT qid, nid, ham FROM (
      |  SELECT qid, nid, ham,
      |    row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS hr
      |  FROM h) WHERE hr <= 50),
      |s AS (SELECT qid, nid, ham,
      |        list_dot_product(q.qv, y.v) /
      |        (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(y.v, y.v))) AS cos
      |      FROM cand JOIN q USING (qid) JOIN e y ON y.vec_id = nid),
      |r AS (SELECT qid, nid, ham, cos,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn
      |      FROM s)
      |SELECT qid, rn, nid, ham, round(cos, 4) + 0 AS cos_sim
      |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // D19 — RESIDUAL IVF-PQ (the actual Jégou IVFADC layout, vs D8's
  // int8-in-list and D9's flat PQ): corpus vectors coarse-quantize to
  // an IVF list, and PQ encodes the RESIDUAL x − c(x) — residuals
  // concentrate near 0, so the same 8×16 codebook spends its codes on
  // a far tighter distribution than raw vectors (the reason every
  // production IVF-PQ encodes residuals). Query time: per probed list,
  // ip(q,x) ≈ ⟨q,c⟩ (exact, one dot per list) + Σ_sub ADC(q−c, code)
  // — the LUT is per (query, list) because the residual frame moves
  // with the list. Pool by approx ip (re-rank is exact anyway), exact
  // cosine top-3, recall vs brute force. Shuffles carry codes (8
  // bytes/vector) and narrow id rows, never raw vectors; codebooks
  // and LUTs (q×lists×8×16 rows) broadcast.
  private def knnIvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IvfIndex, ProductQuantizer}
    val all = emb(s, dir)
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d -> element_at(v, d + 1) +
          | CAST((1103 * (label * 64 + d) + 12289) % 8191 - 4095 AS DOUBLE)
          |   / 8191.0D)""".stripMargin).as("v"))
    val q = all.filter(col("vec_id") <= 10)
    // quantizer QUALITY needs a representative sample, not the corpus:
    // both trainings (coarse + PQ) run on deterministic xxhash samples
    // (IvfSpec's sampled-Lloyd contract — ~1% extra quantization
    // error), the ENCODE passes cover the full corpus, and the exact
    // re-rank absorbs what the codes blur. Full-corpus training here
    // measured 15.1 s at sf0.1 — the suite's single slowest query —
    // for zero recall gain.
    val cent = IvfIndex.trainCentroidsSampled(all, "vec_id", "v",
      k = 12, iters = 4, sampleCap = 1024)
    // coarse assignment + residual encode (shuffle-free broadcast argmin)
    val asg = IvfIndex.assign(all, cent, "vec_id", "v", keep = 1)
      .join(broadcast(cent), Seq("cid"))
      .withColumn("res", expr("zip_with(v, cv, (a, b) -> a - b)"))
      .select(col("vec_id"), col("cid").as("lcid"), col("res"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val resSample = asg.select(col("vec_id"), col("res"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(1024)
      .localCheckpoint(eager = true)
    val book = ProductQuantizer.train(resSample, "vec_id", "res",
      m = 8, dim = 64, k = 16, iters = 3)
    val codes = ProductQuantizer.assignCodes(
        ProductQuantizer.subVectors(asg, "vec_id", "res", m = 8, dim = 64), book)
      .select(col("id").as("nid"), col("sub"), col("cid").as("code"))
      .join(asg.select(col("vec_id").as("nid"), col("lcid")), Seq("nid"))
    // probed lists (keep=2), per-(query, list) residual LUT
    val probes = IvfIndex.assign(q, cent, "vec_id", "v", keep = 2)
      .join(broadcast(cent), Seq("cid"))
      .select(col("vec_id").as("qid"), col("cid").as("lcid"), col("v"),
        VectorOps.dot(col("v"), col("cv")).as("q_dot_c"),
        expr("zip_with(v, cv, (a, b) -> a - b)").as("qres"),
        (col("vec_id") * 100 + col("cid")).as("pk"))
    val lut = ProductQuantizer.subVectors(
        probes.select(col("pk"), col("qres")), "pk", "qres", m = 8, dim = 64)
      .join(broadcast(book), Seq("sub"))
      .select(col("id").as("pk"), col("sub"), col("cid").as("code"),
        VectorOps.dot(col("sv"), col("cv")).as("dotp"))
      .join(probes.select(col("pk"), col("qid"), col("lcid")), Seq("pk"))
    val wA = Window.partitionBy(col("qid")).orderBy(col("approx_ip").desc, col("nid"))
    val pool = codes
      .join(broadcast(lut.select(col("qid"), col("lcid"), col("sub"),
        col("code"), col("dotp"))), Seq("lcid", "sub", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("lcid"), col("nid"))
      .agg(sum(col("dotp")).as("radot"))
      .join(broadcast(probes.select(col("qid"), col("lcid"), col("q_dot_c"))),
        Seq("qid", "lcid"))
      .withColumn("approx_ip", col("q_dot_c") + col("radot"))
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= 64)
      .select(col("qid"), col("nid"))
    // exact re-rank of the pooled candidates
    val wE = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val ivfpq = pool
      .join(all.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))), Seq("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
    val hits = bf.select(col("qid"), col("nid")).join(ivfpq, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    val out = bf.groupBy(col("qid"))
      .agg(max(when(col("rn") === 1, col("cos"))).as("top1_cos"))
      .join(hits, Seq("qid"), "left")
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (round(avg(col("top1_cos")), 4) + lit(0.0)).as("avg_top1_cos"),
        (avg(coalesce(col("n_hit"), lit(0L)) / 3.0) >= 0.7).as("ivf_recall_ok"))
      // one-row result: materialize eagerly so the residual cache is
      // released now instead of leaking across the bench's 4 replays
      .localCheckpoint(eager = true)
    asg.unpersist(false)
    out
  }

  // D20 — seeded RANDOM PROJECTION (Johnson-Lindenstrauss with a ±1
  // sign matrix, Achlioptas 2003): 64 dims → 16, proj_j = Σ_d v[d] ·
  // sign(h(j,d)) / √16 with the sign drawn from the same small-modulus
  // integer hash both engines evaluate exactly — the projection is
  // DATA-INDEPENDENT, so at 100 TB it's a map-only scan (no training,
  // no shuffle) and the 4× narrower vectors feed every downstream tier
  // (LSH bands, k-means, brute-force re-rank) at a quarter of the
  // memory bandwidth. Output: per-query top-5 overlap between
  // projected and original cosine space + mean |Δcos| distortion —
  // and the whole thing replays in SQL, so the oracle checks the
  // PROJECTION, not just a recall contract.
  private def knnRandomProjection(s: SparkSession, dir: String): DataFrame = {
    val signExpr =
      """transform(sequence(0, 15), j -> aggregate(sequence(0, 63),
        | 0D, (acc, d) -> acc + element_at(v, d + 1) *
        |   CAST(CASE WHEN (1103 * (j * 64 + d) + 12289) % 8191 % 2 = 0
        |        THEN 1 ELSE -1 END AS DOUBLE)) / 4.0D)""".stripMargin
    val all = emb(s, dir).withColumn("p", expr(signExpr))
    val q = all.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("p").as("qp"))
    val cand = all.select(col("vec_id").as("nid"), col("v").as("nv"), col("p").as("np"))
      .join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("cos_o", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("cos_p", VectorOps.cosine(col("qp"), col("np")))
    val wO = Window.partitionBy(col("qid")).orderBy(col("cos_o").desc, col("nid"))
    val wP = Window.partitionBy(col("qid")).orderBy(col("cos_p").desc, col("nid"))
    val ranked = cand
      .withColumn("rn_o", row_number().over(wO))
      .withColumn("rn_p", row_number().over(wP))
    val top = ranked.filter(col("rn_o") <= 5 || col("rn_p") <= 5)
    top.groupBy(col("qid"))
      .agg(
        count(when(col("rn_o") <= 5 && col("rn_p") <= 5, 1)).as("overlap5"),
        max(when(col("rn_p") === 1, col("nid"))).as("top1_proj_nid"),
        (round(avg(when(col("rn_o") <= 5, abs(col("cos_p") - col("cos_o")))), 4)
          + lit(0.0)).as("avg_abs_dcos"))
      .orderBy(col("qid"))
  }

  private val knnRandomProjectionSql =
    """WITH e AS (
      | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pe AS (
      | SELECT vec_id, v, list_transform(generate_series(0, 15), j ->
      |   list_sum(list_transform(generate_series(0, 63), d ->
      |     v[d + 1] * CAST(CASE WHEN (1103 * (j * 64 + d) + 12289) % 8191 % 2 = 0
      |       THEN 1 ELSE -1 END AS DOUBLE))) / 4.0) AS p
      | FROM e),
      |q AS (SELECT vec_id AS qid, v AS qv, p AS qp FROM pe WHERE vec_id <= 5),
      |c AS (
      | SELECT qid, vec_id AS nid,
      |  list_dot_product(qv, v) /
      |   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos_o,
      |  list_dot_product(qp, p) /
      |   (sqrt(list_dot_product(qp, qp)) * sqrt(list_dot_product(p, p))) AS cos_p
      | FROM q JOIN pe ON pe.vec_id <> qid),
      |r AS (
      | SELECT *,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos_o DESC, nid) AS rn_o,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos_p DESC, nid) AS rn_p
      | FROM c)
      |SELECT qid,
      | count(CASE WHEN rn_o <= 5 AND rn_p <= 5 THEN 1 END) AS overlap5,
      | max(CASE WHEN rn_p = 1 THEN nid END) AS top1_proj_nid,
      | round(avg(CASE WHEN rn_o <= 5 THEN abs(cos_p - cos_o) END), 4) + 0
      |   AS avg_abs_dcos
      |FROM r WHERE rn_o <= 5 OR rn_p <= 5
      |GROUP BY qid ORDER BY qid""".stripMargin

  // D21 — NPROBE RECALL/COST CURVE (the IVF tuning table, C14's
  // similarity-tier sibling): the same seeded index (centroids =
  // vec_id < 16, D5's replayable contract) searched at nprobe ∈
  // {1, 2, 4} in ONE pipeline — probes key on (np, qid) — reporting
  // per config the scanned-candidate volume (the cost axis) and
  // recall@3 against exact brute force (the quality axis). Every step
  // is deterministic integer/argmin algebra, so unlike the trained
  // tiers the whole curve — index, probes, recall — replays in SQL:
  // the oracle checks the NUMBERS, not a contract. This is the table
  // that picks nprobe at 100 TB: recall climbs with np, cost climbs
  // linearly, and the engine measures both on its own corpus.
  private def knnNprobeCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = emb(s, dir).select(col("vec_id"), col("v"))
    val cent = all.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val lists = graft.operators.IvfIndex.assign(all, cent, "vec_id", "v", keep = 1)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("cid"))
    // probe ranks kept explicit so one frame serves every nprobe
    val wC = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cid"))
    val probeRanks = all.filter(col("vec_id") <= 10)
      .crossJoin(broadcast(cent))
      .withColumn("dist2", // the |v|²−2v·c+|c|² expansion the oracle replays
        VectorOps.dot(col("v"), col("v"))
          - lit(2.0) * VectorOps.dot(col("v"), col("cv"))
          + VectorOps.dot(col("cv"), col("cv")))
      .withColumn("crn", row_number().over(wC))
      .filter(col("crn") <= 4)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cid"), col("crn"))
    val nps = Seq(1, 2, 4).toDF("np")
    val probes = probeRanks.crossJoin(broadcast(nps))
      .filter(col("crn") <= col("np"))
    val wR = Window.partitionBy(col("np"), col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val cand = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
    val scanned = cand.groupBy(col("np"))
      .agg(count(lit(1)).as("n_scanned"))
    val ivfTop = cand.withColumn("rn", row_number().over(wR))
      .filter(col("rn") <= 3).select(col("np"), col("qid"), col("nid"))
    val wB = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val bf = all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(all.filter(col("vec_id") <= 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("nid"))
    val hits = ivfTop.join(bf, Seq("qid", "nid"))
      .groupBy(col("np"), col("qid")).agg(count(lit(1)).as("n_hit"))
    val perQ = probes.select(col("np"), col("qid")).distinct()
      .join(hits, Seq("np", "qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
    perQ.groupBy(col("np"))
      .agg(count(lit(1)).as("n_queries"),
        (round(avg(col("n_hit") / 3.0), 4) + lit(0.0)).as("avg_recall3"),
        sum(when(col("n_hit") === 3, 1L).otherwise(0L)).as("n_full_recall"))
      .join(scanned, Seq("np"))
      .select(col("np").cast("long").as("nprobe"), col("n_queries"),
        col("n_scanned"), col("avg_recall3"), col("n_full_recall"))
      .orderBy(col("nprobe"))
  }

  private val knnNprobeCurveSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |ad AS (SELECT e.vec_id, e.v, cent.cid,
      |         list_dot_product(e.v, e.v)
      |         - 2 * list_dot_product(e.v, cent.cv)
      |         + list_dot_product(cent.cv, cent.cv) AS dist2
      |       FROM e CROSS JOIN cent),
      |ar AS (SELECT vec_id, v, cid,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS crn
      |       FROM ad),
      |lists AS (SELECT vec_id AS nid, v AS nv, cid FROM ar WHERE crn = 1),
      |pr AS (SELECT vec_id AS qid, v AS qv, cid, crn FROM ar
      |       WHERE crn <= 4 AND vec_id <= 10),
      |probes AS (SELECT np, qid, qv, cid FROM pr
      |           CROSS JOIN (SELECT unnest([1, 2, 4]) AS np) ns
      |           WHERE crn <= np),
      |cand AS (SELECT p.np, p.qid, l.nid,
      |        list_dot_product(p.qv, l.nv) /
      |        (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(l.nv, l.nv))) AS cos
      |      FROM lists l JOIN probes p USING (cid) WHERE l.nid <> p.qid),
      |scanned AS (SELECT np, count(*) AS n_scanned FROM cand GROUP BY np),
      |itop AS (SELECT np, qid, nid FROM (
      |        SELECT *, row_number() OVER (PARTITION BY np, qid
      |          ORDER BY cos DESC, nid) AS rn FROM cand) WHERE rn <= 3),
      |bfs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
      |        list_dot_product(q.v, c.v) /
      |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      |      FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id <= 10),
      |bf AS (SELECT qid, nid FROM (
      |        SELECT *, row_number() OVER (PARTITION BY qid
      |          ORDER BY cos DESC, nid) AS rn FROM bfs) WHERE rn <= 3),
      |hits AS (SELECT np, qid, count(*) AS n_hit
      |         FROM itop JOIN bf USING (qid, nid) GROUP BY np, qid),
      |perq AS (SELECT np, qid, coalesce(n_hit, 0) AS n_hit FROM
      |         (SELECT DISTINCT np, qid FROM probes) p LEFT JOIN hits USING (np, qid))
      |SELECT CAST(np AS BIGINT) AS nprobe, count(*) AS n_queries,
      | CAST(max(n_scanned) AS BIGINT) AS n_scanned,
      | round(avg(n_hit / 3.0), 4) + 0 AS avg_recall3,
      | CAST(sum(CASE WHEN n_hit = 3 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_full_recall
      |FROM perq JOIN scanned USING (np)
      |GROUP BY np ORDER BY nprobe""".stripMargin

  // D22 — DISTRIBUTED PCA TOP COMPONENT via power iteration: the
  // embedding-space diagnostic (dominant direction = what a whitening
  // or mean-ablation step removes; the first step of spectral
  // methods). The 100 TB decomposition: the corpus is touched ONCE to
  // build the dim×dim Gram matrix (outer-product contributions
  // partial-aggregate map-side to ≤dim² rows per partition — the
  // matrix rides the shuffle, never vectors); power iteration then
  // runs on the driver over the 64×64 matrix (O(k·dim²) — the same
  // driver-artifact class as k-means centroids). EXACTNESS: vectors
  // quantize to integer thousandths, so every Gram entry is an exact
  // long both engines agree on (no summation-order noise); the
  // iteration itself is a defined-order LEFT FOLD per dot product
  // (matching DuckDB's sequential list_dot_product — probed: it is a
  // strict left fold) and normalization uses the same list-folded
  // norm, so all 12 iterations replay bit-for-bit in the oracle's
  // recursive CTE, including the final per-vector projection.
  private def vecPcaPower(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val iters = 12
    val q = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))")
          .as("qv"))
    val gram = q
      .select(posexplode(col("qv")).as(Seq("i", "qi")), col("qv"))
      .select(col("i"), col("qi"), posexplode(col("qv")).as(Seq("j", "qj")))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("g"))
    val g = Array.ofDim[Long](dim, dim)
    gram.collect().foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    // power iteration, defined-order folds (sequential j, like
    // DuckDB's list_dot_product)
    var v = Array.fill(dim)(0.125)
    for (_ <- 1 to iters) {
      val mv = Array.tabulate(dim) { i =>
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += g(i)(j).toDouble * v(j); j += 1 }
        acc
      }
      var n2 = 0.0
      var j = 0
      while (j < dim) { n2 += mv(j) * mv(j); j += 1 }
      val n = math.sqrt(n2)
      v = mv.map(_ / n)
    }
    val eigvec = v
    // Rayleigh quotient λ = vᵀGv (v is unit), same fold order
    val gv = Array.tabulate(dim) { i =>
      var acc = 0.0; var j = 0
      while (j < dim) { acc += g(i)(j).toDouble * eigvec(j); j += 1 }
      acc
    }
    var lam = 0.0
    var jj = 0
    while (jj < dim) { lam += gv(jj) * eigvec(jj); jj += 1 }
    val vLit = array(eigvec.map(lit(_)): _*)
    q.withColumn("pc1", vLit)
      .withColumn("score", expr(
        "aggregate(zip_with(qv, pc1, (a, b) -> CAST(a AS DOUBLE) * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"))
      .select(col("vec_id"),
        (round(col("score"), 4) + lit(0.0)).as("pc1_score"),
        (round(lit(lam) / 1000000.0, 4) + lit(0.0)).as("eigval_scaled"))
      .transform(QueryShape.stagedSort(_, col("vec_id")))
  }

  private val vecPcaPowerSql =
    """WITH q AS (
      | SELECT vec_id,
      |  list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
      | FROM embeddings),
      |pairs AS (
      | SELECT i, j, CAST(sum(qv[i + 1] * qv[j + 1]) AS BIGINT) AS g
      | FROM q, (SELECT unnest(generate_series(0, 63)) AS i),
      |      (SELECT unnest(generate_series(0, 63)) AS j)
      | GROUP BY i, j),
      |gm AS (
      | SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS row
      | FROM pairs GROUP BY i),
      |it AS (
      | WITH RECURSIVE pw(k, v) AS (
      |  SELECT 0, (SELECT list(CAST(0.125 AS DOUBLE) ORDER BY i) FROM gm)
      |  UNION ALL
      |  SELECT k + 1,
      |   (WITH mv AS (SELECT gm.i, list_dot_product(gm.row, pw.v) AS x
      |                FROM gm),
      |    ml AS (SELECT list(x ORDER BY i) AS mvl FROM mv)
      |    SELECT list_transform(mvl,
      |      y -> y / sqrt(list_dot_product(mvl, mvl))) FROM ml)
      |  FROM pw WHERE k < 12)
      | SELECT v FROM pw WHERE k = 12),
      |lam AS (
      | SELECT list_dot_product(
      |   (SELECT list(list_dot_product(gm.row, it.v) ORDER BY gm.i)
      |    FROM gm, it), (SELECT v FROM it)) AS l)
      |SELECT vec_id,
      | round(list_dot_product(
      |   list_transform(qv, a -> CAST(a AS DOUBLE)), (SELECT v FROM it)), 4)
      |   + 0 AS pc1_score,
      | round(l / 1000000.0, 4) + 0 AS eigval_scaled
      |FROM q, lam ORDER BY vec_id""".stripMargin

  // D23 — k-NN GRAPH construction (the OFFLINE all-pairs primitive
  // under graph-ANN indexes, SemDeDup clustering, and label
  // propagation — D2 answers one query, this materializes EVERY
  // node's neighborhood): candidate generation is the same seeded
  // hyperplane-LSH bucket equi-join (work ∝ bucket co-residency,
  // never n²), per-node top-3 by exact cosine, then each directed
  // edge is tagged MUTUAL iff its reverse is also a top-3 edge (one
  // self-join on the edge list) — mutual-kNN is the standard
  // symmetrization that graph clustering consumes. Fully
  // deterministic (seeded planes) ⇒ the oracle replays candidate
  // generation, ranking, and symmetrization.
  private def knnGraph(s: SparkSession, dir: String): DataFrame = {
    // EXACT-VECTOR COLLAPSE first (r5's dedup-family lesson, re-learned
    // here by measurement: a 10× replica with duplicated content sent
    // identical vectors to identical buckets and the candidate join
    // quadratic — 108.7× for 10× data; collapsed, the graph is built
    // over DISTINCT vectors only, which is also what SemDeDup-style
    // consumers want). rep = min vec_id per distinct vector; the
    // 16-byte digest, not the vector, rides the collapse shuffle.
    val all = emb(s, dir).select(col("vec_id"), col("v"))
      .withColumn("vkey", md5(to_json(struct(col("v")))))
    val reps = all.groupBy(col("vkey"))
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("n_copies"))
    val distinctVecs = all.join(reps.select(col("vkey"), col("vec_id")),
        Seq("vkey", "vec_id")).select(col("vec_id"), col("v"))
    // OCCUPANCY-TARGETED bucket geometry + NN-DESCENT (the r8
    // verdict's scale fix, every constant probed at sf1 AND sf10):
    // bits grows with the RAW corpus count so expected bucket size
    // stays ≤ 32 per table — candidate volume Θ(n·tables·cap), linear
    // by construction, where the old fixed bits=8 grew ~df² between
    // the cap-free and cap-bound regimes (29.7×/470.8 s at sf10). The
    // raw count (not the collapsed one) drives the knob on both
    // engines — a size hint, not a semantic input, one cheap columnar
    // count. A TIGHT cap (64) bounds the skewed hot buckets where the
    // volume actually lives (cap 128→64 alone: 146.8→54.8 s at sf10,
    // recall −0.008), and the recall the cheaper generator gives up
    // is bought back by TWO NN-descent rounds (O(n·k²) each):
    // measured recall@3 0.930 at sf1 (12.5 s) and 0.926 at sf10
    // (54.8 s, factor 4.4×) vs the old 0.75 at 470.8 s / 29.7×.
    val n = Tables.load(s, dir, "embeddings").count()
    val bits = graft.operators.RandomHyperplaneLsh.adaptiveBits(n)
    val base = graft.operators.RandomHyperplaneLsh
      .knnGraphEdges(distinctVecs, "vec_id", "v", k = 3, tables = 4,
        bits = bits, dim = 64, bucketCap = 64)
    val edges = (1 to 2).foldLeft(base)((e, _) =>
        graft.operators.RandomHyperplaneLsh
          .refineOnce(e, distinctVecs, "vec_id", "v", k = 3))
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
    val rev = edges.select(col("qid").as("nid"), col("nid").as("qid"))
      .withColumn("mutual", lit(true))
    edges.join(rev, Seq("qid", "nid"), "left")
      .select(col("qid"), col("rn"), col("nid"), col("cos_sim"),
        coalesce(col("mutual"), lit(false)).as("mutual"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  private val knnGraphSql = {
    // cosine over exact vectors — shared by the base scoring and every
    // refinement round
    def cos(candCte: String) =
      s"""SELECT qid, nid,
         |        list_dot_product(x.v, y.v) /
         |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
         |       FROM $candCte JOIN e x ON x.vec_id = qid JOIN e y ON y.vec_id = nid""".stripMargin
    // one NN-descent round: prev (qid,nid,cos) → t$i (qid,nid,cos);
    // each wedge side samples ≤ 24 edges per middle node (mirrors
    // refineOnce's deterministic reverse-neighbor cap)
    def round(i: Int, prev: String) =
      s"""und$i AS (SELECT qid, nid FROM $prev UNION ALL SELECT nid, qid FROM $prev),
         |ua$i AS (SELECT mid, qid FROM (
         |       SELECT nid AS mid, qid,
         |        row_number() OVER (PARTITION BY nid ORDER BY qid) AS mrn
         |       FROM und$i) WHERE mrn <= 24),
         |ub$i AS (SELECT mid, nid FROM (
         |       SELECT qid AS mid, nid,
         |        row_number() OVER (PARTITION BY qid ORDER BY nid) AS mrn
         |       FROM und$i) WHERE mrn <= 24),
         |c2$i AS (SELECT DISTINCT a.qid AS qid, b.nid AS nid
         |       FROM ua$i a JOIN ub$i b ON a.mid = b.mid WHERE a.qid <> b.nid),
         |c2n$i AS (SELECT c.qid, c.nid FROM c2$i c
         |        LEFT JOIN $prev t ON t.qid = c.qid AND t.nid = c.nid
         |        WHERE t.qid IS NULL),
         |sc$i AS (${cos(s"c2n$i")}),
         |all$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM sc$i),
         |t$i AS (SELECT qid, nid, cos FROM (
         |        SELECT qid, nid, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
         |        FROM all$i) WHERE rn <= 3)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bt AS (SELECT min(b) AS bits
      |       FROM (SELECT unnest(generate_series(8, 24)) AS b) bs
      |       WHERE (CAST(32 AS BIGINT) << b) >= (SELECT count(*) FROM e)),
      |pl AS (SELECT p, list_transform(generate_series(0, 63), d ->
      |        CAST(((1103*(p*64+d)+12289) % 8191) - 4095 AS DOUBLE)) AS w
      |       FROM (SELECT unnest(generate_series(0,
      |         4 * (SELECT bits FROM bt) - 1)) AS p) ps),
      |bk AS (SELECT e.vec_id, p // (SELECT bits FROM bt) AS tbl,
      |        sum(CASE WHEN list_dot_product(v, w) >= 0
      |            THEN CAST(1 AS BIGINT) << (p % (SELECT bits FROM bt))
      |            ELSE 0 END) AS bucket
      |       FROM e CROSS JOIN pl GROUP BY e.vec_id, p // (SELECT bits FROM bt)),
      |pool AS (SELECT tbl, bucket, vec_id FROM (
      |          SELECT tbl, bucket, vec_id,
      |           row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) AS prn
      |          FROM bk) WHERE prn <= 64),
      |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
      |         FROM bk q JOIN pool c ON q.tbl = c.tbl AND q.bucket = c.bucket
      |          AND c.vec_id <> q.vec_id),
      |sc AS (${cos("cand")}),
      |t0 AS (SELECT qid, nid, cos FROM (
      |        SELECT qid, nid, cos,
      |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
      |        FROM sc) WHERE rn <= 3),
      |${round(1, "t0")},
      |${round(2, "t1")},
      |topk AS (SELECT qid,
      |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn,
      |         nid, round(cos, 4) + 0 AS cos_sim
      |        FROM t2)
      |SELECT t.qid, t.rn, t.nid, t.cos_sim,
      | (rv.qid IS NOT NULL) AS mutual
      |FROM topk t LEFT JOIN (SELECT DISTINCT qid, nid FROM topk) rv
      |  ON rv.qid = t.nid AND rv.nid = t.qid
      |ORDER BY t.qid, t.rn""".stripMargin
  }

  // D24 — CLUSTER QUALITY metrics (simplified silhouette): for each
  // vector, a = distance to its own centroid, b = distance to the
  // SECOND-nearest centroid, s = (b−a)/max(a,b) — the O(n·k) audit
  // that tells you whether an IVF/k-means layout is actually
  // separating data (full silhouette is O(n²) and never runs at
  // 100 TB; the centroid-based form is the standard distributed
  // substitute). Seeded centroids (vec_id < 16, D5's contract) keep
  // the whole thing exactly replayable; distances are sqrt of exact
  // dot algebra. One broadcast of 16 centroids; one scan.
  private def vecClusterMetrics(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val cents = all.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cid"))
    val ranked = all.crossJoin(broadcast(cents))
      .withColumn("dist", sqrt(VectorOps.dot(col("v"), col("v"))
        - lit(2.0) * VectorOps.dot(col("v"), col("cv"))
        + VectorOps.dot(col("cv"), col("cv"))))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= 2)
    val ab = ranked.groupBy(col("vec_id"))
      .agg(min(when(col("crn") === 1, col("cid"))).as("cluster"),
        min(when(col("crn") === 1, col("dist"))).as("a"),
        min(when(col("crn") === 2, col("dist"))).as("b"))
      .withColumn("sil", (col("b") - col("a")) / greatest(col("a"), col("b")))
    ab.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        (round(avg(col("sil")), 4) + lit(0.0)).as("mean_silhouette"),
        (round(avg(col("a")), 4) + lit(0.0)).as("mean_intra_dist"))
      .orderBy(col("cluster"))
  }

  private val vecClusterMetricsSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |d AS (SELECT e.vec_id, cent.cid,
      |   sqrt(list_dot_product(e.v, e.v)
      |    - 2.0 * list_dot_product(e.v, cent.cv)
      |    + list_dot_product(cent.cv, cent.cv)) AS dist
      |  FROM e CROSS JOIN cent),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY dist, cid) AS crn FROM d),
      |ab AS (SELECT vec_id,
      |   min(CASE WHEN crn = 1 THEN cid END) AS cluster,
      |   min(CASE WHEN crn = 1 THEN dist END) AS a,
      |   min(CASE WHEN crn = 2 THEN dist END) AS b
      |  FROM r WHERE crn <= 2 GROUP BY vec_id),
      |s AS (SELECT *, (b - a) / greatest(a, b) AS sil FROM ab)
      |SELECT cluster, count(*) AS n_members,
      | round(avg(sil), 4) + 0 AS mean_silhouette,
      | round(avg(a), 4) + 0 AS mean_intra_dist
      |FROM s GROUP BY cluster ORDER BY cluster""".stripMargin

  // D26 — TWO-STAGE RERANK (the ADC serving pattern): stage 1 scans the
  // corpus against each query using only the uint8-QUANTIZED
  // reconstruction — the pass that touches every row reads 64-byte
  // codes, 8× fewer bytes than raw doubles at 100 TB — and takes a
  // per-query top-32 shortlist; stage 2 re-scores the shortlist with
  // exact cosine and re-ranks, exact math over 32 rows per query.
  // Quantization is D7's affine uint8 convention (floor((x−mn)/scale),
  // reconstruction mn + q·scale); the approx score is cos(exact query,
  // reconstructed neighbor) — classic asymmetric distance. Stage-1
  // top-32 uses the hierarchical two-stage slice (no single-partition
  // windows — the D15 lesson); stage 2's window sees ≤32 rows per qid.
  // `approx_rank` rides into the output so the result exposes how much
  // exact rescoring reordered the shortlist. Deterministic end-to-end
  // ⇒ DuckDB replays both stages exactly.
  private def knnTwoStageRerank(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val rec = all
      .withColumn("mn", array_min(col("v")))
      .withColumn("scale", (array_max(col("v")) - col("mn")) / 255.0)
      .withColumn("rv", expr(
        """transform(v, x -> CASE WHEN scale = 0D THEN mn
          | ELSE mn + least(CAST(floor((x - mn) / scale) AS BIGINT), 255L) * scale
          | END)""".stripMargin))
      .select(col("vec_id").as("nid"), col("rv"))
    val cand = rec.join(broadcast(q), col("nid") =!= col("qid"))
      // nanvl → -Inf: rank a NaN (zero-norm) cosine FIRST like the
      // oracle's ORDER BY approx DESC, not last as Spark's ascending
      // array sort would (see knnRrfFusion note).
      .select(col("qid"), col("nid"),
        nanvl(-VectorOps.cosine(col("qv"), col("rv")),
          lit(Double.NegativeInfinity)).as("negKey"))
    val short = cand
      .groupBy(col("qid"), (col("nid") % 256).as("b"))
      .agg(expr("slice(array_sort(collect_list(struct(negKey, nid))), 1, 32)").as("t"))
      .groupBy(col("qid"))
      .agg(expr("slice(array_sort(flatten(collect_list(t))), 1, 32)").as("t"))
      .select(col("qid"), posexplode(col("t")).as(Seq("i", "s")))
      .select(col("qid"), col("s.nid").as("nid"),
        (col("i") + 1).cast("long").as("approx_rank"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    all.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"), col("approx_rank"))
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  private val knnTwoStageRerankSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 5),
      |rec0 AS (SELECT vec_id AS nid, v, list_min(v) AS mn,
      |   (list_max(v) - list_min(v)) / 255.0 AS scale FROM e),
      |rec AS (SELECT nid,
      |   list_transform(v, x -> CASE WHEN scale = 0 THEN mn
      |     ELSE mn + least(CAST(floor((x - mn) / scale) AS BIGINT), 255) * scale
      |     END) AS rv
      |  FROM rec0),
      |a AS (SELECT qid, nid,
      |   list_dot_product(qv, rv) /
      |   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(rv, rv))) AS approx
      |  FROM q JOIN rec ON nid <> qid),
      |ar AS (SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY approx DESC, nid) AS BIGINT) AS approx_rank FROM a),
      |short AS (SELECT * FROM ar WHERE approx_rank <= 32),
      |x AS (SELECT s.qid, s.nid, s.approx_rank,
      |   list_dot_product(q.qv, e.v) /
      |   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
      |  FROM short s JOIN e ON e.vec_id = s.nid JOIN q ON q.qid = s.qid),
      |r AS (SELECT qid, nid, approx_rank, cos,
      |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rn
      |  FROM x)
      |SELECT qid, rn, nid, round(cos, 4) + 0 AS cos_sim, approx_rank
      |FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_two_stage_rerank" -> (knnTwoStageRerank _),
    "vec_cluster_metrics" -> (vecClusterMetrics _),
    "knn_graph" -> (knnGraph _),
    "vec_pca_power" -> (vecPcaPower _),
    "knn_nprobe_curve" -> (knnNprobeCurve _),
    "knn_ivfpq_residual" -> (knnIvfPqResidual _),
    "knn_random_projection" -> (knnRandomProjection _),
    "knn_binary_hamming" -> (knnBinaryHamming _),
    "knn_exact_pruned" -> (knnExactPruned _),
    "knn_centroid_ood" -> (knnCentroidOod _),
    "knn_rrf_fusion" -> (knnRrfFusion _),
    "knn_mmr" -> (knnMmr _),
    "knn_hnsw" -> (knnHnsw _),
    "knn_bruteforce" -> (knnBruteforce _),
    "knn_filtered" -> (knnFiltered _),
    "knn_matryoshka" -> (knnMatryoshka _),
    "knn_lsh" -> (knnLsh _),
    "knn_ivf" -> (knnIvf _),
    "knn_ivf_persisted" -> (knnIvfPersisted _),
    "knn_ivf_trained" -> (knnIvfTrained _),
    "knn_ivf_quantized" -> (knnIvfQuantized _),
    "knn_pq" -> (knnPq _),
    "knn_radius" -> (knnRadius _),
    "vec_norm_stats" -> (vecNormStats _),
    "vec_hof_stats" -> (vecHofStats _),
    "vec_quantize_int8" -> (vecQuantizeInt8 _))

  val oracles: Map[String, String] = Map(
    "knn_two_stage_rerank" -> knnTwoStageRerankSql,
    "vec_pca_power" -> vecPcaPowerSql,
    "knn_graph" -> knnGraphSql,
    "vec_cluster_metrics" -> vecClusterMetricsSql,
    "knn_nprobe_curve" -> knnNprobeCurveSql,
    "knn_ivfpq_residual" -> knnIvfTrainedSql, // same contract: residual PQ changes the index, not the reference
    "knn_random_projection" -> knnRandomProjectionSql,
    "knn_binary_hamming" -> knnBinaryHammingSql,
    "knn_exact_pruned" -> knnExactPrunedSql,
    "knn_centroid_ood" -> knnCentroidOodSql,
    "knn_rrf_fusion" -> knnRrfFusionSql,
    "knn_mmr" -> knnMmrSql,
    "knn_hnsw" -> knnHnswSql,
    "knn_bruteforce" -> knnBruteforceSql,
    "knn_filtered" -> knnFilteredSql,
    "knn_matryoshka" -> knnMatryoshkaSql,
    "knn_lsh" -> knnLshSql,
    "knn_ivf" -> knnIvfSql,
    // D25 persists D5's lists as a partitioned layout; results (and
    // therefore the oracle) are identical - only the physical plan
    // differs (partition-pruned file reads instead of an in-session
    // frame).
    "knn_ivf_persisted" -> knnIvfSql,
    "knn_ivf_trained" -> knnIvfTrainedSql,
    "knn_ivf_quantized" -> knnIvfTrainedSql, // same exact-reference contract; only the index path differs
    "knn_pq" -> knnIvfTrainedSql, // same contract again: PQ changes the index, not the reference
    "knn_radius" -> knnRadiusSql,
    "vec_norm_stats" -> vecNormStatsSql,
    "vec_hof_stats" -> vecHofStatsSql,
    "vec_quantize_int8" -> vecQuantizeInt8Sql)
}

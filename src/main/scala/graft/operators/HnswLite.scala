package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryShape, VectorOps}

/** HNSW-lite: a layered-pivot beam search — the navigable-hierarchy
  * idea of HNSW (Malkov & Yashunin 2016) re-expressed in joins instead
  * of a sequentially-built graph (greedy graph insertion is inherently
  * one-at-a-time; a hierarchy of pivot layers with beam descent keeps
  * the logarithmic-ish search structure while building in parallel
  * passes).
  *
  * Layers: L1 = the ceil(n/fanout) lowest-xxhash corpus nodes, L2 = the
  * ceil(n/fanout²) lowest of those, … — nested like HNSW levels (a
  * level-j node is in every lower level), deterministic (hash order, id
  * tiebreak), no RNG state. Depth is ADAPTIVE: levels keep shrinking by
  * `fanout` until the top is ≤ fanout², so the top stays exhaustively
  * scorable (and broadcastable) no matter how big the corpus gets.
  *
  * Edges are built ROUTED, exactly like HNSW inserts: a node finds its
  * parent by descending the already-built upper hierarchy with a small
  * beam (score the whole top, then only the children of the current
  * beam at each level), NOT by brute argmin over the whole parent
  * level. That bounds build cost at O(n·(top + depth·beam·fanout))
  * distance evaluations — linear in corpus — where a flat assignment
  * against L1 is O(n²/fanout), the quadratic term the sf1 probe caught
  * at 27× for a 10× corpus. Routing is greedy-approximate (a node
  * whose true nearest L1 pivot hides under an unprobed L2 branch gets
  * a near-best parent instead); the recall contracts in HnswLiteSpec /
  * HnswSweepSpec gate the approximation.
  *
  * Search descends the same way: score ALL top pivots exactly (tiny,
  * broadcast), keep beamTop; expand through the child edges level by
  * level keeping beamMid; exact-cosine re-rank the bottom expansion,
  * top k. Per query the candidate volume is ~beamMid·fanout bottom
  * nodes — the fraction-of-corpus-touched contract HnswLiteSpec
  * asserts.
  */
object HnswLite {

  private def d2(v: Column, c: Column): Column =
    VectorOps.dot(v, v) - lit(2.0) * VectorOps.dot(v, c) + VectorOps.dot(c, c)

  /** Nearest-`b` parents from a SMALL candidate set, shuffle-free:
    * candidates ride along as one broadcast array row, each node sorts
    * (dist², pid) structs and explodes its best `b` — the
    * IvfIndex.assignOne trick generalized to a beam.
    * nodes: (nid, nv); cand: (pid, pv). Returns (nid, nv, pid).
    */
  private def beamFromSmall(nodes: DataFrame, cand: DataFrame, b: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // native top-b loop (NearestCentroidsExpr) instead of sorting all
    // |cand| interpreted structs per row — same (d2, pid) order
    val packed = cand.agg(collect_list(struct(
      col("pid").as("cid"), col("pv").as("cv"),
      VectorOps.dot(col("pv"), col("pv")).as("cc"))).as("cands"))
    nodes.crossJoin(broadcast(packed))
      .select(col("nid"), col("nv"), explode(GraftBridge.column(
        graft.functions.NearestCentroidsExpr(
          GraftBridge.expression(col("nv")),
          GraftBridge.expression(col("cands")), b))).as("pid"))
  }

  /** One routed descent step: parents at level j+1 → best `b` children
    * at level j per node. beam: (nid, nv, pid); edges: (cid, cv,
    * parent) of level j; nodes: (nid, nv) to re-attach vectors from.
    * Returns (nid, nv, pid ∈ level j).
    *
    * ONLY (nid, ccid, dd) rides the rank shuffle — ~24-byte rows. The
    * earlier shape carried the node vector through the window (≈550 B
    * per row: at 200k corpus × beam 4 × fanout 16 that was ~7 GB of
    * rank shuffle PER LEVEL, the dominant cost the r8 sf1 probe
    * measured at 22 s). Both vectors drop before the shuffle; nv
    * re-attaches with one keyed join of n·b rows against `nodes`.
    *
    * `smallEdges` (r10, the sf100 fix): an edge frame is level-sized —
    * n/fanout rows at the bottom, shrinking by fanout per level — and
    * at every probed scale the frames the route chain joins are ≤
    * corpus/16 rows. Broadcasting them makes the beam join MAP-SIDE:
    * without the hint the planner shuffle-joins, re-exchanging the
    * n·beam beam rows WITH their ~550 B vectors on every level (the
    * r9 sf100 probe's 9.6× constant lived exactly here — 8M beam rows
    * × 3 levels of payload re-shuffle). The caller gates the hint on
    * the edge frame's KNOWN row count (sizes(j)), not a guess.
    */
  private def descend(beam: DataFrame, edges: DataFrame, b: Int,
      nodes: DataFrame, smallEdges: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("nid")).orderBy(col("dd"), col("ccid"))
    val e = edges.select(col("parent").as("pid"), col("cid").as("ccid"),
      col("cv").as("ccv"))
    val picked = beam.join(if (smallEdges) broadcast(e) else e, Seq("pid"))
      .withColumn("dd", d2(col("nv"), col("ccv")))
      .select(col("nid"), col("ccid"), col("dd"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= b)
      .select(col("nid"), col("ccid").as("pid"))
    picked.join(nodes, Seq("nid"))
      .select(col("nid"), col("nv"), col("pid"))
  }

  /** (qid, rn, nid, cos) top-k by beam-searched exact cosine. */
  def search(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      fanout: Int = 16, beamTop: Int = 4, beamMid: Int = 8): DataFrame = {
    val n = corpus.count()
    val routeBeam = 4
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    val maxTop = fanout.toLong * fanout
    // nested level sizes n/f, n/f², … until the top is ≤ fanout²
    val sizes = {
      val b = scala.collection.mutable.ListBuffer[Long](
        math.max(ceilDiv(n, fanout), 1L))
      while (b.last > maxTop) b += ceilDiv(b.last, fanout)
      b.toList
    }
    val base = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    var prev = base
    // levels(0) = L1 … levels(m-1) = top; nested by hash order (the
    // deterministic "level draw")
    val levels = sizes.map { sz =>
      prev = prev.orderBy(xxhash64(col("cid")), col("cid"))
        .limit(sz.toInt).localCheckpoint(eager = true)
      prev
    }.toArray
    val m = levels.length
    val topCand = levels(m - 1).select(col("cid").as("pid"), col("cv").as("pv"))

    /** Route `nodes` (nid, nv) to their parent at `target` level.
      * Cost-based: when nodeCount·|target| distance evaluations fit a
      * fixed budget, the flat broadcast argmin is cheaper than
      * routing's extra shuffles (it is shuffle-free); past the budget
      * the quadratic flat term dominates and the HNSW-style routed
      * descent (score the top, then only children of the beam) takes
      * over — linear in nodes. Routed nodes whose whole beam lands on
      * childless branches (rare) get a brute fallback.
      */
    val bruteBudget = 1L << 27
    def route(nodes: DataFrame, nodeCount: Long, target: Int,
        edges: Array[DataFrame]): DataFrame = {
      if (nodeCount * sizes(target) <= bruteBudget || target == m - 1)
        return IvfIndex.assignOne(nodes,
          levels(target).select(col("cid"), col("cv")), "nid", "nv")
          .toDF("nid", "nv", "pid")
      // materialize the entry beam before the descent joins: fused,
      // the per-row top-scoring expression re-evaluates inside the
      // descent shuffle and the whole route re-runs wherever the edge
      // frame is consumed unmaterialized (measured 3× on the sf1 probe)
      var beam = beamFromSmall(nodes, topCand, routeBeam)
        .localCheckpoint(eager = true)
      // edge frames are level-sized (sizes(jj) rows): broadcast while
      // they fit comfortably (≤ 2^18 rows ≈ 140 MB of doubles)
      for (jj <- m - 2 to target by -1)
        beam = descend(beam, edges(jj), if (jj == target) 1 else routeBeam,
          nodes, smallEdges = sizes(jj) <= QueryShape.BroadcastRowLimit)
      val assigned = beam.select(col("nid"), col("nv"), col("pid"))
        .localCheckpoint(eager = true)
      val stranded = nodes.join(assigned.select(col("nid")), Seq("nid"), "leftanti")
      val rescued = IvfIndex.assignOne(stranded, levels(target)
          .select(col("cid"), col("cv")), "nid", "nv")
        .toDF("nid", "nv", "pid")
      assigned.unionByName(rescued)
    }

    // edges(j): levels(j) node → parent in levels(j+1), built top-down
    // so each level routes through the edges above it
    val edges = new Array[DataFrame](math.max(m - 1, 0))
    for (j <- m - 2 to 0 by -1) {
      val child = levels(j).select(col("cid").as("nid"), col("cv").as("nv"))
      edges(j) = route(child, sizes(j), j + 1, edges)
        .toDF("cid", "cv", "parent")
        .localCheckpoint(eager = true)
    }
    val corpusEdges = route(
        base.select(col("cid").as("nid"), col("cv").as("nv")), n, 0, edges)
      .toDF("nid", "nv", "parent1")
      .localCheckpoint(eager = true)

    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    // top: score every pivot (tiny) — the hierarchy's entry points
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("pid"))
    var beam = q.crossJoin(broadcast(topCand))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("pv")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= beamTop)
      .select(col("qid"), col("qv"), col("pid"))
    // middle levels: expand the beam through the child edges
    for (j <- m - 2 to 0 by -1) {
      val wMid = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("ccid"))
      beam = broadcast(beam)
        .join(edges(j).select(col("parent").as("pid"), col("cid").as("ccid"),
          col("cv").as("ccv")), Seq("pid"))
        .withColumn("cos", VectorOps.cosine(col("qv"), col("ccv")))
        .withColumn("rk", row_number().over(wMid))
        .filter(col("rk") <= beamMid)
        .select(col("qid"), col("qv"), col("ccid").as("pid"))
    }
    // bottom: expand to corpus nodes under the beam, exact re-rank
    val wK = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    broadcast(beam.select(col("qid"), col("qv"), col("pid").as("parent1")))
      .join(corpusEdges, Seq("parent1"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(wK).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
  }
}

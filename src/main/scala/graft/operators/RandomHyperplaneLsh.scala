package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.VectorOps

/** Multi-table random-hyperplane (sign) LSH over `array<double>`
  * embedding columns — the corpus-wide candidate generator behind
  * embedding near-dup detection and approximate kNN.
  *
  * Hyperplane family: component `w(p, d)` of plane `p` is the
  * integer-valued double `((1103·(p·dim+d) + 12289) mod 8191) − 4095`.
  * Integer arithmetic keeps every component exactly representable, so
  * DuckDB replays the same planes from the same formula and the
  * sign-of-dot-product agrees bit-for-bit with the codegen'd
  * [[graft.functions.DotProductExpr]] (same sequential fold as
  * `list_dot_product` — proven for MinHash/SimHash in round 1).
  *
  * Bucketing: `tables` independent hash tables, each keyed by a
  * `bits`-bit integer whose j-th bit is `dot(v, plane(t·bits+j)) ≥ 0`.
  * For vectors at angle θ, a single bit agrees with probability
  * `1 − θ/π`, a table collides with `(1 − θ/π)^bits`, and any-table
  * recall is `1 − (1 − (1−θ/π)^bits)^tables` — near-dup pairs
  * (cos ≥ 0.95, θ ≤ 0.1π) collide in ≥1 of 8×8-bit tables with
  * p ≈ 0.99.
  *
  * Scale shape: candidate generation is an equi-join on
  * `(table, bucket)` — no all-pairs product anywhere. Expected bucket
  * occupancy is `n / 2^bits` per table; at larger corpora raise
  * `bits` (and `tables` to hold recall). Each bucket's candidates are
  * capped by [[CappedPool]], and verification scores the vectors where
  * the candidates meet: no id pair is re-joined to its vectors.
  */
object RandomHyperplaneLsh {

  /** One row per (input row × table): `idCol`, vecCol as `v`, `tbl`,
    * `bucket`. The equi-join surface for candidate generation. All
    * `tables` codes come from ONE fused native expression
    * ([[graft.functions.HyperplaneBucketsExpr]]) — the per-plane
    * composition it replaces fell off the codegen budget past ~30
    * planes (r9 sf10 probe: 4×13 planes cost 8× of 2×13 on half the
    * candidates); values are bit-identical, so oracles replay
    * unchanged.
    */
  def bucketed(e: DataFrame, idCol: String, vecCol: String,
      tables: Int, bits: Int, dim: Int): DataFrame = {
    val codes = org.apache.spark.sql.GraftBridge.column(
      graft.functions.HyperplaneBucketsExpr(
        org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
        tables, bits, dim))
    e.select(col(idCol), col(vecCol).as("v"),
      posexplode(codes).as(Seq("tbl", "bucket")))
  }

  /** Corpus-wide near-duplicate pairs: LSH candidates verified by
    * exact cosine ≥ `threshold` (4-dp rounded). Output
    * `(id_a, id_b, cos_sim)` ordered by ids.
    *
    * Each (tbl, bucket) pool of at most `bucketCap` lowest-id members
    * (float vector, precomputed norm and codes each) is one
    * [[CappedPool.packed]] row, so every probe row meets exactly one
    * packed row and `LshPoolMatchesExpr` scores its members in-task:
    * only threshold-passing pairs ever become rows. The expression
    * emits a pair only at its first shared pooled table (the
    * `poolmask`), so no distinct runs and no cross-table collision is
    * scored twice; the emitted set is the capped pool join's
    * (LshRecallSpec pins it against a naive pool join). Float carry is
    * value-exact for float32-origin vectors, and `na·nb` is the
    * oracle's `sqrt(dot)·sqrt(dot)` sequence.
    */
  def nearDupPairs(e: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 8, bits: Int = 8, dim: Int = 64,
      bucketCap: Int = 256): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // Packed, because clustered embeddings put 20-75k vectors in a
    // bucket regardless of bits: one joined row per candidate was 3.2G
    // rows (~1.9 TB of row churn) at sf100 (OPTIMIZATION_r10.md).
    val codesCol = GraftBridge.column(
      graft.functions.HyperplaneBucketsExpr(
        GraftBridge.expression(col(vecCol)), tables, bits, dim))
    val bk = e.select(col(idCol),
      col(vecCol).cast("array<float>").as("vf"),
      VectorOps.norm(col(vecCol)).as("nrm"),
      codesCol.as("codes"))
      .select(col(idCol), col("vf"), col("nrm"), col("codes"),
        posexplode(col("codes")).as(Seq("tbl", "bucket")))
    val packed = CappedPool.packed(bk, "bucket", idCol, bucketCap,
      col("vf"), col("nrm"), col("codes"))
    val matches = GraftBridge.column(graft.functions.LshPoolMatchesExpr(
      GraftBridge.expression(col("vb")), GraftBridge.expression(col("nb")),
      GraftBridge.expression(col("id_b")), GraftBridge.expression(col("cb")),
      GraftBridge.expression(col("tbl")), GraftBridge.expression(col("pool")),
      threshold - 1e-4))
    bk.select(col("tbl"), col("bucket"), col(idCol).as("id_b"),
        col("vf").as("vb"), col("nrm").as("nb"), col("codes").as("cb"))
      .join(packed, Seq("tbl", "bucket"))
      .select(col("id_b"), explode(matches).as("m"))
      .select(col("m.id_a").as("id_a"), col("id_b"),
        (round(col("m.cos"), 4) + lit(0.0)).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .transform(df => graft.QueryShape.stagedSort(df, col("id_a"), col("id_b")))
  }

  /** Approximate top-`k` cosine neighbors for a (small, broadcast)
    * query set: candidates are bucket-mates in any table, ranked by
    * exact cosine. Output `(qid, rn, nid, cos_sim)`.
    */
  def knn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = bucketed(corpus, idCol, vecCol, tables, bits, dim)
      .select(col("tbl"), col("bucket"), col(idCol).as("nid"), col("v").as("nv"))
    val qb = bucketed(queries, idCol, vecCol, tables, bits, dim)
      .select(col("tbl"), col("bucket"), col(idCol).as("qid"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("qv"), col("nid"), col("nv")).distinct()
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"),
        (round(col("cos"), 4) + lit(0.0)).as("cos_sim"))
      .transform(df => graft.QueryShape.stagedSort(df, col("qid"), col("rn")))
  }

  /** OCCUPANCY-TARGETED bucket width: the smallest `bits ≥ minBits`
    * with expected bucket occupancy `n / 2^bits ≤ targetOcc` — the
    * header's own scale prescription made executable. Integer-only
    * derivation ((1 << bits) · targetOcc ≥ n), so DuckDB replays it
    * exactly with no log2 float boundary. With occupancy pinned,
    * candidate volume is Θ(n · tables · targetOcc) — LINEAR in the
    * corpus by construction, where a fixed `bits` grows per-bucket
    * work ∝ n²/2^bits until the cap binds (the r8 sf10 probe measured
    * that regime at 29.7×). The per-table recall cost of each extra
    * bit is bought back by one NN-descent round ([[refineOnce]]).
    */
  def adaptiveBits(n: Long, targetOcc: Long = 32L, minBits: Int = 8,
      maxBits: Int = 24): Int = {
    var b = minBits
    while (b < maxBits && (targetOcc << b) < n) b += 1
    b
  }

  /** (id, float vector, precomputed norm) — the attach-join payload:
    * float cast is value-exact for float-origin corpora (half the
    * shuffle bytes), the norm rides as 8 bytes so cosine costs one
    * dot product per candidate instead of three.
    */
  private def floatVecs(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol),
      col(vecCol).cast("array<float>").as("vf"),
      VectorOps.norm(col(vecCol)).as("nrm"))

  /** One NN-DESCENT round (Dong et al., WWW'11) over a directed top-k
    * edge list: neighbors-of-neighbors in the UNDIRECTED graph become
    * new candidates — one self-equi-join on the ≤ 2k·n edge list, so
    * the round costs O(n·k²) candidates regardless of corpus size or
    * bucket geometry. This is the recall lever that lets the LSH
    * generator run CHEAP (occupancy-targeted bits): locally, if q's
    * list holds n and n's list holds m, (q, m) gets scored even when
    * no bucket ever co-housed them. The merged (base ∪ scored) set
    * dedups once (a re-scored base pair carries the bit-identical
    * cos) and re-ranks per node. Returns (qid, rn, nid, cos) — raw.
    */
  def refineOnce(edges: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, midCap: Int = 24,
      prune: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The base list fans out THREE ways below (two und branches, the
    // final union) — without a lineage cut the whole
    // LSH build re-executes per branch (measured 3× at sf1).
    // Checkpointing n·k id+cos rows is the standard move for any
    // iterative graph refinement; at cluster scale this is a
    // checkpoint to storage, here a local one.
    val e = edges.select(col("qid"), col("nid"), col("cos"))
      .localCheckpoint(true)
    // The eager checkpoint truncates lineage: every shuffle file
    // upstream of it is now garbage, but ContextCleaner only reaps
    // them after a driver GC notices the dead Exchange objects — and
    // at sf100 the un-reaped base-build + prior-round files (tens of
    // GB) accumulated into "No space left on device" mid-query. One
    // driver GC per refinement round is Spark's own periodicGC move,
    // bounded and cluster-safe. Gated on edge count (cheap — e is an
    // eager local checkpoint, the count scans cached blocks): below 1M
    // edges the upstream shuffle files are small and a forced full GC
    // is pure driver pause (sf1 runs, spec/probe callers); the sf100
    // disk blow-up this guards against starts at ~6M edges. Caveat:
    // under -XX:+DisableExplicitGC this is a silent no-op — on such a
    // deployment rely on spark.cleaner.periodicGC.interval instead.
    if (e.count() >= 1_000_000L) System.gc()
    val und = e.select(col("qid"), col("nid"))
      .union(e.select(col("nid").as("qid"), col("qid").as("nid")))
    // IN-JOIN scoring here too (r9 sf100): each side of the
    // neighbors-of-neighbors join attaches its OUTER endpoint's
    // vector first — O(n·k) rows with a 280 B payload — so the
    // O(n·k²) candidate stream scores in-task and only (qid, nid,
    // cos) triples shuffle for the dedup/window. The
    // previous shape distinct'd id pairs first, then re-shuffled the
    // candidate volume twice with vectors attached. Same output set:
    // duplicates of a pair (several middle nodes m) score
    // bit-identically, so distinct-on-triple == distinct-then-score.
    // REVERSE-NEIGHBOR SAMPLING (NN-descent's own ρ-sampling, Dong
    // et al. §2.3, made deterministic): each middle node contributes
    // at most `midCap` edges PER SIDE of the wedge join — the r9
    // sf100 diag measured und hubs of degree ~1044 (every member of a
    // capped hot bucket ranks its top-3 from the same 64-id pool, so
    // pool members become everyone's neighbor) and Σ in·out = 1.07 G
    // wedge candidates, a 34 GB distinct that filled the disk. With
    // the cap, wedge volume is ≤ Σ min(d, midCap)² ≤ n·midCap² by
    // construction — skew-proof, like the bucket pools. The rank is
    // (mid, id)-ordered, so DuckDB replays the identical sample.
    val wA = Window.partitionBy(col("mid")).orderBy(col("qid"))
    val wB = Window.partitionBy(col("mid")).orderBy(col("nid"))
    val fv = floatVecs(corpus, idCol, vecCol)
    val aSide = und
      .select(col("nid").as("mid"), col("qid"))
      .withColumn("mrn", row_number().over(wA))
      .filter(col("mrn") <= midCap)
      .join(fv.select(col(idCol).as("qid"), col("vf").as("qv"),
        col("nrm").as("qn")), Seq("qid"))
      .select(col("mid"), col("qid"), col("qv"), col("qn"))
    val bSide = und.select(col("qid").as("mid"), col("nid"))
      .withColumn("mrn", row_number().over(wB))
      .filter(col("mrn") <= midCap)
      .join(fv.select(col(idCol).as("nid"), col("vf").as("nv"),
        col("nrm").as("nn")), Seq("nid"))
      .select(col("mid"), col("nid"), col("nv"), col("nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val scored = aSide.join(bSide, Seq("mid"))
      .filter(col("qid") =!= col("nid"))
      // float-native dot (r10): DotProductExpr widens per element —
      // bit-identical to the double-cast form without the per-row
      // Cast allocating two 512 B arrays per candidate
      .withColumn("cos", VectorOps.dot(col("qv"), col("nv")) /
        (col("qn") * col("nn")))
      .select(col("qid"), col("nid"), col("cos"))
      // DENSE-RANK PRUNE BEFORE THE DISTINCT (r11, VERDICT r10 ask #4
      // — knnGraphEdges' rank-prune move applied to the refine): the
      // wedge stream is O(n·midCap²) triples and a pair repeats once
      // per shared middle node (UNBOUNDED multiplicity — low-id nodes
      // sit in every neighboring mid's pool), so the row_number trick
      // can't cap it but dense_rank can: duplicates carry the
      // identical (cos, nid) key, so dense_rank ≤ k keeps exactly the
      // top-k DISTINCT candidates per qid (with their copies, which
      // the distinct then drops). Spark's partial WindowGroupLimit
      // applies the filter MAP-SIDE, so the wedge stream — 1.15G
      // triples / ~28 GB through the distinct exchange at the r10
      // sf100 probe, the disk-bound tail of knn_graph's 171-254 s
      // spread — shrinks to ≤ k distinct values per (qid, map task)
      // before any exchange. LOSSLESS for the final top-k: a triple
      // with dense_rank > k has ≥ k distinct better-ranked scored
      // candidates, all present in the union below (via scored, or
      // via e with the bit-identical cos the base pass computed), so
      // it can never enter the final rn ≤ k — and an e-duplicate
      // pruned here survives through e itself.
      // (`prune = false` keeps the unpruned path — spec hook only, so
      // RefinePruneParitySpec can pin the equivalence)
      .transform(df => if (prune)
        df.withColumn("dr", dense_rank().over(w))
          .filter(col("dr") <= k)
          .drop("dr")
        else df)
    // ONE distinct over the (tiny, post-prune) union replaces the old
    // distinct + anti-join pair: e is already duplicate-free, a wedge
    // triple that also lives in e carries the bit-identical cos (same
    // float-dot expression scored it there), so
    // distinct(e ∪ wedge) == e ∪ (distinct(wedge) \ e) as sets — the
    // exact multiset the old shape ranked.
    e.union(scored).distinct()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** All-pairs k-NN GRAPH over one corpus: every node's top-k directed
    * edges `(qid, rn, nid, cos)`. Candidates are bucket-mates as in
    * [[knn]], but the bucket join is a plain shuffle equi-join: the
    * "query" side is the whole corpus, so there is nothing small to
    * broadcast. The cos column is RAW (unrounded), the form the
    * NN-descent refinement merges with newly scored candidates so
    * ranking never mixes rounded and unrounded keys.
    */
  def knnGraphEdges(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 8, bits: Int = 8, dim: Int = 64,
      bucketCap: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // IN-JOIN scoring (forced by the r9 sf100 probe): the previous id-only candidate set + two vector
    // attach joins re-shuffled every candidate PAIR with a 256-byte
    // vector glued on — n·tables·bucketCap pairs ≈ 512M at sf100,
    // ~150 GB of shuffle per attach join, which filled the disk and
    // killed the spill ("SPILL_OUT_OF_MEMORY: No space left on
    // device"). Instead both sides of the bucket equi-join carry
    // their float vector + precomputed norm — O(n·tables) rows of
    // ~280 B, NOT O(candidates) — every candidate cosine evaluates
    // in-task (codegen'd dot product over a streamed join row), and
    // only 24-byte (qid, nid, cos) triples ever hit a shuffle. The
    // cross-table distinct stays safe on the triple: the same pair
    // scores bit-identically in every table it collides in.
    //
    // Each node compares against its buckets' [[CappedPool]] of
    // `bucketCap` lowest ids. Inside a capped hot bucket the pool
    // members are mutually near by LSH construction, so the ranked
    // top-k remains a faithful ANN answer.
    val codes = org.apache.spark.sql.GraftBridge.column(
      graft.functions.HyperplaneBucketsExpr(
        org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
        tables, bits, dim))
    val bk = corpus.select(col(idCol),
      col(vecCol).cast("array<float>").as("vf"),
      VectorOps.norm(col(vecCol)).as("nrm"),
      posexplode(codes).as(Seq("tbl", "bucket")))
    val pool = CappedPool.lowest(bk, Seq("tbl", "bucket"), idCol, bucketCap)
      .select(col("tbl"), col("bucket"), col(idCol).as("nid"),
        col("vf").as("nv"), col("nrm").as("nn"))
    val probe = bk.select(col("tbl"), col("bucket"), col(idCol).as("qid"),
      col("vf").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    // RANK-PRUNE BEFORE THE DISTINCT: a pair collides in at most
    // `tables` tables and every collision scores the identical
    // (qid, nid, cos) triple, so the 3rd-distinct neighbor's last
    // duplicate sits at raw rank ≤ k·tables — pruning there loses
    // nothing. The win is physical: Spark's partial WindowGroupLimit
    // applies the rank filter MAP-SIDE on the bucket-join output, so
    // the O(n·tables·bucketCap) candidate stream (512M triples / 18 GB
    // at the r9 sf100 probe — enough to fill the local disk together
    // with the refinement shuffles) never reaches an exchange; only
    // ≤ k·tables rows per (qid, map task) shuffle for the dedup + the
    // exact re-rank.
    probe.join(pool, Seq("tbl", "bucket"))
      .filter(col("nid") =!= col("qid"))
      // float-native dot (r10) — no per-candidate Cast allocation
      .withColumn("cos", VectorOps.dot(col("qv"), col("nv")) /
        (col("qn") * col("nn")))
      .select(col("qid"), col("nid"), col("cos"))
      .withColumn("prn0", row_number().over(w))
      .filter(col("prn0") <= k * tables)
      .drop("prn0")
      .distinct()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }
}

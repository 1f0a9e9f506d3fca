package graft

import graft.ecs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing ECS demo queries (SURVEY §2.A): each runs a real
  * simulation through the `graft.ecs` engine seeded from the test
  * tables, so results are closed-form SQL-verifiable by the DuckDB
  * oracle. All seed values are exact binary doubles (floor of money
  * values, quarter-step dt, small-int velocities), so multi-step float
  * accumulation equals the closed form bit-for-bit.
  */
object EcsQueries {

  case class Position(x: Double, y: Double) extends Component
  case class Velocity(vx: Double, vy: Double) extends Component

  val PosMeta: ComponentMeta = ComponentMeta.of[Position]
  val VelMeta: ComponentMeta = ComponentMeta.of[Velocity]
  val PosVel: Seq[ComponentMeta] = Seq(PosMeta, VelMeta)

  val PosVelHash: String = Archetype.hashOf(PosVel)
  val PosOnlyHash: String = Archetype.hashOf(Seq(PosMeta))

  /** position += velocity * dt (reference: tests/test_toy.py:15-22). */
  object MovementProcessor extends Processor {
    override val priority = 1
    val components: Seq[ComponentMeta] = PosVel
    def process(df: DataFrame, dt: Double): DataFrame = df
      .withColumn("position__x", col("position__x") + col("velocity__vx") * dt)
      .withColumn("position__y", col("position__y") + col("velocity__vy") * dt)
  }

  /** Flocking force as a Processor — the spatial-grid broad phase
    * (A9's SpatialGrid) closing the loop into the step cycle: each
    * step, every entity steers toward its neighborhood's center
    * (cohesion 0.25) and mean heading (alignment 0.5), then moves
    * with the steered velocity. Neighbor aggregation is the grid
    * equi-join + one hash agg (never all-pairs); all neighbor SUMS
    * are over integer-valued doubles, so the means are exact ratios
    * and the step replays bit-for-bit in the oracle.
    */
  final case class FlockingProcessor(radius: Double) extends Processor {
    override val priority = 1
    val components: Seq[ComponentMeta] = PosVel
    def process(df: DataFrame, dt: Double): DataFrame = {
      // r10: packed-pool neighbor sums replace the pair-materializing
      // neighborPairs → symmetrize → attach-join → groupBy shape,
      // which died on disk at sf100 (fixed-extent box: 10x points →
      // ~100x true near-pairs → ~20G pair rows). neighborSums keeps
      // the quadratic term in-task CPU and shuffles only O(points).
      val nbrs = graft.operators.SpatialGrid.neighborSums(
        df, col("entity_id"), col("position__x"), col("position__y"),
        col("velocity__vx"), col("velocity__vy"), radius)
        .withColumnRenamed("id", "entity_id")
      df.join(nbrs, Seq("entity_id"), "left")
        .withColumn("velocity__vx", when(col("n_nb").isNotNull,
            col("velocity__vx")
              + lit(0.25) * (col("sx") / col("n_nb") - col("position__x"))
              + lit(0.5) * (col("svx") / col("n_nb") - col("velocity__vx")))
          .otherwise(col("velocity__vx")))
        .withColumn("velocity__vy", when(col("n_nb").isNotNull,
            col("velocity__vy")
              + lit(0.25) * (col("sy") / col("n_nb") - col("position__y"))
              + lit(0.5) * (col("svy") / col("n_nb") - col("velocity__vy")))
          .otherwise(col("velocity__vy")))
        // move with the STEERED velocity (the withColumns above)
        .withColumn("position__x", col("position__x") + col("velocity__vx") * dt)
        .withColumn("position__y", col("position__y") + col("velocity__vy") * dt)
        .drop("n_nb", "sx", "sy", "svx", "svy")
    }
  }

  private def seedCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("entity_id"),
      floor(col("c_acctbal")).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      (col("c_custkey") % 7).cast("double").as("velocity__vx"),
      ((col("c_custkey") % 5) - 2).cast("double").as("velocity__vy"))

  private def seedSuppliers(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "supplier").select(
      (col("s_suppkey") + 1000000L).cast("long").as("entity_id"),
      floor(col("s_acctbal")).cast("double").as("position__x"),
      lit(1.0).as("position__y"))

  /** A2: full step loop — spawn from customer, 8 steps of dt=0.25. */
  def movementSim(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_movement")
    world.addProcessor(MovementProcessor)
    world.spawnBatch(PosVel, seedCustomers(spark, dir))
    (1 to 8).foreach(_ => world.step(0.25))
    world.query(PosVel)(PosVelHash)
      .select("entity_id", "position__x", "position__y")
      .orderBy("entity_id")
  }

  val movementSimOracle: String =
    """SELECT c_custkey AS entity_id,
      |       floor(c_acctbal) + 2.0 * (c_custkey % 7) AS position__x,
      |       0.0 + 2.0 * ((c_custkey % 5) - 2) AS position__y
      |FROM customer ORDER BY entity_id""".stripMargin

  /** A1: two archetypes; a Position query matches both (subset match). */
  def spawnQuery(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_spawn")
    world.spawnBatch(PosVel, seedCustomers(spark, dir))
    world.spawnBatch(Seq(PosMeta), seedSuppliers(spark, dir))
    val parts = world.query(Seq(PosMeta)).map { case (hash, df) =>
      df.select(
        col("entity_id"), col("position__x"), col("position__y"),
        lit(hash).as("archetype"))
    }
    parts.reduce(_ unionByName _)
      .orderBy("entity_id")
  }

  def spawnQueryOracle: String =
    s"""SELECT * FROM (
       |  SELECT c_custkey AS entity_id, floor(c_acctbal) AS position__x,
       |         0.0 AS position__y, '$PosVelHash' AS archetype
       |  FROM customer
       |  UNION ALL
       |  SELECT s_suppkey + 1000000 AS entity_id, floor(s_acctbal) AS position__x,
       |         1.0 AS position__y, '$PosOnlyHash' AS archetype
       |  FROM supplier
       |) ORDER BY entity_id""".stripMargin

  /** A3: per-step history of a 3-step supplier sim (steps 0..3). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_history")
    world.addProcessor(MovementProcessor)
    val seed = Tables.load(spark, dir, "supplier").select(
      col("s_suppkey").cast("long").as("entity_id"),
      floor(col("s_acctbal")).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      (col("s_suppkey") % 3).cast("double").as("velocity__vx"),
      lit(1.0).as("velocity__vy"))
    world.spawnBatch(PosVel, seed)
    (1 to 3).foreach(_ => world.step(0.5))
    world.getHistory(PosVel)(PosVelHash)
      .select("entity_id", "step", "position__x", "position__y")
      .orderBy("entity_id", "step")
  }

  val historyOracle: String =
    """SELECT s_suppkey AS entity_id, st.step,
      |       floor(s_acctbal) + 0.5 * st.step * (s_suppkey % 3) AS position__x,
      |       0.5 * st.step AS position__y
      |FROM supplier CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS step) st
      |ORDER BY entity_id, step""".stripMargin

  /** A4: soft-delete — despawned entities drop out of the live query. */
  def despawn(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_despawn")
    world.spawnBatch(PosVel, seedCustomers(spark, dir))
    world.despawnWhere(PosVel, col("entity_id") % 3 === 0)
    world.query(PosVel)(PosVelHash)
      .select("entity_id", "position__x")
      .orderBy("entity_id")
  }

  val despawnOracle: String =
    """SELECT c_custkey AS entity_id, floor(c_acctbal) AS position__x
      |FROM customer WHERE c_custkey % 3 <> 0 ORDER BY entity_id""".stripMargin

  /** A5: merge-insert — two upserts on the same (entity, step) key;
    * the later commit wins.
    */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_upsert")
    val base = Tables.load(spark, dir, "supplier").select(
      col("s_suppkey").cast("long").as("entity_id"),
      lit(0.0).as("position__x"),
      lit(0.0).as("position__y"))
    world.spawnBatch(Seq(PosMeta), base)
    val store = world.store
    def stateAt(x: org.apache.spark.sql.Column): DataFrame =
      Tables.load(spark, dir, "supplier").select(
        lit(store.simulation).as("simulation"),
        lit(store.run).as("run"),
        col("s_suppkey").cast("long").as("entity_id"),
        lit(0L).as("step"),
        lit(true).as("is_active"),
        x.cast("double").as("position__x"),
        lit(0.0).as("position__y"))
    store.upsert(PosOnlyHash, stateAt(floor(col("s_acctbal"))))
    store.upsert(PosOnlyHash, stateAt(floor(col("s_acctbal")) + 1))
    world.query(Seq(PosMeta))(PosOnlyHash)
      .select("entity_id", "position__x")
      .orderBy("entity_id")
  }

  val upsertOracle: String =
    """SELECT s_suppkey AS entity_id, floor(s_acctbal) + 1 AS position__x
      |FROM supplier ORDER BY entity_id""".stripMargin

  /** Cohesion: every entity moves toward the GLOBAL mean position —
    * a processor whose per-entity update depends on an aggregate of
    * ALL entities (flocking/center-of-mass style), expressed as one
    * agg + broadcast inside the step. The reference's per-row engine
    * has no such coupling; in Spark it is one extra stage. The mean
    * is invariant under the update (Σ of deltas is 0), so t steps
    * have the closed form mu + (x0 − mu)·(1−dt)^t.
    */
  object CohesionProcessor extends Processor {
    override val priority = 1
    val components: Seq[ComponentMeta] = Seq(PosMeta)
    def process(df: DataFrame, dt: Double): DataFrame = {
      val mu = df.agg(avg(col("position__x")).as("mu"))
      df.crossJoin(broadcast(mu))
        .withColumn("position__x",
          col("position__x") + (col("mu") - col("position__x")) * dt)
        .drop("mu")
    }
  }

  /** A8: global-interaction step loop — 3 steps of dt=0.25 cohesion;
    * oracle = the closed form with (1−dt)^3 = 0.421875 (exact binary).
    * Per-step float drift of the mean is ~1e-12, absorbed by the 4dp
    * round on both sides.
    */
  def globalInteraction(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_cohesion")
    world.addProcessor(CohesionProcessor)
    world.spawnBatch(Seq(PosMeta), seedSuppliers(spark, dir))
    (1 to 3).foreach(_ => world.step(0.25))
    world.query(Seq(PosMeta))(PosOnlyHash)
      .select(col("entity_id"),
        round(col("position__x"), 4).as("position__x"))
      .orderBy(col("entity_id"))
  }

  val globalInteractionOracle: String =
    """WITH m AS (SELECT avg(floor(s_acctbal)) AS mu FROM supplier)
      |SELECT s_suppkey + 1000000 AS entity_id,
      | round(mu + (floor(s_acctbal) - mu) * 0.421875, 4) AS position__x
      |FROM supplier, m ORDER BY entity_id""".stripMargin

  /** A7: time travel on the durable store — two manifest-published
    * commits; a store attached `atCommit = 0` resolves the ORIGINAL
    * state while the tip sees the upsert, both latest-wins. The
    * versioned manifests are one tiny file per commit, so historical
    * attach stays O(1) like the tip attach.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("tt")
    val world = World.make(spark, "sim_graft", "run_tt")
    val store = world.store
    world.spawnBatch(Seq(PosMeta), seedSuppliers(spark, dir))
    store.commitDelta(tmp) // commit 0: x = floor(acctbal)
    val bumped = Tables.load(spark, dir, "supplier").select(
      lit(store.simulation).as("simulation"),
      lit(store.run).as("run"),
      (col("s_suppkey") + 1000000L).cast("long").as("entity_id"),
      lit(0L).as("step"),
      lit(true).as("is_active"),
      (floor(col("s_acctbal")) + 100.0).cast("double").as("position__x"),
      lit(1.0).as("position__y"))
    store.upsert(PosOnlyHash, bumped)
    store.commitDelta(tmp) // commit 1: x = floor(acctbal) + 100
    def summarize(s2: ArchetypeStore, tag: String): DataFrame =
      s2.resolved(PosOnlyHash)
        .agg(count(lit(1)).as("n"), round(sum(col("position__x")), 2).as("sum_x"))
        .select(lit(tag).as("version"), col("n"), col("sum_x"))
    val s0 = new ArchetypeStore(spark, "sim_graft", "run_tt")
    s0.attachDurable(Seq(PosMeta), tmp, atCommit = Some(0L))
    val sTip = new ArchetypeStore(spark, "sim_graft", "run_tt")
    sTip.attachDurable(Seq(PosMeta), tmp)
    summarize(s0, "v0").unionByName(summarize(sTip, "tip"))
      .orderBy(col("version"))
  }

  val timeTravelOracle: String =
    """SELECT * FROM (
      | SELECT 'tip' AS version, count(*) AS n,
      |   round(sum(floor(s_acctbal) + 100), 2) AS sum_x FROM supplier
      | UNION ALL
      | SELECT 'v0' AS version, count(*) AS n,
      |   round(sum(floor(s_acctbal)), 2) AS sum_x FROM supplier
      |) ORDER BY version""".stripMargin

  /** A9: spatial neighbor query — the collision/flocking broad phase.
    * Customers spawn as points (x = floor(acctbal), y = custkey mod
    * 997); all pairs within radius 25 come from the grid-bucketed
    * half-neighborhood join (operators/SpatialGrid), NOT an all-pairs
    * product — candidate volume is O(points + near pairs), the only
    * shuffle is the cell equi-join. Coordinates are integer-valued
    * doubles so dist² is exact and the DuckDB all-pairs oracle
    * hash-matches. Output: per distance band, pair count + Σdist².
    */
  def spatialNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_spatial")
    val seed = Tables.load(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("entity_id"),
      floor(col("c_acctbal")).cast("double").as("position__x"),
      (col("c_custkey") % 997).cast("double").as("position__y"))
    world.spawnBatch(Seq(PosMeta), seed)
    val pts = world.query(Seq(PosMeta))(PosOnlyHash)
    val pairs = graft.operators.SpatialGrid.neighborPairs(
      pts, col("entity_id"), col("position__x"), col("position__y"), 25.0)
    pairs
      .groupBy(when(col("dist2") <= 156.25, "inner").otherwise("outer").as("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dist2")).cast("long").as("sum_d2"))
      .orderBy(col("band"))
  }

  val spatialNeighborsOracle: String =
    """WITH p AS (
      | SELECT c_custkey AS id, floor(c_acctbal) AS x,
      |        CAST(c_custkey % 997 AS DOUBLE) AS y
      | FROM customer),
      |pr AS (
      | SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      | FROM p a JOIN p b ON a.id < b.id
      | WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625.0)
      |SELECT CASE WHEN d2 <= 156.25 THEN 'inner' ELSE 'outer' END AS band,
      | count(*) AS n_pairs, CAST(sum(d2) AS BIGINT) AS sum_d2
      |FROM pr GROUP BY 1 ORDER BY band""".stripMargin

  /** A10: archetype migration — add a component to a subset of live
    * entities, moving them between archetype tables. Suppliers spawn
    * Position-only; even entities gain Velocity (vx = id mod 5 from
    * the source row, vy = 1) and migrate to the (Position, Velocity)
    * archetype; odd entities stay. A Position query then sees BOTH
    * tables (subset match) with the evens exactly once — tombstone in
    * the source, insert in the target, both appends. Output: per
    * group, count + Σx + Σvx.
    */
  def migration(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_migrate")
    world.spawnBatch(Seq(PosMeta), seedSuppliers(spark, dir))
    world.migrateWhere(Seq(PosMeta), PosVel, col("entity_id") % 2 === 0,
      defaults = Map(
        "velocity__vx" -> (col("entity_id") % 5).cast("double"),
        "velocity__vy" -> lit(1.0)))
    val migrated = world.query(PosVel)(PosVelHash)
      .agg(count(lit(1)).as("n"),
        round(sum(col("position__x")), 2).as("sum_x"),
        round(sum(col("velocity__vx")), 2).as("sum_vx"))
      .select(lit("migrated").as("kind"), col("n"), col("sum_x"), col("sum_vx"))
    val stayed = world.query(Seq(PosMeta))(PosOnlyHash)
      .agg(count(lit(1)).as("n"),
        round(sum(col("position__x")), 2).as("sum_x"))
      .select(lit("stayed").as("kind"), col("n"), col("sum_x"),
        lit(0.0).as("sum_vx"))
    migrated.unionByName(stayed).orderBy(col("kind"))
  }

  val migrationOracle: String =
    """SELECT * FROM (
      | SELECT 'migrated' AS kind, count(*) AS n,
      |   round(sum(floor(s_acctbal)), 2) AS sum_x,
      |   round(sum(CAST((s_suppkey + 1000000) % 5 AS DOUBLE)), 2) AS sum_vx
      | FROM supplier WHERE (s_suppkey + 1000000) % 2 = 0
      | UNION ALL
      | SELECT 'stayed' AS kind, count(*) AS n,
      |   round(sum(floor(s_acctbal)), 2) AS sum_x, 0.0 AS sum_vx
      | FROM supplier WHERE (s_suppkey + 1000000) % 2 = 1
      |) ORDER BY kind""".stripMargin

  /** A11: trajectory analytics over a BUCKETED history table. A long
    * simulation's history is the 100 TB ECS artifact; step-over-step
    * analysis self-joins it on entity_id, so the persisted layout is
    * bucketed on entity_id (bucketBy/sortBy saveAsTable) and the
    * step-4 vs step-8 displacement join runs with ZERO shuffle
    * exchanges — asserted on the plan inside the query (broadcast off,
    * the global aggregate is a SinglePartition exchange, never a
    * hashpartitioning one). Oracle = the closed-form displacement
    * (4 steps × dt 0.25 × integer velocity = exactly vx, vy).
    */
  def trajectory(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_traj")
    world.addProcessor(MovementProcessor)
    val seed = seedCustomers(spark, dir)
    // r11 (guide §2.5 — scale-adaptive layout): the bucket count was a
    // FIXED 8, so the shuffle-free displacement join ran 8 tasks at
    // every scale — at sf100 (180M history rows) each task re-sorted
    // ~2×2.5M step-filtered rows serially on a 32-core box (probe:
    // 488 s, factor 12.7). Derive it from the KNOWN history row count
    // (entities × 9 step frames, ~2M rows per bucket): 8 at the test
    // SFs and sf10 (layout unchanged, bench comparable), ~85 at
    // sf100. One cheap metadata-count job; join results are
    // byte-identical (count + sums of exact integer displacements).
    val nBuckets = QueryShape.bucketCount(seed.count() * 9L, 1L << 21)
    world.spawnBatch(PosVel, seed)
    (1 to 8).foreach(_ => world.step(0.25))
    val hist = world.getHistory(PosVel)(PosVelHash)
      .select(col("entity_id"), col("step"), col("position__x"), col("position__y"))
    val tbl = s"graft_traj_${java.util.UUID.randomUUID().toString.take(8)}"
    hist.write.bucketBy(nBuckets, "entity_id").sortBy("entity_id").saveAsTable(tbl)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t4 = spark.table(tbl).filter(col("step") === 4)
        .select(col("entity_id"), col("position__x").as("x4"), col("position__y").as("y4"))
      val t8 = spark.table(tbl).filter(col("step") === 8)
        .select(col("entity_id"), col("position__x").as("x8"), col("position__y").as("y8"))
      val joined = t4.join(t8, Seq("entity_id"))
        .select(col("entity_id"), (col("x8") - col("x4")).as("dx"),
          (col("y8") - col("y4")).as("dy"))
        .agg(count(lit(1)).as("n_entities"),
          round(sum(col("dx")), 2).as("sum_dx"),
          round(sum(col("dy")), 2).as("sum_dy"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        "bucketed history self-join unexpectedly shuffled")
      // one summary row: a driver round-trip materializes it before
      // the table drops, with no retained executor blocks (the
      // localCheckpoint alternative pins block storage for the
      // session — the r2-ADVICE leak pattern)
      spark.createDataFrame(
        java.util.Arrays.asList(joined.collect(): _*), joined.schema)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  val trajectoryOracle: String =
    """SELECT count(*) AS n_entities,
      | round(sum(CAST(c_custkey % 7 AS DOUBLE)), 2) AS sum_dx,
      | round(sum(CAST((c_custkey % 5) - 2 AS DOUBLE)), 2) AS sum_dy
      |FROM customer""".stripMargin

  /** A6: archetype fan-out counts for a subset query. */
  def multiArchetype(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_multi")
    world.spawnBatch(PosVel, seedCustomers(spark, dir))
    world.spawnBatch(Seq(PosMeta), seedSuppliers(spark, dir))
    val parts = world.query(Seq(PosMeta)).map { case (hash, df) =>
      df.groupBy(lit(hash).as("archetype")).agg(count(lit(1)).as("n"))
    }
    parts.reduce(_ unionByName _).orderBy("archetype")
  }

  def multiArchetypeOracle: String =
    s"""SELECT * FROM (
       |  SELECT '$PosVelHash' AS archetype, (SELECT count(*) FROM customer) AS n
       |  UNION ALL
       |  SELECT '$PosOnlyHash' AS archetype, (SELECT count(*) FROM supplier) AS n
       |) ORDER BY archetype""".stripMargin

  /** A12: flocking step through the full World cycle — spawn a 2D
    * field from customers (integer-valued coordinates/velocities),
    * run ONE FlockingProcessor step (grid broad phase + neighbor
    * steer + move), read the step-1 frame per entity. The oracle
    * replays the neighbor aggregation as a brute-force radius
    * self-join plus the identical steer arithmetic — grid candidate
    * generation must be COMPLETE (a missed adjacent-cell pair changes
    * that entity's mean and its row hash).
    */
  def flocking(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_flock")
    world.addProcessor(FlockingProcessor(25.0))
    val seed = Tables.load(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("entity_id"),
      floor(col("c_acctbal")).cast("double").as("position__x"),
      (col("c_custkey") % 997).cast("double").as("position__y"),
      (col("c_custkey") % 5).cast("double").as("velocity__vx"),
      ((col("c_custkey") % 7) - 3).cast("double").as("velocity__vy"))
    world.spawnBatch(PosVel, seed)
    world.step(0.25)
    world.query(PosVel)(PosVelHash)
      .select(col("entity_id"),
        round(col("position__x"), 4).as("x"),
        round(col("position__y"), 4).as("y"),
        round(col("velocity__vx"), 4).as("vx"),
        round(col("velocity__vy"), 4).as("vy"))
      .orderBy(col("entity_id"))
  }

  val flockingOracle: String =
    """WITH p AS (
      | SELECT c_custkey AS id, floor(c_acctbal) AS x,
      |   CAST(c_custkey % 997 AS DOUBLE) AS y,
      |   CAST(c_custkey % 5 AS DOUBLE) AS vx,
      |   CAST(c_custkey % 7 - 3 AS DOUBLE) AS vy
      | FROM customer),
      |nb AS (
      | SELECT a.id, count(*) AS n, sum(b.x) AS sx, sum(b.y) AS sy,
      |   sum(b.vx) AS svx, sum(b.vy) AS svy
      | FROM p a JOIN p b ON a.id <> b.id
      |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625.0
      | GROUP BY a.id),
      |st AS (
      | SELECT p.id, p.x, p.y,
      |   CASE WHEN nb.n IS NULL THEN p.vx
      |        ELSE p.vx + 0.25 * (nb.sx / nb.n - p.x)
      |                  + 0.5 * (nb.svx / nb.n - p.vx) END AS nvx,
      |   CASE WHEN nb.n IS NULL THEN p.vy
      |        ELSE p.vy + 0.25 * (nb.sy / nb.n - p.y)
      |                  + 0.5 * (nb.svy / nb.n - p.vy) END AS nvy
      | FROM p LEFT JOIN nb ON nb.id = p.id)
      |SELECT id AS entity_id,
      | round(x + nvx * 0.25, 4) AS x, round(y + nvy * 0.25, 4) AS y,
      | round(nvx, 4) AS vx, round(nvy, 4) AS vy
      |FROM st ORDER BY entity_id""".stripMargin

  case class Embedding(vec: Array[Double]) extends Component
  val EmbMeta: ComponentMeta = ComponentMeta.of[Embedding]

  /** A13: ANN over a live ECS component column — the store-side vector
    * search the reference gets from LanceDB (store.py:14, 103-111):
    * spawn the embeddings corpus as an archetype, despawn a slice (so
    * the index provably reads live STORE state, not the raw table),
    * then serve [[World.queryNeighbors]] through the IVF layout built
    * on the active component rows. Seeded centroids (lowest 16 active
    * entity ids, D5's contract) keep the result exactly replayable by
    * the SQL oracle.
    */
  def vectorSearch(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_vecsearch")
    val seed = Tables.load(spark, dir, "embeddings").select(
      col("vec_id").cast("long").as("entity_id"),
      col("embedding").cast("array<double>").as("embedding__vec"))
    world.spawnBatch(Seq(EmbMeta), seed)
    world.despawnWhere(Seq(EmbMeta), col("entity_id") % 10 === 3)
    world.queryNeighbors(EmbMeta, "vec",
        queryIds = (0L to 10L).filterNot(_ % 10 == 3), topK = 3,
        nCentroids = 16, nprobe = 2)
      .withColumn("cos_sim", round(col("cos"), 4) + lit(0.0))
      .drop("cos")
      .transform(QueryShape.stagedSort(_, col("qid"), col("rn")))
  }

  val vectorSearchOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id % 10 <> 3),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
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

  /** A20: BRANCHED (what-if) SIMULATION — fork run A at an historical
    * step into run B and evolve the branch under different dynamics,
    * then compare endpoints. The store's (simulation, run) keying
    * gives branch isolation for free; the fork itself is one history
    * read (the step-1 frame) re-spawned into the new run — no copy of
    * anything but the live frame, which is exactly how a 100 TB store
    * would branch (state at step k is O(entities), not O(history)).
    * Trunk: 3 steps of dt=0.25; branch: forked after step 1, 2 more
    * steps of dt=0.5 — both endpoints closed-form against customer.
    */
  def branchRun(spark: SparkSession, dir: String): DataFrame = {
    val trunk = World.make(spark, "sim_graft", "run_branch_a")
    trunk.addProcessor(MovementProcessor)
    trunk.spawnBatch(PosVel, seedCustomers(spark, dir))
    (1 to 3).foreach(_ => trunk.step(0.25))
    // fork: the step-1 frame of the trunk's history becomes run B's
    // spawn state (position AND velocity — the full archetype)
    val forkFrame = trunk.getHistory(PosVel)(PosVelHash)
      .filter(col("step") === 1L)
      .select(col("entity_id"), col("position__x"), col("position__y"),
        col("velocity__vx"), col("velocity__vy"))
    val branch = World.make(spark, "sim_graft", "run_branch_b")
    branch.addProcessor(MovementProcessor)
    branch.spawnBatch(PosVel, forkFrame)
    (1 to 2).foreach(_ => branch.step(0.5))
    def endpoint(w: World, tag: String): DataFrame =
      w.query(PosVel)(PosVelHash)
        .agg(count(lit(1)).as("n"),
          round(sum(col("position__x")), 2).as("sum_x"),
          round(sum(col("position__y")), 2).as("sum_y"))
        .select(lit(tag).as("branch"), col("n"), col("sum_x"), col("sum_y"))
    endpoint(trunk, "trunk").unionByName(endpoint(branch, "fork_step1"))
      .orderBy(col("branch"))
  }

  // trunk: x0 + 3·0.25·v; branch: (x0 + 0.25·v) + 2·0.5·v = x0 + 1.25·v
  val branchRunOracle: String =
    """SELECT * FROM (
      | SELECT 'fork_step1' AS branch, count(*) AS n,
      |  round(sum(floor(c_acctbal) + 1.25 * (c_custkey % 7)), 2) AS sum_x,
      |  round(sum(1.25 * ((c_custkey % 5) - 2)), 2) AS sum_y
      | FROM customer
      | UNION ALL
      | SELECT 'trunk' AS branch, count(*) AS n,
      |  round(sum(floor(c_acctbal) + 0.75 * (c_custkey % 7)), 2) AS sum_x,
      |  round(sum(0.75 * ((c_custkey % 5) - 2)), 2) AS sum_y
      | FROM customer
      |) ORDER BY branch""".stripMargin

  /** A21: HISTORY COMPACTION (checkpoint thinning) — the storage-
    * management story for a long-running store (the table analogue is
    * H9; LanceDB's `optimize()` is the reference's version of the
    * same concern, store.py:27): a 6-step history keeps every step's
    * frame; the compacted export retains only every 3rd step
    * (0, 3, 6 — checkpoints plus the tip). The query proves the
    * compaction is SAFE where it claims to be: the tip frame and the
    * retained step-3 checkpoint summarize identically from the full
    * and compacted histories (all four sums closed-form against
    * supplier), while the row count shows the 7→3 storage shrink.
    */
  def historyCompaction(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_compact")
    world.addProcessor(MovementProcessor)
    val seed = Tables.load(spark, dir, "supplier").select(
      col("s_suppkey").cast("long").as("entity_id"),
      floor(col("s_acctbal")).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      (col("s_suppkey") % 3).cast("double").as("velocity__vx"),
      lit(1.0).as("velocity__vy"))
    world.spawnBatch(PosVel, seed)
    (1 to 6).foreach(_ => world.step(0.5))
    val full = world.getHistory(PosVel)(PosVelHash)
    val compacted = full.filter(col("step") % 3 === 0)
    def summarize(h: DataFrame, tag: String): DataFrame =
      h.agg(count(lit(1)).as("n_rows"),
        round(sum(when(col("step") === 6, col("position__x"))), 2).as("sum_x_tip"),
        round(sum(when(col("step") === 3, col("position__x"))), 2).as("sum_x_ckpt"))
        .select(lit(tag).as("version"), col("n_rows"),
          col("sum_x_tip"), col("sum_x_ckpt"))
    summarize(full, "full").unionByName(summarize(compacted, "compact"))
      .orderBy(col("version"))
  }

  // x(step) = floor(acctbal) + 0.5·step·(k mod 3); full history = 7
  // frames per entity, compacted = 3 (steps 0, 3, 6).
  val historyCompactionOracle: String =
    """SELECT * FROM (
      | SELECT 'compact' AS version, 3 * count(*) AS n_rows,
      |  round(sum(floor(s_acctbal) + 3.0 * (s_suppkey % 3)), 2) AS sum_x_tip,
      |  round(sum(floor(s_acctbal) + 1.5 * (s_suppkey % 3)), 2) AS sum_x_ckpt
      | FROM supplier
      | UNION ALL
      | SELECT 'full' AS version, 7 * count(*) AS n_rows,
      |  round(sum(floor(s_acctbal) + 3.0 * (s_suppkey % 3)), 2) AS sum_x_tip,
      |  round(sum(floor(s_acctbal) + 1.5 * (s_suppkey % 3)), 2) AS sum_x_ckpt
      | FROM supplier
      |) ORDER BY version""".stripMargin

  /** A22: AREA-OF-INTEREST (viewport) QUERY — the game-server
    * interest-management read (which entities does this client see?):
    * live store state filtered to a box, with the grid-cell
    * derivation (A9's SpatialGrid cells) emitted alongside so the
    * predicate is PRUNABLE — on a cell-clustered layout (A19's
    * scalar-index pattern applied to the cell id) the box resolves to
    * a cell range and the scan skips every file outside it. Despawned
    * entities prove the query reads live state; per-cell counts plus
    * box totals are closed-form against customer.
    */
  def interestBox(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_aoi")
    world.spawnBatch(PosVel, seedCustomers(spark, dir))
    world.despawnWhere(PosVel, col("entity_id") % 4 === 1)
    val (x0, x1, y0, y1) = (1000.0, 3000.0, -2.0, 1.0)
    val cell = 500.0
    world.query(PosVel)(PosVelHash)
      .filter(col("position__x") >= x0 && col("position__x") < x1 &&
        col("position__y") >= y0 && col("position__y") < y1)
      .withColumn("cell_x", floor(col("position__x") / cell).cast("long"))
      .groupBy(col("cell_x"))
      .agg(count(lit(1)).as("n_entities"),
        round(sum(col("position__x")), 2).as("sum_x"),
        round(sum(col("position__y")), 2).as("sum_y"))
      .orderBy(col("cell_x"))
  }

  // live state after despawn: x = floor(acctbal), y = 0 (no steps)
  val interestBoxOracle: String =
    """SELECT CAST(floor(floor(c_acctbal) / 500) AS BIGINT) AS cell_x,
      | count(*) AS n_entities,
      | round(sum(floor(c_acctbal)), 2) AS sum_x,
      | round(sum(0.0), 2) AS sum_y
      |FROM customer
      |WHERE c_custkey % 4 <> 1
      | AND floor(c_acctbal) >= 1000 AND floor(c_acctbal) < 3000
      | AND 0.0 >= -2.0 AND 0.0 < 1.0
      |GROUP BY cell_x ORDER BY cell_x""".stripMargin

  case class Balance(bal: Double) extends Component
  val BalMeta: ComponentMeta = ComponentMeta.of[Balance]
  val BalHash: String = Archetype.hashOf(Seq(BalMeta))

  /** A19: SCALAR INDEX over a live ECS component — the BTree scalar
    * index the reference gets from LanceDB's `create_scalar_index`
    * (store.py:14 lancedb.index import; the vector sibling is A13).
    * The Spark-native re-expression: the ACTIVE component frame is
    * range-clustered on the indexed field (each file owns a
    * contiguous value slice, so parquet footer min/max are tight) and
    * a driver-side manifest of those footer statistics prunes the
    * task list before any scan launches — H11's table-format pattern
    * applied to store state. A despawned slice proves the index reads
    * LIVE rows, and the require() proves the range predicate really
    * skipped files; the oracle replays the same predicate over the
    * surviving construction, so green means pruning lost no row.
    */
  def scalarIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val world = World.make(spark, "sim_graft", "run_scalaridx")
    val seed = Tables.load(spark, dir, "customer").select(
      col("c_custkey").cast("long").as("entity_id"),
      col("c_acctbal").cast("double").as("balance__bal"))
    world.spawnBatch(Seq(BalMeta), seed)
    world.despawnWhere(Seq(BalMeta), col("entity_id") % 7 === 2)
    val live = world.query(Seq(BalMeta))(BalHash)
      .select(col("entity_id"), col("balance__bal"))
    val tmp = TmpDir.scratch("ecs_scalaridx")
    val nFiles = 8
    live.repartitionByRange(nFiles, col("balance__bal"))
      .write.mode("overwrite").parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tmp).getFileSystem(conf)
    val manifest: Seq[(String, Double, Double)] = fs.listStatus(new Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
      .map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try {
          var lo = Double.MaxValue; var hi = Double.MinValue
          r.getFooter.getBlocks.forEach { b =>
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == "balance__bal") {
                val st = c.getStatistics
                lo = math.min(lo, st.genericGetMin.asInstanceOf[Number].doubleValue)
                hi = math.max(hi, st.genericGetMax.asInstanceOf[Number].doubleValue)
              }
            }
          }
          (p.toString, lo, hi)
        } finally r.close()
      }
    val (qLo, qHi) = (1000.0, 3000.0)
    val picked = manifest.filter { case (_, lo, hi) => hi >= qLo && lo < qHi }
    require(picked.nonEmpty && picked.size < manifest.size,
      s"scalar index pruned nothing: ${picked.size} of ${manifest.size} files")
    val pruned = spark.read.parquet(picked.map(_._1): _*)
      .filter(col("balance__bal") >= qLo && col("balance__bal") < qHi)
      .groupBy((floor(col("balance__bal") / 500) * 500).cast("long")
        .as("bal_bucket"))
      .agg(count(lit(1)).as("n_entities"),
        round(sum(col("balance__bal")), 2).as("sum_bal"))
      .orderBy(col("bal_bucket"))
    TmpDir.releasing(pruned, tmp)
  }

  val scalarIndexOracle: String =
    """SELECT CAST(floor(c_acctbal / 500) * 500 AS BIGINT) AS bal_bucket,
      | count(*) AS n_entities, round(sum(c_acctbal), 2) AS sum_bal
      |FROM customer
      |WHERE c_custkey % 7 <> 2 AND c_acctbal >= 1000 AND c_acctbal < 3000
      |GROUP BY bal_bucket ORDER BY bal_bucket""".stripMargin

  /** A14: RUN-MANAGEMENT SUGAR — the reference auto-mints ULID run
    * ids and created-at timestamps at store init (store.py:32-44);
    * graft previously required explicit run strings (VERDICT r5
    * missing #3). [[World.makeRun]] mints a time-sortable 13-char
    * Crockford id from a LOGICAL clock + deterministic entropy
    * ([[RunId]]): three runs minted a second apart, each stepped a
    * different number of times over a different entity slice, then the
    * registry is rebuilt FROM THE STORE (per-run history union →
    * per-run aggregates) with `created_ms` decoded back from the id
    * IN-ENGINE (the id is self-describing — the base32 fold runs as a
    * Spark SQL aggregate expression, and the oracle re-ENCODES the
    * same ids from raw integer constants, so both directions of the
    * codec are cross-engine-verified). A require() pins the ULID
    * property: lexicographic id order == mint order.
    */
  def runRegistry(spark: SparkSession, dir: String): DataFrame = {
    val sim = "sim_registry"
    val t0 = 1700000000000L
    val worlds = (0 until 3).map { k =>
      val w = World.makeRun(spark, sim, t0 + k * 1000L, k)
      w.addProcessor(MovementProcessor)
      w.spawnBatch(PosVel, seedCustomers(spark, dir)
        .filter(col("entity_id") <= 40L - k * 10L))
      (1 to (k + 1)).foreach(_ => w.step(0.5))
      w
    }
    val ids = worlds.map(_.store.run)
    require(ids == ids.sorted && ids.distinct.size == 3,
      s"run ids not time-sorted/distinct: $ids")
    val hist = worlds.map(_.getHistory(PosVel)(PosVelHash)).reduce(_ unionByName _)
    hist.groupBy(col("simulation"), col("run"))
      .agg(countDistinct(col("entity_id")).as("n_entities"),
        max(col("step")).as("max_step"))
      .withColumn("created_ms", expr(
        s"""shiftright(aggregate(sequence(1, ${RunId.Chars}), 0L,
           |  (acc, i) -> acc * 32 + (instr('${RunId.Alphabet}', substring(run, i, 1)) - 1)),
           |  ${RunId.EntropyBits})""".stripMargin))
      .select(col("simulation"), col("run"), col("created_ms"),
        col("n_entities"), col("max_step"))
      .orderBy(col("run"))
  }

  val runRegistryOracle: String = {
    val e = (0 until 3).map(k => RunId.entropyFor("sim_registry", k))
    s"""WITH p AS (
       | SELECT k, (1700000000000 + k * 1000) * ${1L << RunId.EntropyBits}
       |   + CASE k WHEN 0 THEN ${e(0)} WHEN 1 THEN ${e(1)} ELSE ${e(2)} END AS id
       | FROM (SELECT unnest(generate_series(0, 2)) AS k)),
       |enc AS (
       | SELECT k, array_to_string(list_transform(range(0, ${RunId.Chars}), i ->
       |   substr('${RunId.Alphabet}',
       |     CAST(((id >> ((${RunId.Chars - 1} - i) * 5)) & 31) AS INT) + 1, 1)), '') AS run,
       |   id FROM p)
       |SELECT 'sim_registry' AS simulation, run,
       | CAST(id >> ${RunId.EntropyBits} AS BIGINT) AS created_ms,
       | CAST((SELECT count(*) FROM customer c WHERE c.c_custkey <= 40 - k * 10) AS BIGINT)
       |   AS n_entities,
       | CAST(k + 1 AS BIGINT) AS max_step
       |FROM enc ORDER BY run""".stripMargin
  }

  /** A15: tick-to-tick COMPONENT DIFF — CDC over the store's history
    * frames (what changed between step s−1 and s: the feed a
    * downstream sink or replication stream consumes, and the
    * reference's LanceDB versioning surfaces implicitly). A second
    * batch spawns MID-RUN at step 1, so the diff must classify
    * insert (no step-s−1 row) vs update (position moved) vs same
    * (vx = 0 rows — a third of each batch — and vy = 0 everywhere,
    * so zero-velocity entities are bit-identical across steps). The
    * diff is one full-outer self-join of adjacent history frames per
    * step, shuffled on (entity_id) — O(live rows), never O(history);
    * sum_dx is exact integer-grid arithmetic (vx ∈ {0,1,2}, dt=0.5)
    * so the oracle replays it bit-for-bit from supplier keys.
    */
  def componentDiff(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_diff")
    world.addProcessor(MovementProcessor)
    def seed(offset: Long) = Tables.load(spark, dir, "supplier").select(
      (col("s_suppkey") + offset).cast("long").as("entity_id"),
      floor(col("s_acctbal")).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      (col("s_suppkey") % 3).cast("double").as("velocity__vx"),
      lit(0.0).as("velocity__vy"))
    world.spawnBatch(PosVel, seed(0L))
    world.step(0.5)
    world.spawnBatch(PosVel, seed(2000000L)) // arrives at step 1
    world.step(0.5)
    val hist = world.getHistory(PosVel)(PosVelHash)
      .select(col("entity_id"), col("step"), col("position__x").as("x"))
    val diffs = (1 to 2).map { s =>
      val prev = hist.filter(col("step") === (s - 1))
        .select(col("entity_id"), col("x").as("px"))
      val cur = hist.filter(col("step") === s)
        .select(col("entity_id"), col("x").as("cx"))
      cur.join(prev, Seq("entity_id"), "left")
        .withColumn("action",
          when(col("px").isNull, "insert")
            .when(col("cx") =!= col("px"), "update")
            .otherwise("same"))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n"),
          round(sum(when(col("action") === "update", col("cx") - col("px"))
            .otherwise(lit(0.0))), 2).as("sum_dx"))
        .withColumn("step", lit(s.toLong))
    }.reduce(_ unionByName _)
    diffs.select(col("step"), col("action"), col("n"), col("sum_dx"))
      .orderBy(col("step"), col("action"))
  }

  val componentDiffOracle: String =
    """WITH k AS (SELECT s_suppkey AS k, s_suppkey % 3 AS vx FROM supplier),
      |per AS (
      | SELECT count(*) AS n_all,
      |  CAST(sum(CASE WHEN vx <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_move,
      |  CAST(sum(CASE WHEN vx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_still,
      |  round(sum(0.5 * vx), 2) AS dx
      | FROM k)
      |SELECT CAST(1 AS BIGINT) AS step, 'insert' AS action, n_all AS n,
      | 0.0 AS sum_dx FROM per
      |UNION ALL
      |SELECT 1, 'same', n_still, 0.0 FROM per
      |UNION ALL
      |SELECT 1, 'update', n_move, dx FROM per
      |UNION ALL
      |SELECT 2, 'same', 2 * n_still, 0.0 FROM per
      |UNION ALL
      |SELECT 2, 'update', 2 * n_move, round(2 * dx, 2) FROM per
      |ORDER BY step, action""".stripMargin

  /** A16: archetype CATALOG stats — the store-introspection view
    * (information_schema for an ECS: which archetypes exist, their
    * component signatures, live vs latest-frame counts). Exercises
    * the full table lifecycle in one query: spawn → migrateWhere
    * (every third entity drops velocity, moving tables) →
    * despawnWhere (every sixth tombstones in the NEW table). Counts
    * read the latest-wins resolved view per archetype — tombstones
    * count as frames but not live — so a green row proves migration
    * appended to the target, tombstoned the source, and despawn
    * tombstoned only the migrated table. Per-archetype aggs are one
    * hash agg over resolved state; the catalog itself is O(archetypes)
    * driver rows.
    */
  def archetypeStats(spark: SparkSession, dir: String): DataFrame = {
    val world = World.make(spark, "sim_graft", "run_arstats")
    world.spawnBatch(PosVel, Tables.load(spark, dir, "supplier").select(
      col("s_suppkey").cast("long").as("entity_id"),
      floor(col("s_acctbal")).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      (col("s_suppkey") % 3).cast("double").as("velocity__vx"),
      lit(0.0).as("velocity__vy")))
    world.migrateWhere(PosVel, Seq(PosMeta), col("entity_id") % 3 === 0)
    world.despawnWhere(Seq(PosMeta), col("entity_id") % 6 === 0)
    val store = world.store
    store.signatures.toSeq.map { case (h, metas) =>
      store.resolved(h).agg(
        count(lit(1)).as("n_frames"),
        sum(when(col("is_active"), 1L).otherwise(0L)).as("n_live"))
        .withColumn("components",
          lit(metas.map(_.name).sorted.mkString("+")))
    }.reduce(_ unionByName _)
      .select(col("components"), col("n_live"), col("n_frames"))
      .orderBy(col("components"))
  }

  val archetypeStatsOracle: String =
    """WITH k AS (SELECT s_suppkey AS k FROM supplier),
      |c AS (
      | SELECT count(*) AS n_all,
      |  CAST(sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mig,
      |  CAST(sum(CASE WHEN k % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gone
      | FROM k)
      |SELECT 'Position' AS components, n_mig - n_gone AS n_live,
      | n_mig AS n_frames FROM c
      |UNION ALL
      |SELECT 'Position+Velocity', n_all - n_mig, n_all FROM c
      |ORDER BY components""".stripMargin

  /** A17: cross-RUN drift comparison — two runs of the same
    * simulation (minted through A14's time-sortable run ids), seeded
    * identically, stepped differently (2 vs 3 movement steps); the
    * comparison joins both runs' FINAL store states on entity_id and
    * reports per-velocity-class drift. This is the A/B harness a
    * simulation engine owes its users: same world, divergent
    * schedules, exact answer to "how far apart did they end up?".
    * Drift is exact integer-grid arithmetic (0.5·vx per extra step),
    * so the oracle replays it from supplier keys; the join shuffles
    * O(entities) narrow rows.
    */
  def runCompare(spark: SparkSession, dir: String): DataFrame = {
    val sim = "sim_compare"
    val t0 = 1700000100000L
    def seed() = Tables.load(spark, dir, "supplier").select(
      col("s_suppkey").cast("long").as("entity_id"),
      floor(col("s_acctbal")).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      (col("s_suppkey") % 3).cast("double").as("velocity__vx"),
      lit(0.0).as("velocity__vy"))
    val runs = Seq(2, 3).zipWithIndex.map { case (steps, k) =>
      val w = World.makeRun(spark, sim, t0 + k * 1000L, k)
      w.addProcessor(MovementProcessor)
      w.spawnBatch(PosVel, seed())
      (1 to steps).foreach(_ => w.step(0.5))
      w
    }
    val fa = runs(0).query(PosVel)(PosVelHash)
      .select(col("entity_id"), col("position__x").as("xa"))
    val fb = runs(1).query(PosVel)(PosVelHash)
      .select(col("entity_id"), col("position__x").as("xb"))
    fa.join(fb, Seq("entity_id"))
      .withColumn("drift", col("xb") - col("xa"))
      .groupBy((col("entity_id") % 3).as("vclass"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("drift")), 2).as("total_drift"),
        round(max(col("drift")), 2).as("max_drift"))
      .orderBy(col("vclass"))
  }

  val runCompareOracle: String =
    """SELECT s_suppkey % 3 AS vclass, count(*) AS n,
      | round(sum(0.5 * (s_suppkey % 3)), 2) AS total_drift,
      | round(max(0.5 * (s_suppkey % 3)), 2) AS max_drift
      |FROM supplier GROUP BY s_suppkey % 3 ORDER BY vclass""".stripMargin

  /** A18: EAGER-step parity — [[World.stepEager]] materializes each
    * archetype's update as a concurrent Spark job (wall time = the
    * processor DAG's critical path) and CLAIMS state identical to the
    * sequential [[World.step]]; this query PROVES it on the live
    * store: two runs of the same sim, same seed, one stepped
    * sequentially and one eagerly, final states full-outer-joined on
    * entity_id and compared exactly (doubles bit-for-bit — movement
    * is exact on the integer grid). n_mismatch lands in the OUTPUT,
    * so a divergence fails the oracle row, not just a spec. The
    * reproducibility guarantee every simulation user assumes, audited
    * by the engine itself.
    */
  def eagerParity(spark: SparkSession, dir: String): DataFrame = {
    val sim = "sim_eager"
    val t0 = 1700000200000L
    def seed() = Tables.load(spark, dir, "supplier").select(
      col("s_suppkey").cast("long").as("entity_id"),
      floor(col("s_acctbal")).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      (col("s_suppkey") % 3).cast("double").as("velocity__vx"),
      (col("s_suppkey") % 2).cast("double").as("velocity__vy"))
    val seq0 = World.makeRun(spark, sim, t0, 0)
    seq0.addProcessor(MovementProcessor)
    seq0.spawnBatch(PosVel, seed())
    (1 to 3).foreach(_ => seq0.step(0.5))
    val eag = World.makeRun(spark, sim, t0 + 1000L, 1)
    eag.addProcessor(MovementProcessor)
    eag.spawnBatch(PosVel, seed())
    (1 to 3).foreach(_ => eag.stepEager(0.5))
    val a = seq0.query(PosVel)(PosVelHash)
      .select(col("entity_id"), col("position__x").as("xa"),
        col("position__y").as("ya"))
    val b = eag.query(PosVel)(PosVelHash)
      .select(col("entity_id"), col("position__x").as("xb"),
        col("position__y").as("yb"))
    a.join(b, Seq("entity_id"), "full_outer")
      .agg(count(lit(1)).as("n_entities"),
        sum(when(col("xa").isNull || col("xb").isNull ||
          col("xa") =!= col("xb") || col("ya") =!= col("yb"), 1L)
          .otherwise(0L)).as("n_mismatch"),
        round(sum(col("xa")), 2).as("checksum_x"),
        round(sum(col("ya")), 2).as("checksum_y"))
  }

  val eagerParityOracle: String =
    """SELECT count(*) AS n_entities, CAST(0 AS BIGINT) AS n_mismatch,
      | round(sum(floor(s_acctbal) + 1.5 * (s_suppkey % 3)), 2) AS checksum_x,
      | round(sum(1.5 * (s_suppkey % 2)), 2) AS checksum_y
      |FROM supplier""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ecs_eager_parity" -> (eagerParity _),
    "ecs_run_compare" -> (runCompare _),
    "ecs_archetype_stats" -> (archetypeStats _),
    "ecs_component_diff" -> (componentDiff _),
    "ecs_run_registry" -> (runRegistry _),
    "ecs_vector_search" -> (vectorSearch _),
    "ecs_scalar_index" -> (scalarIndex _),
    "ecs_branch" -> (branchRun _),
    "ecs_history_compaction" -> (historyCompaction _),
    "ecs_interest_box" -> (interestBox _),
    "ecs_spawn_query" -> (spawnQuery _),
    "ecs_movement_sim" -> (movementSim _),
    "ecs_history" -> (history _),
    "ecs_despawn" -> (despawn _),
    "ecs_upsert" -> (upsert _),
    "ecs_multi_archetype" -> (multiArchetype _),
    "ecs_time_travel" -> (timeTravel _),
    "ecs_global_interaction" -> (globalInteraction _),
    "ecs_spatial_neighbors" -> (spatialNeighbors _),
    "ecs_migration" -> (migration _),
    "ecs_trajectory" -> (trajectory _),
    "ecs_flocking" -> (flocking _))

  val oracles: Map[String, String] = Map(
    "ecs_eager_parity" -> eagerParityOracle,
    "ecs_run_compare" -> runCompareOracle,
    "ecs_archetype_stats" -> archetypeStatsOracle,
    "ecs_component_diff" -> componentDiffOracle,
    "ecs_run_registry" -> runRegistryOracle,
    "ecs_vector_search" -> vectorSearchOracle,
    "ecs_scalar_index" -> scalarIndexOracle,
    "ecs_branch" -> branchRunOracle,
    "ecs_history_compaction" -> historyCompactionOracle,
    "ecs_interest_box" -> interestBoxOracle,
    "ecs_spawn_query" -> spawnQueryOracle,
    "ecs_movement_sim" -> movementSimOracle,
    "ecs_history" -> historyOracle,
    "ecs_despawn" -> despawnOracle,
    "ecs_upsert" -> upsertOracle,
    "ecs_multi_archetype" -> multiArchetypeOracle,
    "ecs_time_travel" -> timeTravelOracle,
    "ecs_global_interaction" -> globalInteractionOracle,
    "ecs_spatial_neighbors" -> spatialNeighborsOracle,
    "ecs_migration" -> migrationOracle,
    "ecs_trajectory" -> trajectoryOracle,
    "ecs_flocking" -> flockingOracle)
}

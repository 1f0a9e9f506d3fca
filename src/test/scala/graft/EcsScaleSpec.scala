package graft

import graft.ecs._
import graft.EcsQueries.{MovementProcessor, PosVel}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** Scale probe for the ECS engine: 100k- and 1M-entity worlds stepped
  * through the fully distributed path (spawnBatch → merge-on-read
  * queries → append upserts → periodic compaction), verified against
  * the closed-form trajectory for EVERY entity. Per-step latency is
  * reported so rounds can track the latency-vs-entity-count curve
  * (recorded in SURVEY §6d); the structures exercised
  * (a growing append log that `World.step` only ever extends by a new
  * step, so reads skip the latest-wins window; archetype-pruned
  * queries) are the ones that carry to 1000-executor scale.
  */
class EcsScaleSpec extends SparkSpec {

  /** Returns per-step seconds and the analyzed-plan node count of each
    * step's `World.query`; asserts every entity's closed form.
    */
  private def runScale(n: Long, steps: Int, optimizeInterval: Int,
      reliable: Boolean): (Seq[Double], Seq[Int]) = {
    if (reliable && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        s"${System.getProperty("java.io.tmpdir")}/graft-checkpoints")
    val world = World.make(spark, s"sim_scale_$n", "run_scale",
      optimizeInterval = optimizeInterval, reliableCheckpoints = reliable)
    world.addProcessor(MovementProcessor)
    val seed = spark.range(n).select(
      col("id").as("entity_id"),
      (col("id") % 100).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      lit(1.5).as("velocity__vx"),
      ((col("id") % 3) - 1).cast("double").as("velocity__vy"))
    world.spawnBatch(PosVel, seed)
    val (stepSecs, planNodes) = (1 to steps).map { _ =>
      val t0 = System.nanoTime()
      world.step(0.5)
      // steps are lazy plans until queried; materialize the frame so
      // the measured latency is real work, matching a driven engine
      val frame = world.query(PosVel).values.head
      frame.count()
      ((System.nanoTime() - t0) / 1e9, frame.queryExecution.analyzed.collect { case p => p }.size)
    }.unzip
    val state = world.query(PosVel).values.head
    val k = steps.toDouble * 0.5
    val bad = state.filter(
      col("position__x") =!= (col("entity_id") % 100).cast("double") + k * 1.5 ||
        col("position__y") =!= ((col("entity_id") % 3) - 1).cast("double") * k)
      .count()
    assert(bad == 0L, s"$bad of $n entities deviated from closed form")
    assert(state.count() == n)
    (stepSecs, planNodes)
  }

  test("100k entities x 4 steps: every trajectory matches closed form") {
    val (secs, _) = runScale(100000L, steps = 4, optimizeInterval = 2,
      reliable = false)
    info(f"100k per-step seconds: ${secs.map(s => f"$s%.1f").mkString(", ")}")
  }

  test("1M entities x 4 steps, reliable checkpoints: closed form holds") {
    val (secs, planNodes) = runScale(1000000L, steps = 4, optimizeInterval = 2,
      reliable = true)
    info(f"1M per-step seconds: ${secs.map(s => f"$s%.1f").mkString(", ")}")
    info(s"1M per-step query plan nodes: ${planNodes.mkString(", ")}")
    // compaction every 2 steps keeps the lineage from accumulating: a
    // step's query plans its frame's chain back to the last snapshot,
    // so no step plans more than the steps up to the first compaction
    val first = planNodes.take(2).max
    assert(planNodes.forall(_ <= first),
      s"per-step query plan nodes $planNodes exceed $first — compaction is not holding")
  }

  test("100k entities: flocking step (grid broad phase) inside the world cycle") {
    // a 100k-entity neighbor-coupled step: the spatial-grid candidate
    // join must stay O(points + near pairs) inside the step cycle.
    // Entities sit on a 100-spaced lattice (radius 30 → all isolated)
    // except every id ≡ 1 (mod 1000), which sits 10 RIGHT of entity
    // id-1's lattice point — exactly n/1000 coupled pairs with a
    // closed-form steer: left partner vx 2→4.5 (cohesion +0.25·10),
    // right partner vx 2→-0.5, everyone else keeps vx=2 and moves
    // +1.0 in x. Any broad-phase miss or phantom pair breaks a count,
    // and an all-pairs broad phase shows in the step query's plan.
    val n = 100000L
    val world = World.make(spark, "sim_scale_flock", "run_flock",
      optimizeInterval = 0)
    world.addProcessor(EcsQueries.FlockingProcessor(30.0))
    val latticeId = expr("CASE WHEN id % 1000 = 1 THEN id - 1 ELSE id END")
    val seed = spark.range(n).select(
      col("id").as("entity_id"),
      ((latticeId / 320).cast("long") * 100 +
        when(col("id") % 1000 === 1, 10).otherwise(0)).cast("double")
        .as("position__x"),
      ((latticeId % 320) * 100).cast("double").as("position__y"),
      lit(2.0).as("velocity__vx"), lit(0.0).as("velocity__vy"))
    world.spawnBatch(PosVel, seed)
    val t0 = System.nanoTime()
    world.step(0.5)
    val frame = world.query(PosVel).values.head
      .select(col("entity_id"), col("position__x"), col("position__y"),
        col("velocity__vx"), col("velocity__vy"))
    // checked before running: an all-pairs plan would not finish
    val plan = frame.queryExecution.executedPlan
    val allPairs = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case j: CartesianProductExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(allPairs.isEmpty, s"the step query plans an all-pairs join:\n$plan")
    val state = frame.localCheckpoint(true)
    info(f"100k flocking step: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(state.count() == n)
    val nPairs = n / 1000
    assert(state.filter(col("velocity__vx") === 4.5).count() == nPairs,
      "every left partner must steer to vx=4.5")
    assert(state.filter(col("velocity__vx") === -0.5).count() == nPairs,
      "every right partner must steer to vx=-0.5")
    assert(state.filter(col("velocity__vx") === 2.0).count() == n - 2 * nPairs,
      "isolated entities must keep vx=2.0 (no phantom pairs)")
    // y never changes (partners share y; vy stays 0)
    assert(state.filter(col("velocity__vy") =!= 0.0).count() == 0L)
    // isolated closed form: x' = lattice x + vx·dt = x0 + 1.0
    val movedWrong = state.filter(col("velocity__vx") === 2.0 &&
      col("position__x") =!=
        (expr("CASE WHEN entity_id % 1000 = 1 THEN entity_id - 1 ELSE entity_id END DIV 320")
          * 100).cast("double") + 1.0).count()
    assert(movedWrong == 0L, s"$movedWrong isolated entities moved wrong")
  }
}

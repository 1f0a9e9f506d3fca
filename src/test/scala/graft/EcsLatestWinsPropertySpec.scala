package graft

import graft.ecs._
import graft.EcsQueries.{PosMeta, Position}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import scala.collection.mutable

/** Random mixes of spawnBatch, spawnAt, World.step, World.stepEager,
  * step-less upsert, despawnWhere, optimize and commitDelta into one of
  * two durable directories against an in-test merge-insert model keyed
  * on (entity_id, step) (reference: store.py:250-256). Whichever read
  * path the store picks — the append log's per-step frames, or the
  * latest-wins window — `getHistory` and `World.query` at every step
  * must equal the model, and after each commit a fresh store attached
  * to that directory must read the model's history.
  */
class EcsLatestWinsPropertySpec extends SparkSpec {

  private sealed trait Op
  private final case class SpawnBatch(ids: Seq[Long], x: Double) extends Op
  private final case class SpawnAt(step: Long, x: Double) extends Op
  private final case class Step(eager: Boolean) extends Op
  private final case class Upsert(step: Long, ids: Seq[Long], x: Double) extends Op
  private final case class DespawnWhere(residue: Int) extends Op
  private case object Optimize extends Op
  private final case class Commit(dir: Int) extends Op

  // ids 1..5 overlap the counter's first ids, so spawnAt can hit a
  // spawnBatch key; steps 0..3 reach both held and future steps
  private val ids = Gen.atLeastOne(1L to 5L).map(_.toSeq.sorted)
  private val x = Gen.choose(0, 99).map(_.toDouble)
  private val step = Gen.choose(0L, 3L)
  private val op: Gen[Op] = Gen.frequency(
    3 -> (for (i <- ids; v <- x) yield SpawnBatch(i, v)),
    2 -> (for (s <- step; v <- x) yield SpawnAt(s, v)),
    3 -> Gen.const(Step(eager = false)),
    1 -> Gen.const(Step(eager = true)),
    1 -> (for (s <- step; i <- ids; v <- x) yield Upsert(s, i, v)),
    1 -> Gen.choose(0, 2).map(DespawnWhere(_)),
    1 -> Gen.const(Optimize),
    2 -> Gen.choose(0, 1).map(Commit(_)))

  private object PlusOne extends Processor {
    val components: Seq[ComponentMeta] = Seq(PosMeta)
    def process(df: DataFrame, dt: Double): DataFrame =
      df.withColumn("position__x", col("position__x") + 1.0)
  }

  private val pos = Seq(PosMeta)
  private val hash = Archetype.hashOf(pos)

  /** Runs `ops` on a fresh world and on the model; returns whether the
    * world's reads matched and whether its history read planned a
    * Window.
    */
  private def replay(ops: Seq[Op], run: String): (Prop, Boolean) = {
    import spark.implicits._
    val world = World.make(spark, "sim_prop", run, optimizeInterval = 2)
    world.store.ensureTable(pos)
    world.addProcessor(PlusOne)
    val dirs = Seq.fill(2)(java.nio.file.Files.createTempDirectory("graft_prop").toString)
    // (entity_id, step) -> (x, is_active); a later write replaces
    val model = mutable.Map.empty[(Long, Long), (Double, Boolean)]
    def rows(history: DataFrame) = history
      .select(col("entity_id"), col("step"), col("position__x"), col("is_active"))
      .as[(Long, Long, Double, Boolean)].collect().toSeq.sorted
    def modelRows = model.toSeq
      .map { case ((i, s), (v, live)) => (i, s, v, live) }.sorted
    var durable = Prop.passed
    ops.foreach {
      case SpawnBatch(is, v) =>
        world.spawnBatch(pos, is.map(i => (i, v + i, 0.0))
          .toDF("entity_id", "position__x", "position__y"))
        is.foreach(i => model((i, world.currentStep)) = (v + i, true))
      case SpawnAt(s, v) =>
        model((world.spawnAt(s, Position(v, 0.0)), s)) = (v, true)
      case Step(eager) =>
        val from = world.currentStep
        val next = model.collect {
          case ((i, `from`), (v, true)) => (i, from + 1) -> (v + 1, true)
        }
        if (eager) world.stepEager(1.0) else world.step(1.0)
        model ++= next
      case Upsert(s, is, v) =>
        world.store.upsert(hash, spark.createDataFrame(
          java.util.List.of(is.map(i => Row("sim_prop", run, i, s, true, v + i, 0.0)): _*),
          Archetype.schemaOf(pos)))
        is.foreach(i => model((i, s)) = (v + i, true))
      case DespawnWhere(r) =>
        world.despawnWhere(pos, col("entity_id") % 3 === r)
        model.foreach { case (k @ (i, _), (v, live)) =>
          if (live && i % 3 == r) model(k) = (v, false)
        }
      case Optimize =>
        world.store.optimize()
      case Commit(d) =>
        world.store.commitDelta(dirs(d))
        val attached = new ArchetypeStore(spark, "sim_prop", run)
        attached.attachDurable(pos, dirs(d))
        val (got, want) = (rows(attached.getHistory(pos)(hash)), modelRows)
        durable = durable && ((got == want) :| s"dir $d re-attached $got != model $want")
    }
    val history = world.getHistory(pos)(hash)
    val gotHistory = rows(history)
    val wantHistory = modelRows
    val gotLive = (0L to world.currentStep).map(s => s -> world.query(pos, Some(s))(hash)
      .select(col("entity_id"), col("position__x")).as[(Long, Double)]
      .collect().toSeq.sorted)
    val wantLive = (0L to world.currentStep).map(s => s -> model.toSeq.collect {
      case ((i, `s`), (v, true)) => (i, v)
    }.sorted)
    val windowed = history.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty
    val prop = ((gotHistory == wantHistory) :| s"history $gotHistory != model $wantHistory") &&
      ((gotLive == wantLive) :| s"query by step $gotLive != model $wantLive") && durable
    (prop :| s"ops $ops", windowed)
  }

  test("getHistory and World.query equal a latest-wins model on (entity_id, step)") {
    val paths = mutable.ArrayBuffer.empty[Boolean]
    val prop = Prop.forAllNoShrink(Gen.choose(1, 7).flatMap(Gen.listOfN(_, op))) { ops =>
      val (p, windowed) = replay(ops, s"run_prop_${paths.size}")
      paths += windowed
      p
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(paths.contains(false) && paths.contains(true),
      s"both read paths must be exercised, got window flags $paths")
  }
}

package graft.ecs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A processor declares the component types it reads/writes and a pure
  * DataFrame transform (reference: archetype/core/processor.py,
  * base.py:7-37). Transforms are Column expressions → whole-stage
  * codegen; no driver-side row handling.
  */
trait Processor {
  def priority: Int = 0
  def components: Seq[ComponentMeta]
  def process(df: DataFrame, dt: Double): DataFrame
}

/** Fetch matching archetypes filtered to requested steps, liveness,
  * and optionally specific entities
  * (reference: archetype/core/querier.py:24-45, `entities=` filter).
  */
final class QueryManager(store: ArchetypeStore) {
  def query(metas: Seq[ComponentMeta], steps: Seq[Long],
      entities: Option[Seq[Long]] = None): Map[String, DataFrame] =
    store.atSteps(metas, steps, entities.fold(col("is_active"))(ids =>
      col("is_active") && col("entity_id").isin(ids: _*)))

  /** Archetypes a component request currently matches (subset rule). */
  def matchingHashes(metas: Seq[ComponentMeta]): Seq[String] =
    store.matchingHashes(metas)

  def getHistory(metas: Seq[ComponentMeta], includeAllRuns: Boolean = false): Map[String, DataFrame] =
    store.getHistory(metas, includeAllRuns)
}

/** Merge-insert each archetype's updates at the target step
  * (reference: archetype/core/updater.py:15-26).
  */
final class UpdateManager(store: ArchetypeStore) {
  def collect(updates: Map[String, DataFrame], step: Long): Unit =
    updates.foreach { case (hash, df) => store.upsertAt(hash, df, step) }
}

/** Sequential priority-ordered execution; a processor's output for an
  * archetype is visible to later processors in the same step
  * (reference: archetype/core/system.py:26-59).
  */
final class SimpleSystem(querier: QueryManager) {
  private val procs = mutable.ArrayBuffer.empty[Processor]

  def addProcessor(p: Processor): Unit = procs += p
  def removeProcessor(p: Processor): Unit = { procs -= p; () }

  def execute(step: Long, dt: Double): Map[String, DataFrame] = {
    val modified = mutable.LinkedHashMap.empty[String, DataFrame]
    procs.sortBy(_.priority).foreach { proc =>
      val queried = querier.query(proc.components, Seq(step))
      queried.foreach { case (hash, queriedDf) =>
        val base = modified.getOrElse(hash, queriedDf)
        val out = proc.process(base, dt)
        require(out != null, s"Processor ${proc.getClass.getSimpleName} returned null")
        modified(hash) = out
      }
    }
    modified.toMap
  }

  /** The processor DAG, flattened to maximal parallel stages: a
    * processor depends on an earlier (lower-priority-value) one iff
    * their matched ARCHETYPE sets intersect — that is exactly when
    * execute() chains one's output into the other's input; disjoint
    * processors read/write different tables, so their plans are
    * independent and they commute. The reference's system loop is
    * strictly sequential (system.py:26-59) — this is the stage-level
    * parallelism a declarative engine gets to expose. Stages are
    * computed greedily in priority order (a processor joins the
    * newest stage unless it conflicts with it).
    */
  def stages(): Seq[Seq[Processor]] = {
    val out = mutable.ArrayBuffer.empty[(mutable.ArrayBuffer[Processor], mutable.Set[String])]
    procs.sortBy(_.priority).foreach { p =>
      val hs = querier.matchingHashes(p.components).toSet
      out.lastOption match {
        case Some((ps, seen)) if hs.intersect(seen).isEmpty =>
          ps += p; seen ++= hs
        case _ =>
          out += ((mutable.ArrayBuffer(p), mutable.Set(hs.toSeq: _*)))
      }
    }
    out.map(_._1.toSeq).toSeq
  }
}

/** Facade over store/querier/updater/system
  * (reference: archetype/core/world.py).
  *
  * Step semantics: state queried at `currentStep` is transformed and
  * committed at `currentStep + 1`, so step k holds the state after k
  * updates and history accumulates one frame per step. (The reference
  * stamps results back onto the *same* step and then advances the
  * queried step — updater.py:20 + world.py:25-34 — which makes every
  * step after the first a no-op on an empty frame; we implement the
  * evidently intended time-evolution semantics.)
  */
final class World private (
    val store: ArchetypeStore,
    val querier: QueryManager,
    val updater: UpdateManager,
    val system: SimpleSystem,
    optimizeInterval: Int) {

  var currentStep: Long = 0L

  def step(dt: Double): Unit = advance(system.execute(currentStep, dt))

  /** One step whose per-archetype updates MATERIALIZE as concurrent
    * Spark jobs (eager localCheckpoint per archetype, one future
    * each, under the caller's local properties — see
    * [[graft.QueryShape.concurrently]]): wall time is the DAG's critical
    * path instead of the processor sum — see [[SimpleSystem.stages]] —
    * and every step's lineage is cut at the materialization. State
    * after the step is identical to [[step]]'s: disjoint processors
    * commute, chained ones already share one plan per archetype.
    */
  def stepEager(dt: Double): Unit =
    advance(graft.QueryShape.concurrently(store.spark, system.execute(currentStep, dt).toSeq) {
      case (h, df) => h -> df.localCheckpoint(eager = true)
    }.toMap)

  /** Commit one step's updates at `currentStep + 1`, move to that step
    * and compact every `optimizeInterval` steps.
    */
  private def advance(updates: Map[String, DataFrame]): Unit = {
    updater.collect(updates, currentStep + 1)
    currentStep += 1
    if (optimizeInterval > 0 && currentStep % optimizeInterval == 0) store.optimize()
  }

  def spawn(components: Component*): Long =
    store.addEntity(components, currentStep)

  /** Spawn at an explicit step (reference: world.py:39-44 allows
    * `step=` to backfill or pre-stage entities).
    */
  def spawnAt(step: Long, components: Component*): Long =
    store.addEntity(components, step)

  def spawnBatch(metas: Seq[ComponentMeta], df: DataFrame): Unit =
    store.spawnBatch(metas, df, currentStep)

  /** Spawn from raw field values (declaration order per meta) — the
    * case-class-free path used by the Python on-ramp ([[PyBridge]]).
    */
  def spawnValues(metas: Seq[ComponentMeta], values: Seq[Seq[Any]]): Long =
    store.addEntityValues(metas, values, currentStep)

  def despawn(entityId: Long, step: Option[Long] = None): Unit =
    store.removeEntity(entityId, step.getOrElse(currentStep))

  def despawnWhere(metas: Seq[ComponentMeta], cond: org.apache.spark.sql.Column): Unit =
    store.matchingHashes(metas).foreach(h => store.despawnWhere(h, cond))

  /** Add/remove components on matching entities — archetype migration
    * (shared columns carry over, added components take `defaults`,
    * dropped ones vanish; see ArchetypeStore.migrate).
    */
  def migrateWhere(from: Seq[ComponentMeta], to: Seq[ComponentMeta],
      cond: org.apache.spark.sql.Column,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty): Unit =
    store.migrate(from, to, cond, defaults)

  def addProcessor(p: Processor): Unit = system.addProcessor(p)
  def removeProcessor(p: Processor): Unit = system.removeProcessor(p)

  /** Parallel-stage view of the processor DAG ([[SimpleSystem.stages]]). */
  def stages(): Seq[Seq[Processor]] = system.stages()

  def query(metas: Seq[ComponentMeta], step: Option[Long] = None,
      entities: Option[Seq[Long]] = None): Map[String, DataFrame] =
    querier.query(metas, Seq(step.getOrElse(currentStep)), entities)

  /** Remove one component from one entity (reference: world `remove`);
    * the entity migrates to the smaller archetype.
    */
  def removeComponent(entityId: Long, meta: ComponentMeta): Unit =
    store.removeComponentFromEntity(entityId, meta)

  def getHistory(metas: Seq[ComponentMeta], includeAllRuns: Boolean = false): Map[String, DataFrame] =
    querier.getHistory(metas, includeAllRuns)

  /** Approximate vector search over a live component column — the
    * store-side ANN capability the reference inherits from LanceDB
    * (reference: archetype/core/store.py:14 lancedb index import,
    * store.py:103-111 index/search pattern): an IVF layout is built
    * over the ACTIVE rows of every archetype carrying the component
    * and serves top-k cosine neighbors for the given query entities.
    * Centroids are the `nCentroids` lowest active entity ids (the
    * seeded-quantizer contract, D5's — keeps results exactly
    * replayable by a SQL oracle); corpus-side list assignment is the
    * shuffle-free broadcast argmin ([[graft.operators.IvfIndex
    * .assignOne]]), probe entities fan to `nprobe` lists. At scale
    * the lists are a bucketed layout keyed by cid and the probe scan
    * touches nprobe/nCentroids of the store.
    *
    * Output: (qid, rn, nid, cos) — rank `rn` ∈ [1, topK] by cosine
    * descending (ties by nid), self-matches excluded.
    */
  def queryNeighbors(meta: ComponentMeta, field: String, queryIds: Seq[Long],
      topK: Int = 3, nCentroids: Int = 16, nprobe: Int = 2): DataFrame = {
    import graft.operators.IvfIndex
    import org.apache.spark.sql.expressions.Window
    val vecCol = meta.prefix + field
    val frames = query(Seq(meta)).values.toSeq
    require(frames.nonEmpty, s"no archetype carries ${meta.name}")
    val all = frames
      .map(_.select(col("entity_id"), col(vecCol).as("v")))
      .reduce(_ unionByName _)
    val cent = all.orderBy(col("entity_id")).limit(nCentroids)
      .select(col("entity_id").as("cid"), col("v").as("cv"))
    val lists = IvfIndex.assign(all, cent, "entity_id", "v", keep = 1)
      .select(col("entity_id").as("nid"), col("v").as("nv"), col("cid"))
    val probes = IvfIndex.assign(
        all.filter(col("entity_id").isin(queryIds: _*)),
        cent, "entity_id", "v", keep = nprobe)
      .select(col("entity_id").as("qid"), col("v").as("qv"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    lists.join(broadcast(probes), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", graft.VectorOps.cosine(col("qv"), col("nv")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
  }
}

object World {

  /** Build a world (reference: archetype/core/__init__.py make_world). */
  def make(
      spark: SparkSession,
      simulation: String = s"sim_${java.util.UUID.randomUUID().toString.take(8)}",
      run: String = s"run_${java.util.UUID.randomUUID().toString.take(8)}",
      optimizeInterval: Int = 4,
      reliableCheckpoints: Boolean = false): World = {
    val store = new ArchetypeStore(spark, simulation, run, reliableCheckpoints)
    val querier = new QueryManager(store)
    val updater = new UpdateManager(store)
    val system = new SimpleSystem(querier)
    new World(store, querier, updater, system, optimizeInterval)
  }

  /** Reference-parity run-management sugar (store.py:32-44): auto-mint
    * a time-sortable run id from a caller-supplied logical clock and
    * sequence number instead of requiring an explicit run string.
    * Lexicographic run-id order equals mint order ([[RunId]]); the
    * logical clock keeps minting deterministic and oracle-replayable.
    */
  def makeRun(
      spark: SparkSession,
      simulation: String,
      logicalMillis: Long,
      seq: Int = 0,
      optimizeInterval: Int = 4,
      reliableCheckpoints: Boolean = false): World =
    make(spark, simulation,
      RunId.mint(logicalMillis, RunId.entropyFor(simulation, seq)),
      optimizeInterval, reliableCheckpoints)
}

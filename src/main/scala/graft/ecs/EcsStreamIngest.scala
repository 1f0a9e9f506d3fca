package graft.ecs

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}

/** Streaming ingestion bridge: a live event stream drives `World`
  * state, the reference's external `step` loop re-expressed as
  * Structured Streaming `foreachBatch`
  * (reference: archetype/core/world.py:23-33 — the engine is built to
  * be *driven*; this is the driver).
  *
  * Each micro-batch folds into the world as one simulation step and
  * appends rows ONLY for the entities the batch touched — per-batch
  * write cost and table growth are O(batch), not O(total state).
  * History therefore holds SPARSE frames: step k carries a row only
  * for entities updated at step k, and the live view is an
  * as-of-latest read (each entity's row at its highest step), not a
  * query at a single step. This is the same merge-on-read contract the
  * store already applies within a step (latest `_v` wins per
  * (entity, step)) lifted to the step axis.
  *
  * The bridge never compacts: it advances `world.currentStep` itself
  * and never runs `World.step`, so the world's `optimizeInterval` does
  * not apply, and the log keeps one part per micro-batch. A caller
  * that reads history from a long stream calls `world.store.optimize()`
  * every so many batches, which folds the parts into one snapshot and
  * bounds the history scan's plan and read amplification.
  *
  * Entities spawned from the stream use `entity_id = user_id` — the
  * external key IS the entity identity, the scalable idiom for bulk
  * ingestion (a driver-side id counter would serialize 100 TB of
  * spawns through one process).
  *
  * Scale shape: per batch, one shuffle to group the delta by user and
  * a point read/write of exactly the touched keys' running totals in
  * the streaming state store — per-batch READ work is O(delta) like
  * the write side; the world's history is never re-read during
  * ingestion. No driver-side rows, no collect.
  */
object EcsStreamIngest {

  /** Per-user running totals accumulated from the event stream. */
  final case class UserScore(user_id: Long, total: Double, n_events: Long)
      extends Component

  val meta: ComponentMeta = ComponentMeta.of[UserScore]
  private val P = meta.prefix // "userscore__"

  /** Current live (user_id, total, n_events, entity_id) state: each
    * entity's frame at its highest recorded step (frames are sparse —
    * a step only has rows for entities that batch touched).
    */
  def liveState(world: World): Option[DataFrame] = liveState(world.store)

  /** Same live view over a bare store — e.g. one re-attached from the
    * durable commit log after a restart (or time-traveled to an
    * earlier commit).
    */
  def liveState(store: ArchetypeStore): Option[DataFrame] =
    store.getHistory(Seq(meta)).values.reduceOption(_ unionByName _)
      .map { hist =>
        val latest = Window.partitionBy(col("entity_id"))
          .orderBy(col("step").desc)
        hist.withColumn("_sn", row_number().over(latest))
          .filter(col("_sn") === 1 && col("is_active"))
          .select(col("entity_id"), col(s"${P}user_id").as("user_id"),
            col(s"${P}total").as("total"), col(s"${P}n_events").as("n_events"))
      }

  /** Append one step's touched-entity frames (user_id/total/n_events
    * columns) to the world — shared by the batch-replay and streaming
    * paths; O(frames) work, no read of existing state.
    */
  private def appendFrames(world: World, frames: DataFrame): Unit = {
    val prefixed = frames.select(
      col("user_id").as("entity_id"),
      col("user_id").as(s"${P}user_id"), col("total").as(s"${P}total"),
      col("n_events").as(s"${P}n_events"))
    world.store.spawnBatch(Seq(meta), prefixed, world.currentStep + 1)
    world.currentStep += 1
  }

  /** Fold one micro-batch of raw events (`user_id`, `value` columns)
    * into the world as one step, appending rows only for the users
    * present in the batch. This is the deterministic BATCH-REPLAY path
    * (the G4/G9 oracles replay it): it reads running totals from the
    * world's own history, so its per-batch read cost is O(live state)
    * — the streaming bridge ([[attach]]) instead carries totals in the
    * streaming state store and never re-reads history.
    */
  def ingestBatch(world: World, batch: DataFrame): Unit = {
    val delta = batch.groupBy(col("user_id"))
      .agg(sum(col("value")).as("d_total"), count(lit(1)).as("d_n"))
    // Left join FROM the delta: untouched entities never enter the
    // output, so the appended frame is exactly the batch's user set.
    val updated = liveState(world) match {
      case Some(cur) =>
        delta.join(cur, Seq("user_id"), "left_outer")
          .select(
            col("user_id"),
            (coalesce(col("total"), lit(0.0)) + col("d_total")).as("total"),
            (coalesce(col("n_events"), lit(0L)) + col("d_n")).as("n_events"))
      case None =>
        delta.select(col("user_id"),
          col("d_total").as("total"), col("d_n").as("n_events"))
    }
    appendFrames(world, updated)
  }

  /** Event shape consumed by the keyed-state bridge. */
  final case class IngestEvent(user_id: Long, value: Double)

  /** A touched entity's refreshed running totals — one per updated
    * group per micro-batch.
    */
  final case class LiveFrame(user_id: Long, total: Double, n_events: Long)

  /** O(live entities) on-demand live view: scan the bridge's OWN keyed
    * state store (Spark's state data source) instead of re-resolving
    * the world's sparse history. The mapGroupsWithState store already
    * IS a compacted latest-wins frame — one row per live entity,
    * maintained incrementally at O(delta) per batch — so the dashboard
    * read is a flat scan of exactly that state, with no window over the
    * history, no parquet scan, and no second foreachBatch-maintained
    * copy (which would double the write amplification just to serve
    * reads). Requires [[attach]] to have been started with an explicit
    * `checkpointLocation`; reads the latest COMMITTED batch's state,
    * which is exactly the snapshot semantics a poller wants.
    */
  def liveSnapshot(s: org.apache.spark.sql.SparkSession,
      checkpointLocation: String): DataFrame =
    s.read.format("statestore").load(checkpointLocation)
      // (flat)mapGroupsWithState state rows carry the user object under
      // value.groupState; the grouping key (a bare long) under key.value
      .select(col("key.value").as("entity_id"),
        col("value.groupState.user_id").as("user_id"),
        col("value.groupState.total").as("total"),
        col("value.groupState.n_events").as("n_events"))

  /** Attach the bridge to a streaming events DataFrame; every
    * micro-batch becomes one world step.
    *
    * O(delta) on BOTH sides: running totals live in the streaming
    * state store keyed by user (mapGroupsWithState — the G7-G12
    * maintainer shape), so a micro-batch reads exactly the state of
    * the keys it touches (point lookups; RocksDB provider keeps cold
    * keys on disk) and emits exactly those keys' refreshed frames,
    * which append to the world as one sparse step. Nothing re-reads
    * the world's history during ingestion — [[liveState]] remains the
    * on-demand read for queries and re-attached durable stores, and
    * [[liveSnapshot]] serves O(live entities) polling reads straight
    * off the state store when a `checkpointLocation` is supplied.
    */
  def attach(world: World, events: DataFrame,
      queryName: String = "ecs_ingest",
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val s = events.sparkSession
    import s.implicits._
    val typed = events
      .select(col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"))
      .as[IngestEvent]
    val updates: Dataset[LiveFrame] = typed.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[IngestEvent], state: GroupState[LiveFrame]) => {
          var dTotal = 0.0
          var dN = 0L
          it.foreach { e => dTotal += e.value; dN += 1 }
          val prev = state.getOption.getOrElse(LiveFrame(uid, 0.0, 0L))
          val next = LiveFrame(uid, prev.total + dTotal, prev.n_events + dN)
          state.update(next)
          next
        })
    val writer = updates.writeStream
      .queryName(queryName)
      .outputMode("update")
      .foreachBatch { (frames: Dataset[LiveFrame], _: Long) =>
        // materialize the delta NOW: every state-store partition must
        // commit within the batch, and the appended frame must never
        // lazily re-run the stateful streaming plan out of band
        appendFrames(world, frames.toDF().localCheckpoint(true))
      }
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }
}

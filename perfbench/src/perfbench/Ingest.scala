package perfbench

import graft.ecs.{ArchetypeStore, EcsStreamIngest, World}
import graft.ecs.EcsStreamIngest.IngestEvent
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `EcsStreamIngest.attach` on a MemoryStream with a checkpoint: B
  * micro-batches of E events over U Zipf-skewed users, a durable
  * `commitDelta` every C batches, and after each batch one read,
  * rotating through the state-store snapshot, the in-memory history and
  * a fresh store re-attached from the commit log. With C = 3 every
  * restart read directly follows a commit.
  */
final class Ingest(spark: SparkSession, inputs: String, p: Map[String, Int], work: String)
    extends Workload {
  import spark.implicits._
  private val nb = p("B")
  private val e = p("E")
  private val c = p("C")
  private var batches: IndexedSeq[Seq[IngestEvent]] = IndexedSeq.empty
  // (user_id, total, n_events) sorted by user, after each batch
  private var want: IndexedSeq[Seq[(Long, Double, Long)]] = IndexedSeq.empty
  private var episodes = 0
  private var storedBytes = 0L
  private var committedEvents = 0L

  val opSpans: Seq[String] = Seq("batch")
  def unitsPerEpisode: Long = nb.toLong * e

  def prepare(): Unit = {
    val rows = spark.read.parquet(s"$inputs/events.parquet").collect()
    batches = rows.groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1)
      .map(_._2.map(r => IngestEvent(r.getLong(1), r.getDouble(2))).toSeq)
    require(batches.size == nb && batches.forall(_.size == e), "events do not match B x E")
    // the plain groupBy sum over every event up to each batch
    val totals = scala.collection.mutable.HashMap.empty[Long, (Double, Long)]
    want = batches.map { evs =>
      evs.foreach { ev =>
        val (t, n) = totals.getOrElse(ev.user_id, (0.0, 0L))
        totals(ev.user_id) = (t + ev.value, n + 1)
      }
      totals.toSeq.map { case (u, (t, n)) => (u, t, n) }.sortBy(_._1)
    }
  }

  def episode(sp: Spans, gate: Gate): Unit = {
    episodes += 1
    val dir = Paths.get(work, s"ingest-$episodes")
    val ck = dir.resolve("checkpoint").toString
    val durable = dir.resolve("durable").toString
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = MemoryStream[IngestEvent]
    val (world, query) = sp("attach") {
      val w = World.make(spark)
      (w, EcsStreamIngest.attach(w, events.toDF(), s"perfbench_ingest_$episodes", Some(ck)))
    }
    var committed = -1
    try {
      batches.indices.foreach { b =>
        sp("batch") {
          events.addData(batches(b))
          query.processAllAvailable()
        }
        noteProgress(sp, query, b)
        if ((b + 1) % c == 0) {
          val before = dirStats(durable)
          sp("commit")(world.store.commitDelta(durable))
          val after = dirStats(durable)
          sp.note("files_written", after._1 - before._1)
          sp.note("bytes_written_mb", (after._2 - before._2) / (1024.0 * 1024.0))
          committed = b
        }
        def cols(df: org.apache.spark.sql.DataFrame) =
          df.select("user_id", "total", "n_events").collect()
        val (kind, rows, asOf) = b % 3 match {
          case 0 => ("read_snapshot",
            sp("read_snapshot")(cols(EcsStreamIngest.liveSnapshot(spark, ck))), b)
          case 1 => ("read_history",
            sp("read_history")(cols(EcsStreamIngest.liveState(world).get)), b)
          case _ => ("read_restart", sp("read_restart") {
            val store = new ArchetypeStore(spark, world.store.simulation, world.store.run)
            store.attachDurable(Seq(EcsStreamIngest.meta), durable)
            cols(EcsStreamIngest.liveState(store).get)
          }, committed)
        }
        sp.note("rows_out", rows.length)
        gate.check(kind, asOf >= 0 && same(rows, want(asOf)))
      }
    } finally sp("stop")(query.stop())
    storedBytes += dirStats(durable)._2
    committedEvents += (committed + 1).toLong * e
    deleteRecursively(dir)
  }

  /** The state-store and planning figures of the micro-batch just run. */
  private def noteProgress(sp: Spans, query: org.apache.spark.sql.streaming.StreamingQuery,
      batchId: Int): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while ((query.lastProgress == null || query.lastProgress.batchId < batchId) &&
      System.nanoTime() < deadline) Thread.sleep(5)
    val prog = query.lastProgress
    if (prog != null && prog.batchId == batchId) {
      val ops = prog.stateOperators
      sp.note("state_rows_total", ops.map(_.numRowsTotal).sum.toDouble)
      sp.note("state_rows_updated", ops.map(_.numRowsUpdated).sum.toDouble)
      sp.note("state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble)
      sp.note("query_planning_ms",
        Option(prog.durationMs.get("queryPlanning")).map(_.doubleValue).getOrElse(0.0))
    }
  }

  private def same(rows: Array[Row], expected: Seq[(Long, Double, Long)]): Boolean = {
    val got = rows.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    got.toSeq == expected
  }

  /** (files, bytes) under a directory, 0 when it does not exist yet. */
  private def dirStats(d: String): (Long, Long) = {
    val root = Paths.get(d)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  override def extras: Map[String, Double] =
    Map("stored_bytes_per_event" -> storedBytes.toDouble / math.max(1L, committedEvents))
}

package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed public call: its span name, wall interval and the counts
  * the workload noted about its result.
  */
final class Occurrence(val name: String, val id: String,
    val startMs: Long, val endMs: Long, val wallS: Double) {
  val notes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** Times every public call the workloads make. With `tagJobs` the span
  * id is set as a local property around the call, so each Spark job the
  * call submits carries it.
  */
final class Spans(sc: SparkContext, tagJobs: Boolean) {
  private val occs = mutable.ArrayBuffer.empty[Occurrence]
  private var seq = 0L

  def apply[A](name: String)(body: => A): A = {
    seq += 1
    val id = s"$name#$seq"
    if (tagJobs) sc.setLocalProperty(Spans.Key, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      occs += new Occurrence(name, id, startMs, System.currentTimeMillis(), wall)
      if (tagJobs) sc.setLocalProperty(Spans.Key, null)
    }
  }

  /** Attach a count to the most recent occurrence. */
  def note(key: String, value: Double): Unit = occs.last.notes(key) = value

  def occurrences: Seq[Occurrence] = occs.toSeq
  def clear(): Unit = occs.clear()
}

object Spans {
  val Key = "perfbench.span"
}

/** Raw job and task events, kept in memory and aggregated per span once
  * the run ends.
  */
final class Trace extends SparkListener {
  import Trace._
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Spans.Key)).orNull
    jobs(e.jobId) = Job(tag, e.time, Long.MaxValue, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new Stage)
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.recordsIn += m.inputMetrics.recordsRead
    }
  }

  /** Median over a span's occurrences of each per-occurrence metric. */
  def summarize(occs: Seq[Occurrence]): Map[String, Map[String, Double]] = synchronized {
    // Spans never overlap. A job belongs to the span it is tagged with
    // when that span was open at the job's start; otherwise (the
    // streaming thread keeps the tag it inherited when it was started)
    // to whichever span was open then.
    val byId = occs.map(o => o.id -> o).toMap
    def open(o: Occurrence, t: Long) = t >= o.startMs && t <= o.endMs
    val owned = jobs.toSeq.flatMap { case (id, j) =>
      Option(j.tag).flatMap(byId.get).filter(open(_, j.start))
        .orElse(occs.find(open(_, j.start))).map(_.id -> id)
    }.groupMap(_._1)(_._2)
    occs.groupBy(_.name).map { case (name, os) =>
      val per = os.map(o => measure(o, owned.getOrElse(o.id, Nil)))
      val keys = per.flatMap(_.keys).distinct
      name -> (keys.map(k => k -> Stats.median(per.flatMap(_.get(k)))).toMap +
        ("occurrences" -> os.size.toDouble))
    }
  }

  /** Per-occurrence layer metrics: wall, self time no job covers, jobs,
    * summed task time, worst stage's max/median task time, shuffle
    * written, disk spill, GC, and for reads the rows read from storage
    * per row returned.
    */
  private def measure(o: Occurrence, jobIds: Seq[Int]): Map[String, Double] = {
    val mine = jobIds.map(jobs)
    val intervals = mine.map(j => (math.max(j.start, o.startMs), math.min(j.end, o.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    intervals.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    val ids = jobIds.toSet
    val ss = mine.flatMap(_.stages).distinct
      .filter(s => stageJob.get(s).exists(ids)).flatMap(stages.get)
    val skews = ss.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      val med = Stats.median(sorted.map(_.toDouble).toSeq)
      if (med > 0) sorted.last / med else 1.0
    }
    val mb = 1024.0 * 1024.0
    val rowsIn = ss.map(_.recordsIn).sum.toDouble
    val ratio = o.notes.get("rows_out").filter(_ > 0).map(out => "rows_in_per_row_out" -> rowsIn / out)
    Map(
      "wall_s" -> o.wallS,
      "driver_s" -> math.max(0.0, o.wallS - covered / 1000.0),
      "jobs" -> mine.size.toDouble,
      "task_s" -> ss.map(_.taskMs.sum).sum / 1000.0,
      "task_skew" -> (if (skews.isEmpty) (if (ss.isEmpty) 0.0 else 1.0) else skews.max),
      "shuffle_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "spill_mb" -> ss.map(_.spill).sum / mb,
      "gc_s" -> ss.map(_.gcMs).sum / 1000.0) ++ ratio ++ (o.notes - "rows_out")
  }
}

object Trace {
  private final case class Job(tag: String, start: Long, var end: Long, stages: Seq[Int])
  private final class Stage {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var gcMs, shuffleWrite, spill, recordsIn = 0L
  }

  def install(sc: SparkContext): Trace = {
    val t = new Trace
    sc.addSparkListener(t)
    t
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

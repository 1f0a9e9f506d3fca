package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One workload: inputs loaded by `prepare`, a closed-loop `episode`
  * of public calls timed through `Spans`, and gates on the results.
  */
trait Workload {
  /** Spans whose wall times are the workload's operation latencies. */
  def opSpans: Seq[String]
  def unitsPerEpisode: Long
  def prepare(): Unit
  def episode(sp: Spans, gate: Gate): Unit
  def extras: Map[String, Double] = Map.empty
  /** Oracle SQL per output the harness should check in DuckDB. */
  def oracleSql: Map[String, String] = Map.empty
}

/** Correctness checks; each failure names the operation it checked. */
final class Gate {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(what: String, ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => failures += s"$what: $e"; return }
    if (!passed) failures += s"$what: result differs from the expected one"
  }
}

/** Runs one workload in this JVM and writes its raw figures as JSON:
  *
  * {{{
  * perfbench.Main --workload sim --inputs DIR --work DIR --seconds 10 \
  *   --trace 0 --out result.json --param N=20000 --param K=8
  * }}}
  *
  * Setup (session, input preparation repeated `SetupReps` times,
  * `--warmup-episodes` untimed episodes) is timed apart from the
  * measured loop, which runs whole episodes until `--seconds` have
  * passed.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = graft.Graft.session(appName = s"perfbench-${o("workload")}")
    val sessionS = since(t0)
    val trace = if (o("trace") == "1") Some(Trace.install(spark.sparkContext)) else None
    val params = o.collect { case (k, v) if k.startsWith("param.") => k.stripPrefix("param.") -> v.toInt }
    val inputs = o("inputs")
    val work = o("work")
    val wl: Workload = o("workload") match {
      case "sim" => new Sim(spark, inputs, params)
      case "ingest" => new Ingest(spark, inputs, params, work)
      case "curate" => new Curate(spark, inputs, params, work)
      case w => sys.error(s"unknown workload $w")
    }
    val gate = new Gate
    val sp = new Spans(spark.sparkContext, tagJobs = trace.isDefined)
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      val prepS = (1 to SetupReps).map { _ =>
        val t = System.nanoTime(); wl.prepare(); since(t)
      }
      val tw = System.nanoTime()
      (1 to o.getOrElse("warmup-episodes", "1").toInt).foreach(_ => wl.episode(sp, gate))
      val warmupS = since(tw)
      val warmupOps = sp.occurrences.size
      sp.clear()

      val seconds = o("seconds").toDouble
      val tl = System.nanoTime()
      var episodes = 0
      while (episodes == 0 || since(tl) < seconds) {
        // a full GC outside the timed calls, so that no episode's calls
        // collect the garbage of the ones before it
        System.gc()
        wl.episode(sp, gate)
        episodes += 1
      }
      out ++= Seq(
        "session_s" -> sessionS, "prep_s" -> prepS, "warmup_s" -> warmupS,
        "episodes" -> episodes,
        "units" -> wl.unitsPerEpisode * episodes,
        "op_spans" -> wl.opSpans,
        "span_walls" -> sp.occurrences.groupBy(_.name).map { case (k, os) => k -> os.map(_.wallS) },
        "extras" -> wl.extras,
        "oracle_sql" -> wl.oracleSql,
        "ops" -> (warmupOps + sp.occurrences.size))
      trace.foreach { t =>
        Trace.drain(spark.sparkContext)
        out("spans") = t.summarize(sp.occurrences)
      }
    } catch {
      case e: Exception =>
        gate.failures += s"aborted: $e"
        e.printStackTrace()
    }
    out("failures") = gate.failures.toSeq
    out("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(o("out")), Json.write(out))
    spark.stop()
  }

  private def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** The JVM's high-water resident set (VmHWM), the whole local-mode Spark. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array("--param", kv) =>
        val Array(k, v) = kv.split("=", 2)
        s"param.$k" -> v
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case a => sys.error(s"bad arguments: ${a.mkString(" ")}")
    }.toMap
}

/** Just enough JSON for the result file. */
object Json {
  def write(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => sys.error(s"cannot write $other as JSON")
  }

  private def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
}

package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: one JSON line with per-query seconds on
  * SPARK_GRAFT_SF_DIR.
  *
  * Methodology (r2, r8):
  *   - r8: FRESH JVM PER SUITE. With 289 queries in one shared JVM,
  *     round-over-round totals became noise: BENCH_r06_sf1 measured
  *     knn_binary_hamming at 50.9× inside the shared run vs 1.8× in a
  *     fresh session (block-manager/GC residue from earlier queries),
  *     and r6→r7 showed +13.6% aggregate drift on 281 untouched
  *     queries. The main below is an ORCHESTRATOR: it groups queries
  *     into per-file suites (ecs/relational/dedup/…), forks one child
  *     JVM per suite (same classpath + JVM args as itself), and merges
  *     the children's per-query medians into the single JSON line the
  *     driver reads. Cross-suite contamination is now structurally
  *     impossible; within a suite the existing System.gc() nudge and
  *     median-of-trials stand.
  *   - Each query runs once at sf0.001 first (inside its suite's JVM)
  *     to pay JVM/codegen warm-up outside the measurement.
  *   - Each query then runs SPARK_GRAFT_TRIALS times (default 3) at
  *     the target SF; the JSON reports the per-query MEDIAN plus
  *     min/max, so one co-tenant stall doesn't poison the number.
  *   - Queries are forced through a `noop` sink, not `.count()`: under
  *     a count Catalyst prunes unused result columns — for q18-style
  *     window queries that deleted the entire window computation and
  *     benchmarked an empty shell. The noop write materializes every
  *     output column without driver collection.
  *   - A query that throws is reported in an explicit "errors" map and
  *     excluded from the total; failures are never silently folded in.
  *   - The FULL artifact (medians + min/max spread) is persisted to
  *     target/bench_full.json AND bench/bench_full_latest.json (the
  *     tracked copy — BENCH_r04 lost 97 of 155 medians to stdout log
  *     truncation, and target/ dies on `sbt clean`).
  */
object Bench {

  /** Force full computation of every output column, no driver collect. */
  private def exhaust(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Suite = one registry file = one child JVM. */
  def suiteOf(name: String): String =
    if (name.startsWith("ecs_")) "ecs"
    else if (name.startsWith("dedup_")) "dedup"
    else if (name.startsWith("knn_") || name.startsWith("vec_")) "similarity"
    else if (name.startsWith("text_")) "text"
    else if (name.startsWith("mm_")) "multimodal"
    else if (name.startsWith("stream_")) "streaming"
    else if (name.startsWith("src_")) "sources"
    else if (name.startsWith("sketch_")) "sketches"
    else if (name.startsWith("pipeline_")) "pipeline"
    else "relational"

  def main(args: Array[String]): Unit =
    if (sys.env.contains("SPARK_GRAFT_CHILD")) childMain() else orchestrate()

  // ------------------------------------------------------------------
  // Child: measure the keys in SPARK_GRAFT_ONLY inside THIS JVM and
  // write one TSV line per query (name \t median \t min \t max, or
  // ERR \t name \t message) to SPARK_GRAFT_OUT. stdout carries no
  // contract in the child — the orchestrator owns the JSON line.
  // ------------------------------------------------------------------
  private def childMain(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val outPath = sys.env("SPARK_GRAFT_OUT")
    val only = sys.env("SPARK_GRAFT_ONLY").split(",").toSet
    val spark = Graft.session(s"local[$cpus]", "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.contains(n) }
    ordered.foreach { case (_, fn) =>
      try exhaust(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    // append each key's line as it completes (not one bulk write at
    // exit): a child killed mid-group — OOM, timeout, disk death —
    // keeps every finished key's measurement, and the missing keys
    // surface as explicit absences in the report
    val outP = java.nio.file.Paths.get(outPath)
    java.nio.file.Files.write(outP, Array.emptyByteArray)
    def emit(line: String): Unit =
      java.nio.file.Files.write(outP,
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
    ordered.foreach { case (name, fn) =>
      var err: Option[String] = None
      def trial(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          exhaust(fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            if (err.isEmpty) err = Some(
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
            None
        }
      }
      var times = (1 to trials).flatMap(_ => trial())
      // HEAVY keys get 5-trial medians (VERDICT r9 ask #9: the >2 s
      // keys are where round-over-round regressions are decided, and
      // their 3-trial medians moved ~25% on overlapping spreads —
      // undecidable). Only in the standard 3-trial run: explicit
      // SPARK_GRAFT_TRIALS settings (probes, quick checks) are
      // respected as-is.
      if (trials == 3 && times.nonEmpty && median(times) > 2.0)
        times = times ++ (1 to 2).flatMap(_ => trial())
      // Between queries, nudge the JVM so Spark's ContextCleaner can
      // drop checkpoint blocks whose owners (e.g. finished ECS worlds)
      // are no longer referenced — within-suite residue control.
      System.gc()
      if (times.isEmpty)
        emit(s"ERR\t$name\t${err.getOrElse("no trials").replace("\t", " ").replace("\n", " ")}\n")
      else
        emit(f"OK\t$name\t${median(times)}%.3f\t${times.min}%.3f\t${times.max}%.3f%n")
    }
    spark.stop()
  }

  // ------------------------------------------------------------------
  // Orchestrator: fork one child JVM per suite, merge TSV fragments,
  // print the single JSON contract line.
  // ------------------------------------------------------------------
  private def orchestrate(): Unit = {
    import scala.jdk.CollectionConverters._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val keys = SparkEntry.queries.keySet.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val suites = keys.groupBy(suiteOf).toSeq.sortBy(_._1)

    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    // inherit this JVM's own flags (add-opens for Spark-on-JDK17, -Xmx,
    // -D props) so the children run exactly the environment sbt forked
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
        a.startsWith("-X") || a.startsWith("-D"))
    val classpath = sys.props("java.class.path")

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    suites.foreach { case (suite, names) =>
      val outFile = java.nio.file.Files.createTempFile(s"bench_$suite", ".tsv")
      val logFile = java.nio.file.Paths.get(s"target/bench_child_$suite.log")
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", classpath, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_OUT", outFile.toString)
      pb.redirectOutput(logFile.toFile)
      pb.redirectErrorStream(true)
      val t0 = System.nanoTime()
      val proc = pb.start()
      val code = proc.waitFor()
      System.err.println(f"[bench] suite $suite (${names.size} queries): " +
        f"exit $code in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      if (code != 0)
        names.foreach(n => errors.getOrElseUpdate(n, s"suite $suite child JVM exit $code"))
      java.nio.file.Files.readAllLines(outFile).asScala.foreach { line =>
        line.split("\t") match {
          case Array("OK", n, med, mn, mx) =>
            results(n) = (med.toDouble, mn.toDouble, mx.toDouble)
          case Array("ERR", n, msg) => errors(n) = msg
          case _ => ()
        }
      }
      java.nio.file.Files.deleteIfExists(outFile)
    }

    def fmt(d: Double): String = f"$d%.3f"
    val qs = results.map { case (k, (med, _, _)) => "\"" + k + "\":" + fmt(med) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, (_, mn, mx)) =>
      "\"" + k + "\":[" + fmt(mn) + "," + fmt(mx) + "]"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    val total = results.values.map(_._1).sum
    // Heavy-key detail (median > 2 s) with [median, min, max] spreads —
    // kept in the FULL artifact for round-over-round spread checks.
    val heavy = results.toSeq.filter(_._2._1 > 2.0)
      .sortBy(-_._2._1)
      .map { case (k, (med, mn, mx)) =>
        "\"" + k + "\":[" + fmt(med) + "," + fmt(mn) + "," + fmt(mx) + "]"
      }.mkString("{", ",", "}")
    // r11 (VERDICT r10 ask #2): the driver keeps only the LAST ~2000
    // bytes of stdout, and the full 302-key line is ~8 KB — BENCH_r07
    // through r10 all came back `parsed: null` because only the line's
    // tail survived. The stdout contract line is therefore BUDGETED to
    // fit the capture whole: `queries` carries the heaviest keys that
    // fit (they are where round-over-round decisions are made; the
    // sub-second keys dropped here are the ones whose ±15-50% run-to-
    // run variance carries no signal anyway), ordered lightest→heaviest
    // so the heavy keys are the surviving bytes even if the capture
    // shrinks further. EVERY key's median+spread still lands in the
    // full artifact (bench/bench_full_latest.json, tracked), exactly as
    // before — nothing is measured less, only printed shorter.
    val budget = sys.env.getOrElse("SPARK_GRAFT_STDOUT_BUDGET", "1800").toInt
    // stdout variant of the error map: message text capped hard so a
    // failure storm cannot push the line past the capture window (the
    // full artifact keeps the 200-char messages)
    val errStdout = errors.map { case (k, v) =>
      "\"" + k + "\":\"" +
        v.take(60).replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    def lineFor(entries: Seq[(String, Double)], omitted: Int): String = {
      val qj = entries.map { case (k, med) => "\"" + k + "\":" + fmt(med) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","trials":"$trials (+2 for keys >2s)","isolation":"jvm-per-suite","n_queries":${results.size},"queries_omitted":$omitted,"full":"bench/bench_full_latest.json","errors":$errStdout,"sf":"$sfDir","queries":$qj}"""
    }
    val byWeight = results.toSeq.map { case (k, (med, _, _)) => (k, med) }
      .sortBy { case (k, med) => (-med, k) }
    // largest prefix of the heaviest-first list whose line fits the budget
    val keep = (byWeight.length to 0 by -1).view
      .map(n => byWeight.take(n))
      .find(sel => lineFor(sel.sortBy(e => (e._2, e._1)), results.size - sel.size)
        .length <= budget)
      .getOrElse(Seq.empty)
    val line = lineFor(keep.sortBy(e => (e._2, e._1)), results.size - keep.size)
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","trials":"$trials (+2 for keys >2s)","isolation":"jvm-per-suite","queries":$qs,"spread":$spread,"errors":$errJson,"sf":"$sfDir","heavy":$heavy}"""
    // full artifact: untracked target/ copy AND the tracked bench/ copy
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench"))
    Seq("target/bench_full.json", "bench/bench_full_latest.json").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(line)
  }
}

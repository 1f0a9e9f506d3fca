package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem}

/** Graft.session is the one session factory: the spec session comes
  * from it with the tuned settings and the graft surface, a repeat call
  * returns the live session with its settings re-applied, and no other
  * source file builds a session. Graft.install retrofits the same
  * surface onto an existing session, idempotently.
  */
class GraftEntrypointSpec extends SparkSpec {

  private def dot(s: org.apache.spark.sql.SparkSession): Double =
    s.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)

  test("the spec session has the factory settings and the graft surface") {
    assert(spark.sparkContext.uiWebUrl.isEmpty, "the UI must be off")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(Tables.NanosAsLongKey) == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(dot(spark) == 11.0)
  }

  test("the spec session's local file system is the non-forking one") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a second Graft.session call returns the live session and re-applies its settings") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "7")
      assert(Graft.session("local[4]", "graft-test") eq spark)
      assert(spark.conf.get(key).toInt == spark.sparkContext.defaultParallelism)
    } finally spark.conf.set(key, before)
  }

  test("Graft.session installs the surface on a live session that lacks it") {
    val bare = spark.newSession()
    assert(!bare.catalog.functionExists("graft_dot"))
    org.apache.spark.sql.SparkSession.setActiveSession(bare)
    try {
      assert(Graft.session("local[4]", "graft-test") eq bare)
      assert(bare.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(dot(bare) == 11.0)
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("Graft.scala holds the only session builder call in the JVM sources") {
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src", "perfbench/src").map(Paths.get(_)).filter(Files.isDirectory(_))
    assert(roots.nonEmpty, s"no source roots under ${Paths.get("").toAbsolutePath}")
    val builders = roots.flatMap { root =>
      val files = Files.walk(root)
      try files.iterator().asScala.toList finally files.close()
    }.filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString)
    assert(builders == Seq(Paths.get("src/main/scala/graft/Graft.scala").toString))
  }

  test("install registers SQL functions and is idempotent") {
    Graft.install(spark)
    Graft.install(spark) // second call must be a no-op, not an error
    assert(dot(spark) == 11.0)
    val h = spark.sql("SELECT graft_poly_hash('abc') AS h").head().getLong(0)
    assert(h != 0L)
  }

  test("native as-of planning available after install") {
    Graft.install(spark)
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L)).toDF("k", "t")
    val right = Seq((1L, 5L, "a"), (1L, 15L, "b")).toDF("rk", "rt", "v")
    val joined = graft.plans.AsOfJoin.join(left, right, "k", "t", "rk", "rt")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected AsOfJoinExec in:\n$plan")
    val vs = joined.orderBy("t").select("v").as[String].collect().toSeq
    assert(vs == Seq("a", "b"))
  }
}

package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.ecs.{ArchetypeStore, EcsStreamIngest, World}
import graft.ecs.EcsStreamIngest.IngestEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** NioRawLocalFileSystem answers as Hadoop's RawLocalFileSystem does on
  * the same tree, and with it installed the ECS streaming ingest, the
  * durable commit log and durable reads start no `chmod` or `readlink`
  * process.
  */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), hadoopConf)
    fs
  }

  private def tree(): JPath = {
    val root = Files.createTempDirectory("graft_localfs")
    Files.writeString(root.resolve("file"), "abc")
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    root
  }

  /** The status fields, or the exception class: Hadoop's `readlink`
    * runs on the path's string form, so a qualified dangling symlink
    * is a missing file to it.
    */
  private def linkStatus(fs: RawLocalFileSystem, p: Path) =
    Try(fs.getFileLinkStatus(p)).map { s =>
      (s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) Some(s.getSymlink) else None)
    }.toEither.left.map(_.getClass)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def octal(bits: String): Int = Integer.parseInt(bits, 8)

  test("getFileLinkStatus matches Hadoop's on files, directories and symlinks") {
    val root = tree()
    try {
      val (stock, nio) = (raw(new RawLocalFileSystem), raw(new NioRawLocalFileSystem))
      for (name <- Seq("file", "dir", "link", "dangling", "missing"); abs = root.resolve(name);
           p <- Seq(new Path(abs.toString), new Path(abs.toUri))) {
        assert(linkStatus(nio, p) == linkStatus(stock, p), p)
      }
      assert(nio.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
      assert(linkStatus(nio, new Path(root.resolve("missing").toString)) ==
        Left(classOf[FileNotFoundException]))
    } finally TmpDir.delete(root.toString)
  }

  test("setPermission and mkdirs set the same mode bits as Hadoop's") {
    val root = tree()
    try {
      val (stock, nio) = (raw(new RawLocalFileSystem), raw(new NioRawLocalFileSystem))
      for (bits <- Seq("600", "640", "644", "700", "755")) {
        val perm = new FsPermission(octal(bits).toShort)
        val (a, b) = (root.resolve(s"stock$bits"), root.resolve(s"nio$bits"))
        Seq(a, b).foreach(Files.createFile(_))
        stock.setPermission(new Path(a.toString), perm)
        nio.setPermission(new Path(b.toString), perm)
        assert(mode(b) == mode(a) && mode(b) == perm.toShort, bits)
      }
      val p750 = new FsPermission(octal("750").toShort)
      assert(stock.mkdirs(new Path(root.resolve("stockdir/sub").toString), p750))
      assert(nio.mkdirs(new Path(root.resolve("niodir/sub").toString), p750))
      assert(mode(root.resolve("niodir/sub")) == mode(root.resolve("stockdir/sub")))
      assert(mode(root.resolve("niodir/sub")) == octal("750"))
      // a sticky bit has no java.nio form: it takes Hadoop's own path
      val sticky = new FsPermission(octal("1777").toShort)
      nio.setPermission(new Path(root.resolve("dir").toString), sticky)
      assert(mode(root.resolve("dir")) == octal("1777"))
    } finally TmpDir.delete(root.toString)
  }

  test("a FileContext rename onto an existing target still needs OVERWRITE") {
    val root = tree()
    try {
      val fc = FileContext.getLocalFSFileContext(hadoopConf)
      val (src, dst) = (new Path(root.resolve("file").toUri), new Path(root.resolve("dst").toUri))
      Files.writeString(root.resolve("dst"), "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(Files.readString(root.resolve("dst")) == "abc")
    } finally TmpDir.delete(root.toString)
  }

  test("streaming ingest, commitDelta and durable reads start no chmod or readlink") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = (0 until 3).map(b => (0 until 40).map(i => IngestEvent(i % 7 + b, 1.0)))
    val ckpt = TmpDir.scratch("nofork_ckpt")
    val durable = TmpDir.scratch("nofork_durable")
    val control = Files.createTempFile("graft_nofork", ".control")
    val world = World.make(spark, simulation = "nofork", run = "r1", optimizeInterval = 0)
    val input = MemoryStream[IngestEvent]
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val live = try {
      val q = EcsStreamIngest.attach(world, input.toDF(), "ecs_ingest_nofork", Some(ckpt))
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      world.store.commitDelta(durable)
      val store = new ArchetypeStore(spark, "nofork", "r1")
      store.attachDurable(Seq(EcsStreamIngest.meta), durable)
      val rows = EcsStreamIngest.liveState(store).get
        .select("user_id", "n_events").as[(Long, Long)].collect().toMap
      // the recorder sees forks: Hadoop's stock readlink of one file
      raw(new RawLocalFileSystem).getFileLinkStatus(new Path(control.toString))
      rows
    } finally rec.stop()
    val dump = Files.createTempFile("graft_nofork", ".jfr")
    try {
      rec.dump(dump)
      val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      val forks = commands.filter { c =>
        Set("chmod", "readlink")(c.trim.split("\\s+").head.split('/').last)
      }
      assert(forks.nonEmpty && forks.forall(_.contains(control.toString)),
        s"chmod/readlink launched outside the control call:\n${forks.mkString("\n")}")
      val want = batches.flatten.groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
      assert(live == want)
    } finally {
      rec.close()
      Seq(dump, control).foreach(Files.deleteIfExists)
      Seq(ckpt, durable).foreach(TmpDir.delete)
    }
  }
}

package graft

import graft.ecs._
import graft.EcsQueries.{MovementProcessor, PosMeta, PosVel, Position, Velocity}
import org.apache.spark.sql.functions._

/** Spec-only component living in a third archetype (DAG tests). */
case class Heat(h: Double) extends Component

/** Mirrors the reference's tests/test_toy.py plus despawn, upsert,
  * multi-archetype and persistence semantics.
  */
class EcsSpec extends SparkSpec {

  test("toy simulation: 3 entities, 10 steps of movement (test_toy.py)") {
    val world = World.make(spark, "sim_test", "run_toy")
    world.addProcessor(MovementProcessor)
    val e1 = world.spawn(Position(0.0, 0.0), Velocity(1.0, 1.0))
    val e2 = world.spawn(Position(10.0, 5.0), Velocity(2.0, -1.0))
    val e3 = world.spawn(Position(-5.0, -10.0), Velocity(-0.5, 0.5))
    assert(Seq(e1, e2, e3) == Seq(1L, 2L, 3L))
    (1 to 10).foreach(_ => world.step(0.25))

    val hist = world.getHistory(Seq(PosMeta))
    assert(hist.nonEmpty, "history should return data")
    val rows = hist.values.head
    assert(rows.count() == 33L, "3 entities x 11 steps (0..10)")

    val finalState = world.query(PosVel).values.head
      .orderBy("entity_id").collect()
    assert(finalState.length == 3)
    val r1 = finalState(0)
    assert(r1.getAs[Double]("position__x") == 0.0 + 10 * 0.25 * 1.0)
    assert(r1.getAs[Double]("position__y") == 2.5)
    val r2 = finalState(1)
    assert(r2.getAs[Double]("position__x") == 15.0)
    assert(r2.getAs[Double]("position__y") == 2.5)
  }

  test("archetype hash is order-insensitive and name-sensitive") {
    val a = Archetype.hashOf(Seq(PosMeta, ComponentMeta.of[Velocity]))
    val b = Archetype.hashOf(Seq(ComponentMeta.of[Velocity], PosMeta))
    assert(a == b)
    assert(Archetype.hashOf(Seq(PosMeta)) != a)
  }

  test("subset-signature query matches wider archetypes") {
    val world = World.make(spark, "sim_test", "run_subset")
    world.spawn(Position(1.0, 2.0), Velocity(0.0, 0.0))
    world.spawn(Position(3.0, 4.0))
    val posOnly = world.query(Seq(PosMeta))
    assert(posOnly.size == 2, "Position query must match both archetypes")
    assert(posOnly.values.map(_.count()).sum == 2L)
    val posVel = world.query(PosVel)
    assert(posVel.size == 1, "Position+Velocity query matches only the wider archetype")
  }

  test("despawn excludes entity from live query but keeps history row") {
    val world = World.make(spark, "sim_test", "run_despawn")
    val e1 = world.spawn(Position(1.0, 1.0))
    world.spawn(Position(2.0, 2.0))
    world.despawn(e1)
    val live = world.query(Seq(PosMeta)).values.head
    assert(live.count() == 1L)
    assert(live.select("entity_id").head().getLong(0) == 2L)
    val hist = world.getHistory(Seq(PosMeta)).values.head
    assert(hist.count() == 2L, "soft delete keeps the row")
  }

  test("upsert is latest-wins on (simulation, run, entity_id, step)") {
    val world = World.make(spark, "sim_test", "run_upsert")
    world.spawn(Position(0.0, 0.0))
    val store = world.store
    val hash = Archetype.hashOf(Seq(PosMeta))
    def state(x: Double) = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row("sim_test", "run_upsert", 1L, 0L, true, x, 0.0)),
      Archetype.schemaOf(Seq(PosMeta)))
    store.upsert(hash, state(5.0))
    store.upsert(hash, state(9.0))
    val live = world.query(Seq(PosMeta)).values.head.collect()
    assert(live.length == 1)
    assert(live(0).getAs[Double]("position__x") == 9.0)
  }

  test("history scoping: per-run by default, all runs of a simulation on request") {
    val simName = s"sim_multi_${java.util.UUID.randomUUID().toString.take(8)}"
    // both runs commit into one shared durable directory
    val dir = java.nio.file.Files.createTempDirectory("graft_runs").toString
    Seq("run_a" -> 1.0, "run_b" -> 2.0).foreach { case (run, x) =>
      val w = World.make(spark, simName, run)
      w.spawn(Position(x, 0.0))
      w.store.commitDelta(dir)
    }
    val hash = Archetype.hashOf(Seq(PosMeta))
    def attached(run: String) = {
      val s = new ArchetypeStore(spark, simName, run)
      s.attachDurable(Seq(PosMeta), dir)
      s
    }
    def xs(s: ArchetypeStore, includeAllRuns: Boolean = false) =
      s.getHistory(Seq(PosMeta), includeAllRuns)(hash).select("position__x")
        .collect().map(_.getDouble(0)).sorted.toSeq
    // each run sees only its own rows...
    assert(xs(attached("run_a")) == Seq(1.0))
    assert(xs(attached("run_b")) == Seq(2.0))
    val asRunC = attached("run_c")
    assert(xs(asRunC).isEmpty)
    // ...unless includeAllRuns widens to the simulation
    assert(xs(asRunC, includeAllRuns = true) == Seq(1.0, 2.0))
  }

  test("durable watermarks only rise: a run sharing a directory never reuses a version") {
    val simName = s"sim_wm_${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = java.nio.file.Files.createTempDirectory("graft_wm").toString
    val pos = Seq(PosMeta)
    val hash = Archetype.hashOf(pos)
    def state(x: Double) = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(simName, "run_a", 1L, 0L, true, x, 0.0)),
      Archetype.schemaOf(pos))
    val a = World.make(spark, simName, "run_a").store
    a.ensureTable(pos)
    (1 to 20).foreach(i => a.upsert(hash, state(i.toDouble)))
    a.commitDelta(dir)
    assert(a.readManifest(dir, hash).get.maxV == 20L)

    // a fresh run_b store, whose counter is at 1, commits one spawn
    val b = World.make(spark, simName, "run_b")
    b.spawn(Position(5.0, 0.0))
    b.store.commitDelta(dir)
    assert(b.store.readManifest(dir, hash).get.maxV == 20L,
      "a writer with a lower counter must not pull maxV down")

    // a re-attached run_a store has no new rows: its commit publishes nothing
    val again = new ArchetypeStore(spark, simName, "run_a")
    again.attachDurable(pos, dir)
    val tip = again.readManifest(dir, hash).get.maxCommit
    again.commitDelta(dir)
    assert(again.readManifest(dir, hash).get.maxCommit == tip,
      "a commit with no new rows published a manifest")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$hash/commit=${tip + 1}")),
      "a commit with no new rows wrote a commit directory")

    // and its upsert outranks every committed version of the key
    again.upsert(hash, state(99.0))
    assert(again.resolved(hash).select("position__x").head().getDouble(0) == 99.0)
    again.commitDelta(dir)
    val fresh = new ArchetypeStore(spark, simName, "run_a")
    fresh.attachDurable(pos, dir)
    assert(fresh.resolved(hash).select("position__x").head().getDouble(0) == 99.0)
  }

  test("a store committing to two directories leaves each equal to its history") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_two_dirs")
    val (dirA, dirB) = (s"$tmp/a", s"$tmp/b")
    val world = World.make(spark, "sim_test", "run_two_dirs")
    world.addProcessor(MovementProcessor)
    world.spawn(Position(1.0, 1.0), Velocity(1.0, 0.0))
    world.step(0.5)
    world.store.commitDelta(dirA) // steps 0..1
    world.step(0.5)
    world.store.commitDelta(dirB) // a fresh directory: steps 0..2
    world.store.commitDelta(dirA) // the delta: step 2
    val hash = Archetype.hashOf(PosVel)
    assert(world.store.readManifest(dirB, hash).get.maxCommit == 0L,
      "a fresh directory numbers its commits from 0")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("entity_id", "step", "position__x").collect().map(_.toString).sorted.toSeq
    val want = rows(world.store.resolved(hash))
    assert(want.size == 3)
    Seq(dirA, dirB).foreach { d =>
      val s = new ArchetypeStore(spark, "sim_test", "run_two_dirs")
      s.attachDurable(PosVel, d)
      assert(rows(s.resolved(hash)) == want, s"$d re-attached")
    }
    // the watermark is the directory, however its path is spelled
    world.store.commitDelta(s"$tmp/b/../a/.")
    assert(spark.read.parquet(s"$dirA/$hash").filter(col("commit") === 2).count() == 0L)
  }

  test("commitDelta publishes only the archetypes with rows above the directory's watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skip").toString
    val world = World.make(spark, "sim_test", "run_skip", optimizeInterval = 0)
    world.addProcessor(MovementProcessor) // moves (Pos, Vel) only
    world.spawn(Position(1.0, 1.0), Velocity(1.0, 0.0))
    world.spawn(Position(5.0, 5.0))
    world.store.commitDelta(dir) // the first commit of both archetypes
    world.step(0.5)
    world.store.commitDelta(dir)
    val (moved, still) = (Archetype.hashOf(PosVel), Archetype.hashOf(Seq(PosMeta)))
    def commitDirs(h: String) = new java.io.File(s"$dir/$h").listFiles()
      .map(_.getName).filter(_.startsWith("commit=")).sorted.toSeq
    assert(commitDirs(moved) == Seq("commit=0", "commit=1"))
    assert(commitDirs(still) == Seq("commit=0"), "an archetype with no new rows was committed")
    assert(world.store.readManifest(dir, still).get.maxCommit == 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("entity_id", "step", "position__x").collect().map(_.toString).sorted.toSeq
    Seq(PosVel -> moved, Seq(PosMeta) -> still).foreach { case (metas, h) =>
      val s = new ArchetypeStore(spark, "sim_test", "run_skip")
      s.attachDurable(metas, dir)
      assert(rows(s.resolved(h)) == rows(world.store.resolved(h)), s"$h re-attached")
    }
  }

  test("a store attaching one archetype resumes its ids above every archetype in the directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ids").toString
    val world = World.make(spark, "sim_test", "run_ids", optimizeInterval = 0)
    world.spawn(Position(1.0, 1.0))
    world.spawn(Position(2.0, 2.0), Velocity(1.0, 0.0))
    world.store.commitDelta(dir)
    val e3 = world.spawn(Position(3.0, 3.0), Velocity(1.0, 0.0))
    world.store.commitDelta(dir) // publishes (Pos, Vel) only
    val s = new ArchetypeStore(spark, "sim_test", "run_ids")
    s.attachDurable(Seq(PosMeta), dir)
    assert(s.addEntity(Seq(Position(4.0, 4.0)), 2L) > e3,
      "a new id repeated a committed entity of another archetype")
  }

  test("an append whose column cannot take the archetype's type fails at the append") {
    val w = World.make(spark, "sim_test", "run_types", optimizeInterval = 0)
    w.spawnBatch(PosVel, posFrame(Seq(1L), 1.0)
      .withColumn("velocity__vx", lit(1.0)).withColumn("velocity__vy", lit(0.0)))
    val h = Archetype.hashOf(PosVel)
    val next = w.query(PosVel).values.head.withColumn("step", lit(1L))
    intercept[org.apache.spark.sql.AnalysisException](
      w.store.upsert(h, next.withColumn("position__x", struct(lit(1.0)))))
    // a column of a castable type takes the archetype's
    w.store.upsert(h, next.withColumn("position__x", lit(7)))
    assert(w.getHistory(PosVel).values.head.orderBy("step")
      .select("position__x").collect().map(_.getDouble(0)).toSeq == Seq(1.0, 7.0))
  }

  test("durable incremental commits: append-only deltas, re-attach, compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_durable").toString
    val world = World.make(spark, "sim_test", "run_durable")
    world.addProcessor(MovementProcessor)
    world.spawn(Position(1.0, 1.0), Velocity(1.0, 0.0))
    (1 to 2).foreach(_ => world.step(0.5))
    world.store.commitDelta(dir) // commit 0: steps 0..2

    val hash = Archetype.hashOf(PosVel)
    def commitDirs() = new java.io.File(s"$dir/$hash").listFiles()
      .filter(_.getName.startsWith("commit=")).map(_.getName).sorted.toSeq
    def filesUnder(c: String) = {
      val base = java.nio.file.Paths.get(s"$dir/$hash/$c")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(_.toString).toSet
    }
    assert(commitDirs() == Seq("commit=0"))
    val commit0Files = filesUnder("commit=0")

    (1 to 2).foreach(_ => world.step(0.5))
    world.store.commitDelta(dir) // commit 1: ONLY steps 3..4 (the delta)
    assert(commitDirs() == Seq("commit=0", "commit=1"))
    assert(filesUnder("commit=0") == commit0Files,
      "an incremental commit must not rewrite earlier commits")
    // the delta commit holds just the two new frames
    val delta = spark.read.parquet(s"$dir/$hash").filter(col("commit") === 1)
    assert(delta.select("step").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 4L))

    // fresh store attaches the durable log; latest-wins state holds
    val store2 = new ArchetypeStore(spark, "sim_test", "run_durable")
    store2.attachDurable(PosVel, dir)
    val df = store2.resolved(Archetype.hashOf(PosVel))
    assert(df.count() == 5L, "steps 0..4 visible after re-attach")
    assert(df.filter(col("step") === 4).head().getAs[Double]("position__x") == 3.0)

    // upserts continue past the durable high-water mark and re-commit
    (1 to 1).foreach { _ =>
      val w2 = new World2Harness(store2); w2.stepOnce()
    }
    store2.commitDelta(dir)
    assert(commitDirs() == Seq("commit=0", "commit=1", "commit=2"))

    // compaction folds live commits into a new base; state unchanged
    store2.compactDurable(dir)
    val store3 = new ArchetypeStore(spark, "sim_test", "run_durable")
    store3.attachDurable(PosVel, dir)
    val compacted = store3.resolved(Archetype.hashOf(PosVel))
    assert(compacted.count() == 6L, "steps 0..5 after compaction")
    assert(compacted.filter(col("step") === 5).head()
      .getAs[Double]("position__x") == 3.5)
  }

  test("durable commits are atomic: partial unmanifested data is invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val world = World.make(spark, "sim_test", "run_crash")
    world.addProcessor(MovementProcessor)
    world.spawn(Position(1.0, 1.0), Velocity(1.0, 0.0))
    (1 to 2).foreach(_ => world.step(0.5))
    world.store.commitDelta(dir)
    val hash = Archetype.hashOf(PosVel)
    val m = world.store.readManifest(dir, hash).get
    assert(m.maxCommit == 0L && m.base == 0L)

    // Simulate a crash mid-publish: a commit directory full of torn
    // garbage exists but the manifest was never advanced to it.
    val orphan = java.nio.file.Paths.get(
      s"$dir/$hash/commit=${m.maxCommit + 1}/simulation=sim_test/run=run_crash")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-torn.parquet"),
      Array.fill[Byte](64)(0x5a))
    // ...and a torn staging attempt that never got renamed
    val staged = java.nio.file.Paths.get(
      s"$dir/$hash/_staging/dead-attempt/simulation=sim_test/run=run_crash")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("part-torn.parquet"),
      Array.fill[Byte](32)(0x5a))

    // attach sees only the manifest's range; the torn files are never read
    val store2 = new ArchetypeStore(spark, "sim_test", "run_crash")
    store2.attachDurable(PosVel, dir)
    val df = store2.resolved(hash)
    assert(df.count() == 3L, "exactly the committed steps 0..2 visible")
    assert(df.agg(max(col("step"))).head().getLong(0) == 2L)

    // a retried commit reclaims the orphan dir and publishes cleanly
    val w2 = new World2Harness(store2); w2.stepOnce()
    store2.commitDelta(dir)
    val m2 = store2.readManifest(dir, hash).get
    assert(m2.maxCommit == 1L)
    val store3 = new ArchetypeStore(spark, "sim_test", "run_crash")
    store3.attachDurable(PosVel, dir)
    assert(store3.resolved(hash).count() == 4L, "steps 0..3 after retry")
    // watermark recovery is manifest-only: counters match without a scan
    assert(m2.maxV > m.maxV)
  }

  test("time travel: versioned manifests make every commit attachable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tt").toString
    val world = World.make(spark, "sim_test", "run_tt")
    world.addProcessor(MovementProcessor)
    world.spawn(Position(1.0, 1.0), Velocity(1.0, 0.0))
    world.store.commitDelta(dir) // v0: step 0 only
    (1 to 2).foreach(_ => world.step(0.5))
    world.store.commitDelta(dir) // v1: steps 1..2 appended
    val hash = Archetype.hashOf(PosVel)

    val s0 = new ArchetypeStore(spark, "sim_test", "run_tt")
    s0.attachDurable(PosVel, dir, atCommit = Some(0L))
    assert(s0.resolved(hash).agg(max(col("step"))).head().getLong(0) == 0L,
      "v0 attach must not see later commits")
    val sTip = new ArchetypeStore(spark, "sim_test", "run_tt")
    sTip.attachDurable(PosVel, dir)
    assert(sTip.resolved(hash).agg(max(col("step"))).head().getLong(0) == 2L)

    // attaching a never-written version fails with a clear error
    val e = intercept[RuntimeException] {
      val sx = new ArchetypeStore(spark, "sim_test", "run_tt")
      sx.attachDurable(PosVel, dir, atCommit = Some(9L))
    }
    assert(e.getMessage.contains("version 9"))

    // a write from a time-traveled store must NOT clobber the newer
    // commit: it lands on top of the current tip, and its step-1 row
    // (x = 1 + 1·2.0) outranks the tip's (x = 1 + 1·0.5)
    val tipV = world.store.readManifest(dir, hash).get.maxV
    val w0 = new World2Harness(s0); w0.stepOnce(dt = 2.0)
    s0.commitDelta(dir)
    val m = s0.readManifest(dir, hash).get
    assert(m.maxCommit == 2L, "branch write appended past the tip")
    val branchV = spark.read.parquet(s"$dir/$hash").filter(col("commit") === 2)
      .agg(min(col(ArchetypeStore.VersionCol))).head().getLong(0)
    assert(branchV > tipV, s"branch write's _v $branchV must exceed the tip's $tipV")
    val sAfter = new ArchetypeStore(spark, "sim_test", "run_tt")
    sAfter.attachDurable(PosVel, dir)
    // steps 0..2 from the original line still present (not destroyed)
    val after = sAfter.resolved(hash)
    assert(after.count() == 3L)
    assert(after.filter(col("step") === 1).head().getAs[Double]("position__x") == 3.0,
      "the branch write's step-1 value wins")
  }

  test("durable writers take turns: held lock blocks, stale lock reclaims") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val world = World.make(spark, "sim_test", "run_lock")
    world.spawn(Position(1.0, 1.0), Velocity(1.0, 0.0))
    world.store.lockWaitMs = 300

    // a fresh (recent) lock held by "another writer" blocks the commit
    val lock = java.nio.file.Paths.get(s"$dir/_lock")
    java.nio.file.Files.createDirectories(lock.getParent)
    java.nio.file.Files.createFile(lock)
    val e = intercept[IllegalStateException] { world.store.commitDelta(dir) }
    assert(e.getMessage.contains("lock"))

    // a stale lock (dead holder) is reclaimed and the commit proceeds
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000L))
    world.store.commitDelta(dir)
    val hash = Archetype.hashOf(PosVel)
    assert(world.store.readManifest(dir, hash).exists(_.maxCommit == 0L))
    assert(!java.nio.file.Files.exists(lock), "lock released after commit")
  }

  test("vacuum removes commits below base; tip state and guards survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val world = World.make(spark, "sim_test", "run_vac")
    world.addProcessor(MovementProcessor)
    world.spawn(Position(1.0, 1.0), Velocity(1.0, 0.0))
    world.store.commitDelta(dir) // commit 0
    (1 to 2).foreach(_ => world.step(0.5))
    world.store.commitDelta(dir) // commit 1
    world.store.compactDurable(dir) // commit 2, base = 2
    // stage a dead attempt a crashed writer would leave behind
    val hash = Archetype.hashOf(PosVel)
    val dead = java.nio.file.Paths.get(s"$dir/$hash/_staging/dead")
    java.nio.file.Files.createDirectories(dead)
    java.nio.file.Files.write(dead.resolve("torn.parquet"), Array[Byte](1, 2))

    world.store.vacuumDurable(dir)
    val names = new java.io.File(s"$dir/$hash").listFiles().map(_.getName).toSet
    assert(names.filter(_.startsWith("commit=")) == Set("commit=2"),
      s"dead commits must be gone, got $names")
    assert(names.intersect(Set("_manifest.v0", "_manifest.v1")).isEmpty,
      "pre-base manifest snapshots removed")
    assert(names.contains("_manifest.v2") && names.contains("_manifest"))
    assert(!names.contains("_staging"), "staging leftovers removed")

    // tip attach unaffected; pre-base time travel now correctly errors
    val tip = new ArchetypeStore(spark, "sim_test", "run_vac")
    tip.attachDurable(PosVel, dir)
    assert(tip.resolved(hash).count() == 3L, "steps 0..2 intact after vacuum")
    intercept[RuntimeException] {
      val sx = new ArchetypeStore(spark, "sim_test", "run_vac")
      sx.attachDurable(PosVel, dir, atCommit = Some(0L))
    }
  }

  /** Minimal step driver over an attached store (World wires its own
    * fresh store, so reuse querier/updater machinery directly).
    */
  private final class World2Harness(store: ArchetypeStore) {
    private val querier = new QueryManager(store)
    private val updater = new UpdateManager(store)
    private val system = new SimpleSystem(querier)
    system.addProcessor(MovementProcessor)
    def stepOnce(dt: Double = 0.5): Unit = {
      val lastStep = store.resolved(Archetype.hashOf(PosVel))
        .agg(max(col("step"))).head().getLong(0)
      val updates = system.execute(lastStep, dt)
      updater.collect(updates, lastStep + 1)
    }
  }

  test("migration: add component moves matching entities, values carry over") {
    val world = World.make(spark, "sim_test", "run_mig1")
    val e1 = world.spawn(Position(1.0, 2.0))
    val e2 = world.spawn(Position(3.0, 4.0))
    world.migrateWhere(Seq(PosMeta), PosVel, col("entity_id") === e1,
      defaults = Map(
        "velocity__vx" -> (col("position__x") * 10), // defaults can read source cols
        "velocity__vy" -> lit(-1.0)))
    val posVel = world.query(PosVel).values.head.collect()
    assert(posVel.length == 1)
    assert(posVel.head.getAs[Long]("entity_id") == e1)
    assert(posVel.head.getAs[Double]("position__x") == 1.0)
    assert(posVel.head.getAs[Double]("velocity__vx") == 10.0)
    // source archetype keeps only the unmigrated entity
    val posOnlyHash = Archetype.hashOf(Seq(PosMeta))
    val left = world.query(Seq(PosMeta))(posOnlyHash).collect()
    assert(left.map(_.getAs[Long]("entity_id")).toSeq == Seq(e2))
    // subset query over Position sees both archetypes, each entity once
    val all = world.query(Seq(PosMeta)).values.map(_.count()).sum
    assert(all == 2L)
  }

  test("migration: remove component drops columns, migrated entity steps on") {
    val world = World.make(spark, "sim_test", "run_mig2")
    world.addProcessor(MovementProcessor)
    val e1 = world.spawn(Position(0.0, 0.0), Velocity(2.0, 2.0))
    val e2 = world.spawn(Position(5.0, 5.0), Velocity(1.0, 1.0))
    world.step(0.5) // both move
    world.migrateWhere(PosVel, Seq(PosMeta), col("entity_id") === e2)
    world.step(0.5) // only e1 still has Velocity and moves
    val moving = world.query(PosVel).values.head.collect()
    assert(moving.map(_.getAs[Long]("entity_id")).toSeq == Seq(e1))
    assert(moving.head.getAs[Double]("position__x") == 2.0)
    // e2 froze at its migrated frame (latest step carried over)
    val posOnlyHash = Archetype.hashOf(Seq(PosMeta))
    val frozen = world.query(Seq(PosMeta), step = Some(1L))(posOnlyHash).collect()
    assert(frozen.map(_.getAs[Long]("entity_id")).toSeq == Seq(e2))
    assert(frozen.head.getAs[Double]("position__x") == 5.5)
    assert(!frozen.head.schema.fieldNames.contains("velocity__vx"))
  }

  test("migrate evaluates cond on resolved state, never on stale versions") {
    val world = World.make(spark, "sim_test", "run_mig3")
    val e1 = world.spawn(Position(100.0, 0.0))
    val posHash = Archetype.hashOf(Seq(PosMeta))
    // upsert the SAME (entity, step) frame to x=1 — the stale x=100
    // version still matches cond, the current state does not
    world.store.upsert(posHash,
      world.store.resolved(posHash).withColumn("position__x", lit(1.0)))
    world.migrateWhere(Seq(PosMeta), PosVel, col("position__x") > 50,
      defaults = Map(
        "velocity__vx" -> lit(0.0), "velocity__vy" -> lit(0.0)))
    // current x=1 fails cond: the entity must stay live in the source
    // archetype (the stale version must not tombstone it) and must not
    // have migrated
    val left = world.query(Seq(PosMeta))(posHash).collect()
    assert(left.map(_.getAs[Long]("entity_id")).toSeq == Seq(e1))
    assert(left.head.getAs[Double]("position__x") == 1.0)
    assert(world.query(PosVel).values.map(_.count()).sum == 0L)
  }

  test("migrate decides movers by the latest frame, not the latest matching frame") {
    val world = World.make(spark, "sim_test", "run_mig4")
    val e1 = world.spawn(Position(100.0, 0.0))
    val posHash = Archetype.hashOf(Seq(PosMeta))
    // a NEWER frame at step 5 whose state fails cond — the entity's
    // current state must not migrate on the strength of the older frame
    world.store.upsert(posHash,
      world.store.resolved(posHash)
        .withColumn("step", lit(5L)).withColumn("position__x", lit(1.0)))
    world.migrateWhere(Seq(PosMeta), PosVel, col("position__x") > 50,
      defaults = Map(
        "velocity__vx" -> lit(0.0), "velocity__vy" -> lit(0.0)))
    val posVelHash = Archetype.hashOf(PosVel)
    assert(world.store.resolved(posVelHash).filter(col("is_active")).count() == 0L,
      "entity whose latest frame fails cond must not migrate")
    // the latest frame stays live in the source; the old matching frame
    // is tombstoned (it matched on resolved state)
    val live = world.store.resolved(posHash).filter(col("is_active")).collect()
    assert(live.map(r => (r.getAs[Long]("entity_id"), r.getAs[Long]("step"))).toSeq
      == Seq((e1, 5L)))
    assert(live.head.getAs[Double]("position__x") == 1.0)
  }

  test("entity remains deletable after removeComponent") {
    val world = World.make(spark, "sim_test", "run_rm2")
    val e1 = world.spawn(Position(1.0, 1.0), Velocity(2.0, 2.0))
    world.removeComponent(e1, ComponentMeta.of[Velocity])
    world.despawn(e1) // must act on the NEW archetype, not silently no-op
    assert(world.query(Seq(PosMeta)).values.map(_.count()).sum == 0L)
  }

  test("removeComponent + entities-filtered query (reference parity)") {
    val world = World.make(spark, "sim_test", "run_rm")
    val e1 = world.spawn(Position(1.0, 1.0), Velocity(3.0, 3.0))
    val e2 = world.spawn(Position(2.0, 2.0), Velocity(4.0, 4.0))
    val e3 = world.spawn(Position(9.0, 9.0))
    // entities= filter restricts the fan-out to the requested ids
    val only2 = world.query(Seq(PosMeta), entities = Some(Seq(e2)))
      .values.map(_.count()).sum
    assert(only2 == 1L)
    world.removeComponent(e1, ComponentMeta.of[Velocity])
    // e1 left the (Pos, Vel) archetype…
    val posVel = world.query(PosVel).values.head.collect()
    assert(posVel.map(_.getAs[Long]("entity_id")).toSeq == Seq(e2))
    // …and now lives Pos-only next to e3, position preserved
    val posOnlyHash = Archetype.hashOf(Seq(PosMeta))
    val posOnly = world.query(Seq(PosMeta))(posOnlyHash)
      .orderBy("entity_id").collect()
    assert(posOnly.map(_.getAs[Long]("entity_id")).toSeq == Seq(e1, e3))
    assert(posOnly.head.getAs[Double]("position__x") == 1.0)
    // removing the last remaining component is refused
    val ex = intercept[RuntimeException] {
      world.removeComponent(e3, PosMeta)
    }
    assert(ex.getMessage.contains("another component to keep"))
  }

  test("durable entity bucketing: point trajectory reads only its bucket") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_bkt_${java.util.UUID.randomUUID().toString.take(8)}"
    val store = new ArchetypeStore(spark, "sim_test", "run_bkt",
      entityBuckets = Some(8))
    store.ensureTable(PosVel)
    def frame(step: Long) = spark.range(100).select(
      col("id").as("entity_id"),
      (col("id") * 2 + step).cast("double").as("position__x"),
      lit(0.0).as("position__y"),
      lit(1.0).as("velocity__vx"), lit(0.0).as("velocity__vy"))
    store.spawnBatch(PosVel, frame(0), 0L)
    store.spawnBatch(PosVel, frame(1), 1L)
    store.commitDelta(tmp)
    val traj = store.entityTrajectoryDurable(PosVel, tmp, 5L)
    // the probe is a partition filter on bucket, not a data filter
    val plan = traj.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("bucket#"),
      s"expected bucket partition pruning in:\n${plan.take(1500)}")
    // strongest form: corrupt every parquet file OUTSIDE bucket=5 —
    // a pruned read must never open them
    Files.walk(Paths.get(tmp)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("bucket=5"))
      .foreach(p => Files.write(p, "not parquet".getBytes))
    val rows = store.entityTrajectoryDurable(PosVel, tmp, 5L)
      .select(col("step"), col("position__x"))
      .orderBy("step").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((0L, 10.0), (1L, 11.0)),
      s"bucketed point read wrong/scanned other buckets: $rows")
    // layout is part of the contract: an unbucketed store cannot attach
    val plain = new ArchetypeStore(spark, "sim_test", "run_bkt")
    val e = intercept[IllegalArgumentException](
      plain.attachDurable(PosVel, tmp))
    assert(e.getMessage.contains("bucket layout"))
  }

  test("processor DAG: archetype-disjoint processors share a stage, conflicting split") {
    val world = World.make(spark, "sim_test", "run_dag")
    world.spawn(Position(0.0, 0.0), Velocity(1.0, 0.0))
    val heatId = world.store.ensureTable(Seq(ComponentMeta.of[Heat]))
    world.store.spawnBatch(Seq(ComponentMeta.of[Heat]),
      spark.range(1).select((col("id") + 100L).as("entity_id"),
        lit(10.0).as("heat__h")), 0L)
    object MoveProc extends Processor {
      override val priority = 1
      val components = PosVel
      def process(df: org.apache.spark.sql.DataFrame, dt: Double) =
        df.withColumn("position__x", col("position__x") + col("velocity__vx") * dt)
    }
    object HeatProc extends Processor {
      override val priority = 2
      val components = Seq(ComponentMeta.of[Heat])
      def process(df: org.apache.spark.sql.DataFrame, dt: Double) =
        df.withColumn("heat__h", col("heat__h") * 0.5)
    }
    object DragProc extends Processor { // conflicts with MoveProc's archetype
      override val priority = 3
      val components = Seq(ComponentMeta.of[Velocity])
      def process(df: org.apache.spark.sql.DataFrame, dt: Double) =
        df.withColumn("velocity__vx", col("velocity__vx") * 0.5)
    }
    world.addProcessor(MoveProc)
    world.addProcessor(HeatProc)
    world.addProcessor(DragProc)
    // Move and Heat touch disjoint archetypes -> one parallel stage;
    // Drag subset-matches the (Pos, Vel) archetype Move writes -> new stage
    val st = world.stages()
    def names(s: Seq[Seq[Processor]]) =
      s.map(_.map(_.getClass.getSimpleName.replaceAll("[$\\d]", "")))
    assert(names(st) == Seq(Seq("MoveProc", "HeatProc"), Seq("DragProc")),
      s"got stages ${names(st)}")
    assert(heatId.nonEmpty)
  }

  test("stepEager: concurrent per-archetype materialization equals step()") {
    def build(run: String): World = {
      val world = World.make(spark, "sim_test", run, optimizeInterval = 0)
      world.addProcessor(MovementProcessor)
      world.spawn(Position(0.0, 0.0), Velocity(1.0, 2.0))
      world.spawn(Position(10.0, 10.0), Velocity(-1.0, 0.5))
      val heatMeta = ComponentMeta.of[Heat]
      world.store.ensureTable(Seq(heatMeta))
      world.store.spawnBatch(Seq(heatMeta),
        spark.range(3).select((col("id") + 50L).as("entity_id"),
          (col("id") * 2).cast("double").as("heat__h")), 0L)
      world.addProcessor(new Processor {
        override val priority = 2
        val components = Seq(heatMeta)
        def process(df: org.apache.spark.sql.DataFrame, dt: Double) =
          df.withColumn("heat__h", col("heat__h") + lit(1.0))
      })
      world
    }
    val lazyW = build("run_lazy"); (1 to 3).foreach(_ => lazyW.step(0.5))
    val eagerW = build("run_eager"); (1 to 3).foreach(_ => eagerW.stepEager(0.5))
    def state(w: World) = (
      w.query(PosVel).values.head
        .select(col("entity_id"), col("position__x"), col("position__y"))
        .orderBy("entity_id").collect().toSeq,
      w.query(Seq(ComponentMeta.of[Heat])).values.head
        .select(col("entity_id"), col("heat__h"))
        .orderBy("entity_id").collect().toSeq)
    assert(state(eagerW) == state(lazyW))
  }

  test("flocking processor: grid neighbor steer equals brute-force replay") {
    import spark.implicits._
    val world = World.make(spark, "sim_test", "run_flock_spec")
    world.addProcessor(EcsQueries.FlockingProcessor(10.0))
    // a tight cluster of 4 + one isolated entity
    val seed = Seq(
      (1L, 0.0, 0.0, 1.0, 0.0), (2L, 3.0, 0.0, 0.0, 1.0),
      (3L, 0.0, 4.0, -1.0, 0.0), (4L, 3.0, 4.0, 0.0, -1.0),
      (5L, 1000.0, 1000.0, 2.0, 2.0))
      .toDF("entity_id", "position__x", "position__y", "velocity__vx", "velocity__vy")
    world.spawnBatch(EcsQueries.PosVel, seed)
    world.step(0.5)
    val got = world.query(EcsQueries.PosVel)(EcsQueries.PosVelHash)
      .select(col("entity_id"), col("position__x"), col("position__y"),
        col("velocity__vx"), col("velocity__vy"))
      .orderBy("entity_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // brute-force replay on the driver
    val pts = Seq(
      (1L, 0.0, 0.0, 1.0, 0.0), (2L, 3.0, 0.0, 0.0, 1.0),
      (3L, 0.0, 4.0, -1.0, 0.0), (4L, 3.0, 4.0, 0.0, -1.0),
      (5L, 1000.0, 1000.0, 2.0, 2.0))
    val expect = pts.map { case (id, x, y, vx, vy) =>
      val nb = pts.filter { case (oid, ox, oy, _, _) =>
        oid != id && (x - ox) * (x - ox) + (y - oy) * (y - oy) <= 100.0 }
      val (nvx, nvy) = if (nb.isEmpty) (vx, vy) else {
        val n = nb.size
        (vx + 0.25 * (nb.map(_._2).sum / n - x) + 0.5 * (nb.map(_._4).sum / n - vx),
         vy + 0.25 * (nb.map(_._3).sum / n - y) + 0.5 * (nb.map(_._5).sum / n - vy))
      }
      (id, x + nvx * 0.5, y + nvy * 0.5, nvx, nvy)
    }
    assert(got.toSeq == expect,
      s"grid flocking diverged from brute force:\n got $got\n exp $expect")
    // the isolated entity just moved with its unchanged velocity
    assert(got(4) == (5L, 1001.0, 1001.0, 2.0, 2.0))
  }

  test("processor chaining: later processors see earlier output in-step") {
    val world = World.make(spark, "sim_test", "run_chain")
    object PlusOne extends Processor {
      override val priority = 1
      val components = Seq(PosMeta)
      def process(df: org.apache.spark.sql.DataFrame, dt: Double) =
        df.withColumn("position__x", col("position__x") + 1.0)
    }
    object TimesTwo extends Processor {
      override val priority = 2
      val components = Seq(PosMeta)
      def process(df: org.apache.spark.sql.DataFrame, dt: Double) =
        df.withColumn("position__x", col("position__x") * 2.0)
    }
    world.addProcessor(TimesTwo)
    world.addProcessor(PlusOne)
    world.spawn(Position(3.0, 0.0))
    world.step(1.0)
    val x = world.query(Seq(PosMeta)).values.head.head().getAs[Double]("position__x")
    assert(x == 8.0, "priority order: (3+1)*2, not 3*2+1")
  }

  /** Window nodes in a read's optimized plan. */
  private def windowCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size

  /** The partition columns of each Window in a read's optimized plan. */
  private def windowPartitions(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.flatMap(_.references.map(_.name))
    }

  /** `resolved`, `getHistory` and the query `World.query` runs, over one
    * archetype of `store`.
    */
  private def reads(store: ArchetypeStore, metas: Seq[ComponentMeta],
      step: Long): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val hash = Archetype.hashOf(metas)
    Seq("resolved" -> store.resolved(hash),
      "getHistory" -> store.getHistory(metas)(hash),
      "query" -> new QueryManager(store).query(metas, Seq(step))(hash))
  }

  private def posFrame(ids: Seq[Long], x: Double) = {
    import spark.implicits._
    ids.map(i => (i, x, 0.0)).toDF("entity_id", "position__x", "position__y")
  }

  private def movers(ids: Seq[Long], x: Double) =
    posFrame(ids, x).withColumn("velocity__vx", lit(1.0)).withColumn("velocity__vy", lit(0.0))

  private def assertWindows(label: String, store: ArchetypeStore,
      metas: Seq[ComponentMeta], step: Long, expected: Boolean): Unit =
    reads(store, metas, step).foreach { case (read, df) =>
      assert((windowCount(df) > 0) == expected,
        s"$label / $read: expected ${if (expected) "a" else "no"} Window in\n" +
          df.queryExecution.optimizedPlan)
    }

  test("reads skip the latest-wins window while no (entity_id, step) key can repeat") {
    val pos = Seq(PosMeta)
    val batch = World.make(spark, "sim_test", "run_fast_batch", optimizeInterval = 0)
    batch.spawnBatch(pos, posFrame(Seq(1L, 2L), 1.0))
    assertWindows("spawnBatch", batch.store, pos, 0L, expected = false)

    val single = World.make(spark, "sim_test", "run_fast_spawn", optimizeInterval = 0)
    single.spawn(Position(1.0, 0.0)); single.spawnAt(3L, Position(2.0, 0.0))
    single.store.flush()
    assertWindows("spawn + flush", single.store, pos, 0L, expected = false)

    Seq[(String, World => Unit)](
      "step" -> (_.step(0.5)), "stepEager" -> (_.stepEager(0.5))
    ).foreach { case (label, stepOnce) =>
      val w = World.make(spark, "sim_test", s"run_fast_$label", optimizeInterval = 2)
      w.addProcessor(MovementProcessor)
      w.spawnBatch(PosVel, movers(Seq(1L, 2L), 1.0))
      (1 to 3).foreach(_ => stepOnce(w))
      assertWindows(label, w.store, PosVel, w.currentStep, expected = false)
      assert(w.query(PosVel).values.head.orderBy("entity_id")
        .select("position__x").collect().map(_.getDouble(0)).toSeq == Seq(2.5, 2.5))
    }
  }

  test("reads fall back to the latest-wins window once an append may rewrite a key") {
    val pos = Seq(PosMeta)
    def seeded(run: String): World = {
      val w = World.make(spark, "sim_test", s"run_fb_$run", optimizeInterval = 0)
      w.spawnBatch(pos, posFrame(Seq(1L, 2L), 1.0))
      w
    }
    val posHash = Archetype.hashOf(pos)

    val up = seeded("upsert")
    up.store.upsert(posHash, up.store.resolved(posHash).withColumn("step", lit(5L)))
    assertWindows("step-less upsert", up.store, pos, 0L, expected = true)

    val app = seeded("append")
    app.store.appendRows(posHash, app.store.resolved(posHash).withColumn("step", lit(5L)))
    assertWindows("appendRows", app.store, pos, 0L, expected = true)

    val dw = seeded("despawn_where")
    dw.spawnBatch(PosVel, movers(Seq(7L), 1.0))
    dw.store.despawnWhere(posHash, col("entity_id") === 1L)
    assertWindows("despawnWhere", dw.store, pos, 0L, expected = true)
    assertWindows("despawnWhere, other archetype", dw.store, PosVel, 0L, expected = false)

    val rm = World.make(spark, "sim_test", "run_fb_remove", optimizeInterval = 0)
    rm.despawn(rm.spawn(Position(1.0, 0.0)))
    assertWindows("removeEntity", rm.store, pos, 0L, expected = true)

    val mig = seeded("migrate")
    mig.migrateWhere(pos, PosVel, col("entity_id") === 1L,
      defaults = Map("velocity__vx" -> lit(0.0), "velocity__vy" -> lit(0.0)))
    assertWindows("migrate source", mig.store, pos, 0L, expected = true)
    // the target's one part holds the movers, at most one row per key:
    // its reads plan migrate's own window, which picks each entity's
    // latest frame (partitioned by entity_id), and no latest-wins window
    reads(mig.store, PosVel, 0L).foreach { case (read, df) =>
      val partitions = windowPartitions(df)
      assert(partitions == Seq(Seq("entity_id")), s"migrate target / $read: $partitions")
    }
    assert(mig.query(PosVel)(Archetype.hashOf(PosVel))
      .select("entity_id", "position__x", "velocity__vx").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq == Seq((1L, 1.0, 0.0)))

    // a late spawnBatch at a held step, as ecs_component_diff does
    val late = seeded("late_batch")
    late.spawnBatch(pos, posFrame(Seq(3L), 4.0))
    assertWindows("spawnBatch at a held step", late.store, pos, 0L, expected = true)

    // a counter id (1) may collide with a spawnBatch id: latest wins
    val clash = seeded("spawn_clash")
    assert(clash.spawn(Position(9.0, 0.0)) == 1L)
    assertWindows("spawn at a held step", clash.store, pos, 0L, expected = true)
    assert(clash.query(pos)(posHash).orderBy("entity_id")
      .select("position__x").collect().map(_.getDouble(0)).toSeq == Seq(9.0, 1.0))

    val dir = java.nio.file.Files.createTempDirectory("graft_fb").toString
    seeded("attach").store.commitDelta(dir)
    val durable = new ArchetypeStore(spark, "sim_test", "run_fb_attach")
    durable.attachDurable(pos, dir)
    assertWindows("attachDurable", durable, pos, 0L, expected = true)
  }

  /** Whether the query `World.query` runs on one archetype at `step`
    * plans a Window.
    */
  private def queryWindowed(w: World, metas: Seq[ComponentMeta], step: Long): Boolean =
    windowCount(w.query(metas, Some(step))(Archetype.hashOf(metas))) > 0

  private def liveXs(w: World, metas: Seq[ComponentMeta], step: Long): Seq[(Long, Double)] =
    w.query(metas, Some(step))(Archetype.hashOf(metas)).select("entity_id", "position__x")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  // These tests step with stepEager: it checkpoints the step's frame,
  // so a read's plan holds only the windows the read itself adds. A
  // World.step frame carries in its lineage the window of the step-0
  // read that the processor transformed.

  test("a late spawnBatch at a held step windows reads at that step only") {
    val w = World.make(spark, "sim_test", "run_tag_late", optimizeInterval = 0)
    w.addProcessor(MovementProcessor)
    w.spawnBatch(PosVel, movers(Seq(1L, 2L), 1.0))
    w.spawnBatch(PosVel, movers(Seq(3L), 4.0))
    w.stepEager(0.5)
    assert(!queryWindowed(w, PosVel, 1L), "step 1 was written by one append")
    assert(queryWindowed(w, PosVel, 0L), "two appends hold step 0")
    assert(liveXs(w, PosVel, 1L) == Seq((1L, 1.5), (2L, 1.5), (3L, 4.5)))
  }

  test("despawnWhere windows the steps the archetype held, not the steps after it") {
    val w = World.make(spark, "sim_test", "run_tag_despawn", optimizeInterval = 0)
    w.addProcessor(MovementProcessor)
    w.spawnBatch(PosVel, movers(Seq(1L, 2L, 3L), 1.0))
    w.despawnWhere(PosVel, col("entity_id") === 2L)
    w.stepEager(0.5)
    assert(!queryWindowed(w, PosVel, 1L))
    assert(liveXs(w, PosVel, 1L) == Seq((1L, 1.5), (3L, 1.5)))
    assert(liveXs(w, PosVel, 0L) == Seq((1L, 1.0), (3L, 1.0)))
  }

  test("optimize() resolves a log that may repeat a key: its reads skip the window") {
    val pos = Seq(PosMeta)
    val w = World.make(spark, "sim_test", "run_tag_optimize", optimizeInterval = 0)
    w.spawnBatch(pos, posFrame(Seq(1L, 2L, 3L), 1.0))
    w.despawnWhere(pos, col("entity_id") === 1L)
    def history = w.getHistory(pos)(Archetype.hashOf(pos))
      .select("entity_id", "step", "position__x", "is_active").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq.sorted
    val before = history
    assert(before.map(_._4) == Seq(false, true, true))
    w.store.optimize()
    assertWindows("despawnWhere, optimize", w.store, pos, 0L, expected = false)
    assert(history == before)
    assert(liveXs(w, pos, 0L) == Seq((2L, 1.0), (3L, 1.0)))
  }

  test("World.despawn at a step windows reads at that step only") {
    val w = World.make(spark, "sim_test", "run_tag_remove", optimizeInterval = 0)
    w.addProcessor(MovementProcessor)
    w.spawnBatch(PosVel, movers(Seq(1L, 2L), 1.0))
    w.step(0.5); w.step(0.5)
    w.despawn(1L, Some(1L))
    assert(!queryWindowed(w, PosVel, 0L) && !queryWindowed(w, PosVel, 2L))
    assert(queryWindowed(w, PosVel, 1L))
    assert(liveXs(w, PosVel, 1L) == Seq((2L, 1.5)))
    assert(liveXs(w, PosVel, 2L) == Seq((1L, 2.0), (2L, 2.0)))
  }

  test("despawn removes an entity that arrived by spawnBatch") {
    val pos = Seq(PosMeta)
    val w = World.make(spark, "sim_test", "run_despawn_batch")
    w.spawnBatch(pos, posFrame(Seq(1L, 2L), 1.0))
    w.despawn(1L)
    assert(liveXs(w, pos, 0L) == Seq((2L, 1.0)))
  }

  test("despawn removes an entity moved by migrateWhere") {
    val pos = Seq(PosMeta)
    val w = World.make(spark, "sim_test", "run_despawn_migrated")
    w.spawnBatch(pos, posFrame(Seq(1L, 2L), 1.0))
    w.migrateWhere(pos, PosVel, col("entity_id") === 1L,
      defaults = Map("velocity__vx" -> lit(0.0), "velocity__vy" -> lit(0.0)))
    assert(liveXs(w, PosVel, 0L) == Seq((1L, 1.0)))
    w.despawn(1L)
    assert(liveXs(w, PosVel, 0L).isEmpty)
    assert(liveXs(w, pos, 0L) == Seq((2L, 1.0)))
  }

  /** Nodes in a DataFrame's analyzed plan. */
  private def planNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case n => n }.size

  test("a step's query plans only its frame: plan size grows at most linearly in the step") {
    // without compaction, step k's frame is a chain of k processor
    // applications back to the spawn; a query that plans the whole
    // append log instead doubles each step (the log's plan holds the
    // previous log twice: as itself and under the new frame)
    val w = World.make(spark, "sim_test", "run_plan_linear", optimizeInterval = 0)
    w.addProcessor(MovementProcessor)
    w.spawnBatch(PosVel, posFrame(Seq(1L, 2L), 1.0)
      .withColumn("velocity__vx", lit(1.0)).withColumn("velocity__vy", lit(0.0)))
    val nodes = (0 to 8).map { k =>
      if (k > 0) w.step(0.5)
      planNodes(w.query(PosVel).values.head)
    }
    info(s"World.query analyzed-plan nodes at steps 0..8: ${nodes.mkString(", ")}")
    val (a, b) = (10, 16)
    nodes.zipWithIndex.foreach { case (n, k) =>
      assert(n <= a * k + b, s"step $k: $n plan nodes > ${a}·$k + $b; all: $nodes")
    }
    assert(w.query(PosVel).values.head.orderBy("entity_id")
      .select("position__x").collect().map(_.getDouble(0)).toSeq == Seq(5.0, 5.0))
  }

  test("k appends read back as one n-ary union of k + 1 parts, with no empty base part") {
    val w = World.make(spark, "sim_test", "run_one_union", optimizeInterval = 0)
    w.addProcessor(MovementProcessor)
    w.spawnBatch(PosVel, posFrame(Seq(1L, 2L), 1.0)
      .withColumn("velocity__vx", lit(1.0)).withColumn("velocity__vy", lit(0.0)))
    val k = 5
    (1 to k).foreach(_ => w.step(0.5))
    val history = w.getHistory(PosVel).values.head
    val unions = org.apache.spark.sql.GraftBridge.analyzedPlan(history).collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    assert(unions == Seq(k + 1), s"unions and their children: $unions")
    assert(history.count() == 2L * (k + 1))
  }

  test("a spawnBatch part stamps its columns in one Project above the caller's plan") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    val w = World.make(spark, "sim_test", "run_one_project", optimizeInterval = 0)
    val caller = movers(Seq(1L, 2L), 1.0)
    w.spawnBatch(PosVel, caller)
    val callerPlan = GraftBridge.analyzedPlan(caller)
    /** The nodes above the caller's plan, root first. */
    def above(p: LogicalPlan): Option[List[LogicalPlan]] =
      if (p.fastEquals(callerPlan)) Some(Nil)
      else p.children.iterator.flatMap(above).nextOption().map(p :: _)
    val history = w.getHistory(PosVel).values.head
    val stacked = above(GraftBridge.analyzedPlan(history))
      .map(_.reverse.takeWhile(_.isInstanceOf[Project]).size)
    assert(stacked.contains(1), s"Projects directly on the caller's plan: $stacked")
    assert(history.count() == 2L)
  }

  test("compaction snapshots are stored serialized") {
    import org.apache.spark.sql.GraftBridge
    /** Storage levels of the checkpointed RDDs a read scans. */
    def levels(df: org.apache.spark.sql.DataFrame) =
      GraftBridge.analyzedPlan(df).collectLeaves()
        .flatMap(leaf => GraftBridge.checkpointRdd(GraftBridge.ofRows(spark, leaf)))
        .map(_.getStorageLevel).distinct
    val ser = Seq(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val w = World.make(spark, "sim_test", "run_ser", optimizeInterval = 0)
    w.addProcessor(MovementProcessor)
    w.spawnBatch(PosVel, posFrame(Seq(1L, 2L), 1.0)
      .withColumn("velocity__vx", lit(1.0)).withColumn("velocity__vy", lit(0.0)))
    w.step(0.5)
    w.store.optimize()
    assert(levels(w.getHistory(PosVel).values.head) == ser, "optimize()'s snapshot")
    assert(w.query(PosVel).values.head.orderBy("entity_id")
      .select("position__x").collect().map(_.getDouble(0)).toSeq == Seq(1.5, 1.5))
  }

  test("stepEager and optimize run their jobs under the caller's local properties") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val w = World.make(spark, "sim_test", "run_local_props", optimizeInterval = 0)
    w.addProcessor(MovementProcessor)
    w.spawn(Position(0.0, 0.0), Velocity(1.0, 0.0))
    w.spawn(Position(0.0, 0.0), Velocity(1.0, 0.0), Heat(1.0))
    assert(w.store.matchingHashes(PosVel).size == 2)
    // pool threads created now copy this thread's properties as they are
    w.stepEager(0.5)
    val (group, key, tag) = ("graft-local-props", "graft.test.tag", "fresh")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[java.util.Properties]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(Option(e.properties))
    }
    sc.setJobGroup(group, "stepEager and optimize")
    sc.setLocalProperty(key, tag)
    sc.addSparkListener(listener)
    try {
      w.stepEager(0.5)
      w.store.optimize()
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty(key, null)
    }
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq.map(_.map(p =>
      (p.getProperty("spark.jobGroup.id"), p.getProperty(key))))
    assert(seen.size >= 4, s"two stepEager and two optimize jobs at least, saw $seen")
    assert(seen.forall(_.contains((group, tag))), s"jobs without the caller's properties: $seen")
  }

  test("queryNeighbors: IVF over a live component column respects despawns") {
    import org.apache.spark.sql.functions._
    val world = World.make(spark, "sim_test", "run_vecsearch_spec")
    val seed = Tables.load(spark, sfDir, "embeddings").select(
      col("vec_id").cast("long").as("entity_id"),
      col("embedding").cast("array<double>").as("embedding__vec"))
    world.spawnBatch(Seq(EcsQueries.EmbMeta), seed)
    world.despawnWhere(Seq(EcsQueries.EmbMeta), col("entity_id") % 10 === 3)
    val out = world.queryNeighbors(EcsQueries.EmbMeta, "vec",
      queryIds = Seq(0L, 1L, 2L), topK = 3)
    val rows = out.collect()
    assert(rows.length == 9, s"3 queries x top-3, got ${rows.length}")
    val nids = rows.map(_.getAs[Long]("nid"))
    assert(nids.forall(_ % 10 != 3), "despawned entities must not be served")
    assert(rows.map(_.getAs[Long]("qid")).toSet == Set(0L, 1L, 2L))
  }
}

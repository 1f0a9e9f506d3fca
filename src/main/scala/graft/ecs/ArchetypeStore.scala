package graft.ecs

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark-native archetype store.
  *
  * Re-expression of the reference's LanceDB-backed `ArchetypeStore`
  * (archetype/core/store.py): one logical table per archetype with base
  * columns (simulation, run, entity_id, step, is_active) plus prefixed
  * component columns, merge-insert upsert keyed on
  * (simulation, run, entity_id, step) (store.py:250-256), soft-delete
  * despawn (store.py:160-170), subset-signature matching
  * (store.py:178-188) and full step history (store.py:219-244).
  *
  * Spark-first design, NOT a port:
  *  - Each archetype table is an append-only DataFrame carrying an
  *    internal commit-version column `_v`. Upsert = pure append
  *    (shuffle-free at write). Each append is one part of the log,
  *    tagged with the steps it may hold. `step` is a merge key, so a
  *    read takes only the parts whose tags meet the steps it asks for
  *    (the reference's querier filters `step IN (…)`,
  *    querier.py:24-45), and resolves latest-wins with one window over
  *    the merge keys (merge-on-read) only where two of those parts may
  *    share a step. A query at a step the world stepped to plans that
  *    step's append alone. This is how the same semantics stay cheap on
  *    a 1000-executor cluster: writes never rewrite history, and
  *    `optimize()` cuts the log's lineage — the analogue of the
  *    reference's `table.optimize()` — into one snapshot, which it
  *    stores serialized.
  *  - An append never builds the log's DataFrame. The union of all
  *    parts is planned once per read of the whole log (history,
  *    resolve, compaction, durable commit), not once per append, so the
  *    driver's analysis cost of a step does not grow with the log.
  *  - Persistence is one append-only commit log per archetype,
  *    published through a manifest: `commitDelta` writes the rows not
  *    yet in a directory, `compactDurable` + `vacuumDurable` fold the
  *    log into a one-commit snapshot, and `attachDurable` reads it back
  *    with an explicit schema. Commits are parquet partitioned by
  *    (simulation, run), so a cluster-scale store partition-prunes on
  *    exactly the keys every query filters on. `step` arrives sorted
  *    within files, so parquet min/max row-group stats prune step-range
  *    scans (the analogue of the reference's BTree index on step,
  *    store.py:103-111).
  */
final class ArchetypeStore(
    val spark: SparkSession,
    val simulation: String,
    val run: String,
    val reliableCheckpoints: Boolean = false,
    /** When set, durable commits lay data out in `bucket=<entity_id
      * mod n>` partition directories under (simulation, run): a
      * single-entity trajectory probe then partition-prunes to 1/n of
      * each commit instead of scanning the run — the analogue of the
      * reference's BTree index on entity_id (store.py:107-108). All
      * writers/readers of one durable dir must agree on n (recorded in
      * the manifest, validated at attach).
      */
    val entityBuckets: Option[Int] = None) {

  import ArchetypeStore._

  private val sigByHash = mutable.LinkedHashMap.empty[String, Seq[ComponentMeta]]
  private val tables = mutable.LinkedHashMap.empty[String, Log]
  private val pending = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Row]]
  private val entityCounter = new AtomicLong(0L)
  private val commitCounter = new AtomicLong(0L)
  private val checkpointed = mutable.HashMap.empty[String, DataFrame]
  // highest _v of this store's log already in a durable directory, per
  // (directory, archetype); see the durable protocol below
  private val durableMaxV = mutable.HashMap.empty[(java.nio.file.Path, String), Long]

  def signatures: Map[String, Seq[ComponentMeta]] = sigByHash.toMap

  /** Register the archetype for a signature; idempotent. */
  def ensureTable(metas: Seq[ComponentMeta]): String = {
    val hash = Archetype.hashOf(metas)
    if (!sigByHash.contains(hash)) {
      sigByHash(hash) = Archetype.signature(metas)
      tables(hash) = Log(withVersion(Archetype.schemaOf(metas)), Vector.empty, 0L)
    }
    hash
  }

  // -------------------------------------------------------------------
  // Entity management (reference: store.py add_entity / remove_entity)
  // -------------------------------------------------------------------

  /** Spawn one entity from component instances; returns its id.
    * Rows are buffered and flushed in batch — one driver-side row is
    * fine for interactive use; bulk ingestion should use spawnBatch.
    */
  def addEntity(components: Seq[Component], step: Long): Long = {
    require(components.nonEmpty, "Cannot create an entity with no components")
    val metas = components.map(ComponentMeta.fromInstance)
    val values = components.map(c => (0 until c.productArity).map(c.productElement))
    addEntityValues(metas, values, step)
  }

  /** Value-based spawn core: `values(i)` holds `metas(i)`'s field values
    * in that component's declared field order. This is also the py4j
    * on-ramp's path ([[PyBridge.spawn]]) — Python callers have no case
    * classes to hand to [[addEntity]].
    */
  def addEntityValues(metas: Seq[ComponentMeta], values: Seq[Seq[Any]], step: Long): Long = {
    require(metas.nonEmpty, "Cannot create an entity with no components")
    require(metas.size == values.size,
      s"metas (${metas.size}) and values (${values.size}) must align")
    metas.zip(values).foreach { case (m, vs) =>
      require(m.schema.size == vs.size,
        s"${m.name}: expected ${m.schema.size} field values, got ${vs.size}")
    }
    val sig = Archetype.signature(metas)
    val hash = ensureTable(metas)
    val entityId = entityCounter.incrementAndGet()
    // values in signature order, matching Archetype.schemaOf
    val byName = metas.map(_.name).zip(values).toMap
    val compValues = sig.flatMap(m => byName(m.name))
    val row = Row.fromSeq(
      Seq(simulation, run, entityId, step, true) ++ compValues :+ commitCounter.incrementAndGet())
    pending.getOrElseUpdate(hash, mutable.ArrayBuffer.empty) += row
    entityId
  }

  /** Bulk spawn: `df` must carry `entity_id` plus the prefixed component
    * columns of `metas`. The distributed path — no driver loop. `df`
    * holds at most one row per `entity_id` (see [[upsert]]).
    */
  def spawnBatch(metas: Seq[ComponentMeta], df: DataFrame, step: Long): Unit =
    upsertAt(ensureTable(metas), df
      .withColumn("simulation", lit(simulation))
      .withColumn("run", lit(run))
      .withColumn("is_active", lit(true)), step)

  /** Soft-delete: mark is_active=false for this entity at `step` in
    * every archetype where it is live there (reference:
    * store.py:160-170).
    */
  def removeEntity(entityId: Long, step: Long): Unit = {
    flush()
    val at = Some(Set(step))
    sigByHash.keys.filter(isLive(_, entityId, at))
      .foreach(tombstone(_, at, col("entity_id") === entityId))
  }

  /** Batch soft-delete on an archetype: APPENDS tombstone rows
    * (matching rows re-stamped `is_active = false` under a fresh
    * version) rather than rewriting history in place — latest-wins
    * resolves them identically, and the append-only contract is what
    * lets `commitDelta` persist despawns incrementally. A tombstone
    * repeats a live key, so reads at the steps the archetype held
    * resolve through the latest-wins window; later steps' reads do not.
    */
  def despawnWhere(hash: String, cond: Column): Unit = {
    flush()
    tombstone(hash, None, cond)
  }

  /** Tombstones each live row at `steps` (every step when None) whose
    * current state matches `cond`: [[read]] resolves latest-wins before
    * it applies `cond`, so a superseded version that happens to match
    * never tombstones a frame whose current state doesn't.
    */
  private def tombstone(hash: String, steps: Option[Set[Long]], cond: Column): Unit = {
    val log = tables(hash)
    val v = commitCounter.incrementAndGet()
    val tombstones = read(log, steps, runScope, col("is_active") && cond)
      .withColumn("is_active", lit(false))
      .withColumn(VersionCol, lit(v))
    put(hash, Part(tombstones, steps.orElse(stepsOf(log.parts))), v)
  }

  /** Whether `entityId` is live in the archetype at one of `steps` (at
    * any step when None): one small job, none when no part may hold them.
    */
  private def isLive(hash: String, entityId: Long, steps: Option[Set[Long]]): Boolean =
    !read(tables(hash), steps, runScope && col("entity_id") === entityId, col("is_active")).isEmpty

  /** Archetype MIGRATION — add/remove components on live entities
    * (reference scope: archetype/core/store.py keys tables by the
    * component signature; changing an entity's component set moves it
    * between tables). Entities of the `fromMetas` archetype matching
    * `cond` are tombstoned there and re-appended to the `toMetas`
    * archetype: shared component columns carry over, added components
    * take their `defaults` expressions (evaluated against the source
    * row — defaults may reference existing columns), removed
    * components simply drop. Both sides stay append-only (a tombstone
    * + an insert, no rewrite), so migration is two shuffle-free
    * appends however large the store; history stays in the source
    * archetype's table.
    */
  def migrate(fromMetas: Seq[ComponentMeta], toMetas: Seq[ComponentMeta],
      cond: Column, defaults: Map[String, Column] = Map.empty): Unit = {
    val fromHash = Archetype.hashOf(fromMetas)
    require(sigByHash.contains(fromHash),
      s"migrate: unknown source archetype $fromHash")
    flush()
    // Resolve latest-wins FIRST, then apply cond — both the tombstone
    // and the mover sets must see each (entity, step) frame's CURRENT
    // state, never a superseded version: a stale upserted version that
    // happens to match cond must neither tombstone a live frame whose
    // current state doesn't match, nor migrate with stale values.
    val source = tables(fromHash)
    val live = read(source, None, runScope, col("is_active"))
    // An entity migrates iff its LATEST live frame matches cond, and it
    // moves with that frame — an older frame that matches while the
    // newest doesn't must not migrate (the entity would otherwise be
    // live in both archetypes with divergent state).
    val wLatest = Window.partitionBy(col("entity_id")).orderBy(col("step").desc)
    val movers = live
      .withColumn("_rn", row_number().over(wLatest))
      .filter(col("_rn") === 1 && cond)
      .drop("_rn").drop(VersionCol)
    val toHash = ensureTable(toMetas)
    var out = movers
    defaults.foreach { case (n, c) => out = out.withColumn(n, c) }
    val missing = Archetype.schemaOf(sigByHash(toHash)).fieldNames
      .filterNot(out.columns.contains)
    require(missing.isEmpty,
      s"migrate: target components $missing have no source column and no default")
    // Tombstone exactly the resolved live frames whose current state
    // matches cond (lazy plans: `movers` is bound to the pre-append
    // table, so despawning first is safe). The movers hold one row per
    // entity at steps of the source log, so they are tagged with those.
    despawnWhere(fromHash, cond)
    appendVersioned(toHash, out, None, stepsOf(source.parts))
  }

  /** Remove ONE component from ONE entity (reference:
    * interfaces.py:22 `remove_component_from_entity`, world.py
    * `remove`): locates the entity's archetype among signatures
    * containing the component and migrates it to the signature minus
    * that component. Locating scans the (few) candidate archetypes
    * with a tiny filter job each — the per-entity interactive path;
    * bulk component changes should call [[migrate]] with a predicate.
    */
  def removeComponentFromEntity(entityId: Long, meta: ComponentMeta): Unit = {
    flush()
    val host = sigByHash.collectFirst {
      case (hash, sig) if sig.exists(_.name == meta.name) && sig.size > 1 &&
        isLive(hash, entityId, None) => sig
    }
    val sig = host.getOrElse(sys.error(
      s"removeComponentFromEntity: entity $entityId not found live in any " +
        s"archetype containing ${meta.name} with another component to keep"))
    migrate(sig, sig.filterNot(_.name == meta.name), col("entity_id") === entityId)
  }

  // -------------------------------------------------------------------
  // Query side (reference: store.py get_archetypes / get_history)
  // -------------------------------------------------------------------

  /** Signatures whose component set is a superset of the request
    * (reference: store.py:178-188).
    */
  def matchingHashes(metas: Seq[ComponentMeta]): Seq[String] = {
    require(metas.nonEmpty, "Must request at least one component type")
    val want = metas.map(_.name).toSet
    sigByHash.collect {
      case (hash, sig) if want.subsetOf(sig.map(_.name).toSet) => hash
    }.toSeq
  }

  /** Latest-wins resolved view of one archetype, scoped to (sim, run). */
  def resolved(hash: String): DataFrame = {
    flush()
    read(tables(hash), None, runScope, lit(true)).drop(VersionCol)
  }

  /** Latest-wins rows at `steps` that satisfy `cond`, per archetype
    * matching `metas`, scoped to (sim, run) (reference:
    * querier.py:24-45). Only the parts that may hold `steps` are read,
    * so a step's plan is the chain of the append that wrote it back to
    * the last snapshot.
    */
  def atSteps(metas: Seq[ComponentMeta], steps: Seq[Long], cond: Column): Map[String, DataFrame] = {
    flush()
    matchingHashes(metas).map { h =>
      h -> read(tables(h), Some(steps.toSet), runScope, cond).drop(VersionCol)
    }.toMap
  }

  /** Full step-history (all upserted states, latest per (entity, step)).
    * includeAllRuns widens the scope to every run of this simulation
    * (reference: store.py:219-244).
    */
  def getHistory(metas: Seq[ComponentMeta], includeAllRuns: Boolean = false): Map[String, DataFrame] = {
    flush()
    val scope = if (includeAllRuns) col("simulation") === simulation else runScope
    matchingHashes(metas).map { h =>
      h -> read(tables(h), None, scope, lit(true)).drop(VersionCol)
    }.toMap
  }

  // -------------------------------------------------------------------
  // Update side (reference: store.py upsert / update)
  // -------------------------------------------------------------------

  /** Merge-insert keyed on (simulation, run, entity_id, step)
    * (reference: store.py:250-256): implemented as version-stamped
    * append; the read path resolves latest-wins. One append carries at
    * most one row per (entity_id, step): two such rows share one `_v`,
    * so which of them a read returns is unspecified. The store cannot
    * tell which steps `df` touches, so every read of the archetype
    * takes this append and resolves it through the latest-wins window;
    * [[upsertAt]] keeps reads at other steps window-free.
    */
  def upsert(hash: String, df: DataFrame): Unit = appendVersioned(hash, df, None, None)

  /** [[upsert]] of one step's frame: every row of `df` is stamped
    * `step`, and only reads at `step` take the append. While the
    * archetype holds no row at `step` yet, no key can repeat there, and
    * those reads skip the latest-wins window.
    */
  def upsertAt(hash: String, df: DataFrame, step: Long): Unit =
    appendVersioned(hash, df, Some(step), Some(Set(step)))

  /** Stamps `step` (when given) and a fresh `_v`, and orders the columns
    * as the archetype's schema and casts any column of another type
    * (nullability aside, as a union compares them) to it, in one
    * projection: every analysed Dataset costs the driver a pass of the
    * analyzer. A column that cannot be cast fails here, at the append,
    * not at the log's next whole read. `steps` tags the part.
    */
  private def appendVersioned(hash: String, df: DataFrame, step: Option[Long],
      steps: Option[Set[Long]]): Unit = {
    flush()
    val v = commitCounter.incrementAndGet()
    val given = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val prepared = df.select(Archetype.schemaOf(sigByHash(hash)).fields.toIndexedSeq.map {
      case f if f.name == "step" && step.isDefined => lit(step.get).as("step")
      case f if given.get(f.name).contains(f.dataType.catalogString) => col(f.name)
      case f => col(f.name).cast(f.dataType).as(f.name)
    } :+ lit(v).as(VersionCol): _*)
    put(hash, Part(prepared, steps), v)
  }

  /** Plain append (reference: store.py:258-261 `update`). */
  def appendRows(hash: String, df: DataFrame): Unit = upsert(hash, df)

  /** Compact: checkpoint each archetype's append log and cut its
    * lineage (the analogue of LanceDB `table.optimize()`). Call every
    * few steps in a long loop. A log whose parts may repeat a key is
    * checkpointed latest-wins resolved, `_v` kept, so reads of the
    * snapshot skip the window. Each version it drops lost to a higher
    * `_v`, and `commitDelta` writes that winner whenever it would have
    * written the loser. The archetypes materialize as concurrent jobs,
    * each under the caller's SparkContext local properties
    * ([[graft.QueryShape.concurrently]]).
    * The snapshot becomes the log's one part, tagged with the union of
    * the parts' tags; only then are the previous compaction's
    * checkpoint blocks released, so each archetype holds one snapshot.
    *
    * A local snapshot is stored serialized (`MEMORY_AND_DISK_SER`):
    * every later read deserializes it, but the block store sizes it by
    * its bytes instead of walking each row's object graph. With
    * `reliableCheckpoints` the snapshot goes to the session's
    * checkpoint directory (HDFS/object store on a cluster) instead of
    * executor-local blocks — a lost executor then costs a re-read, not
    * the whole simulation. Local checkpoints stay the default for
    * single-node speed; old reliable checkpoint files are reclaimed by
    * Spark's reference-tracking cleaner.
    */
  def optimize(): Unit = {
    flush()
    if (reliableCheckpoints)
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "reliableCheckpoints requires SparkContext.setCheckpointDir")
    val logs = tables.toSeq
    val snapshots = graft.QueryShape.concurrently(spark, logs) { case (_, log) =>
      val rows = if (mayRepeat(log.parts, None)) latestWinsKeepVersion(log.df) else log.df
      if (reliableCheckpoints) rows.checkpoint(eager = true)
      else rows.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)
    }
    logs.zip(snapshots).foreach { case ((h, log), snapshot) =>
      tables(h) = log.copy(parts = Vector(Part(snapshot, stepsOf(log.parts))))
      checkpointed.put(h, snapshot).foreach(old =>
        GraftBridge.checkpointRdd(old).foreach(_.unpersist(false)))
    }
  }

  // -------------------------------------------------------------------
  // Durable incremental persistence, the store's only on-disk format:
  // append-only parquet commits published through a manifest.
  //
  // Layout: `$dir/$hash/commit=<n>/simulation=…/run=…/*.parquet` data
  // plus `$dir/$hash/_manifest`, the single source of truth for what
  // is committed. Write protocol (Delta/Iceberg-shaped):
  //
  //   1. write the delta to `$dir/$hash/_staging/<uuid>` (the leading
  //      underscore hides it from Spark's file listing);
  //   2. atomically rename the staged directory to `commit=<n>`, where
  //      n = the manifest's `maxCommit` + 1 (0 in a fresh directory),
  //      read under the directory lock;
  //   3. write the manifest LAST (temp file + atomic rename), moving
  //      `maxCommit` to n and recording the version/entity watermarks.
  //
  // Commit bookkeeping lives in two places only. The manifest holds
  // the directory's watermarks, and they only rise: `maxV` and
  // `maxEntity` are the max of the previous manifest's and the
  // writer's counters, so a store that commits a lower count (another
  // run sharing the directory) never pulls them down. The store holds
  // one watermark per (directory, archetype): the highest `_v` of its
  // own log already written there, so a commit to a second directory
  // writes everything that directory lacks.
  //
  // Readers trust ONLY the manifest: they scan `commit` in
  // [base, maxCommit] with an explicit schema (no footer inference),
  // so a crash at any point leaves either a hidden staging dir or an
  // unreferenced `commit=<n>` dir — both invisible. A retried commit
  // deletes the orphan target before renaming. `attachDurable`
  // recovers all watermarks from manifests — no table scan — and
  // resumes its counters above every archetype's tip in the directory
  // (a commit skips an archetype with nothing new, so one manifest can
  // lag the others), also when it attaches an older version, so its
  // writes outrank every committed row and its new ids are fresh.
  // Commits below `base` (superseded by compaction) and orphans are
  // dead and can be vacuumed out-of-band.
  // -------------------------------------------------------------------

  /** Commit watermarks: everything a reader/writer needs to resume.
    * `buckets` = entity-bucket count of the layout (0 = unbucketed).
    */
  final case class Manifest(base: Long, maxCommit: Long, maxV: Long,
      maxEntity: Long, buckets: Long = 0L)

  private def manifestPath(dir: String, hash: String) =
    java.nio.file.Paths.get(s"$dir/$hash/_manifest")

  private def parseManifest(p: java.nio.file.Path): Option[Manifest] =
    if (!java.nio.file.Files.exists(p)) None
    else {
      val kv = java.nio.file.Files.readString(p).linesIterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v.trim.toLong }
        .toMap
      Some(Manifest(kv("base"), kv("maxCommit"), kv("maxV"), kv("maxEntity"),
        kv.getOrElse("buckets", 0L)))
    }

  def readManifest(dir: String, hash: String): Option[Manifest] =
    parseManifest(manifestPath(dir, hash))

  /** The manifest as of historical commit `n` (time travel): every
    * publish also writes an immutable `_manifest.v<n>` snapshot, so
    * any still-un-vacuumed version stays readable — the Delta/Iceberg
    * versioned-log shape, at one tiny file per commit.
    */
  def readManifestAt(dir: String, hash: String, n: Long): Option[Manifest] =
    parseManifest(
      java.nio.file.Paths.get(s"$dir/$hash/_manifest.v$n"))

  /** Publish a manifest atomically: temp file, then rename. A manifest
    * is one small file, so the rename (or single PUT on object stores)
    * is the commit point.
    */
  private def writeManifest(dir: String, hash: String, m: Manifest): Unit = {
    val p = manifestPath(dir, hash)
    val tmp = p.resolveSibling(s"_manifest.tmp.${java.util.UUID.randomUUID()}")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(tmp,
      s"base=${m.base}\nmaxCommit=${m.maxCommit}\nmaxV=${m.maxV}\n" +
        s"maxEntity=${m.maxEntity}\nbuckets=${m.buckets}\n")
    // immutable per-version snapshot first (enables time travel) …
    java.nio.file.Files.copy(tmp,
      p.resolveSibling(s"_manifest.v${m.maxCommit}"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // … then the current pointer; its rename stays the commit point
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stage `df` under a hidden dir, then atomically rename it into
    * place as `commit=<n>`. Deletes an orphaned target left by a
    * crashed previous attempt (it is unreferenced by the manifest, so
    * removal is safe).
    */
  private def stageCommit(dir: String, hash: String, n: Long, df: DataFrame): Unit = {
    val staging = java.nio.file.Paths.get(
      s"$dir/$hash/_staging/${java.util.UUID.randomUUID()}")
    val (laidOut, partCols) = entityBuckets match {
      case Some(b) =>
        // bucket = entity_id mod b as a partition DIRECTORY: point
        // trajectory reads prune to 1/b of every commit
        (df.withColumn("bucket", pmod(col("entity_id"), lit(b.toLong)))
          .repartition(col("simulation"), col("run"), col("bucket")),
          Seq("simulation", "run", "bucket"))
      case None =>
        (df.repartition(col("simulation"), col("run")),
          Seq("simulation", "run"))
    }
    laidOut
      .sortWithinPartitions(col("step"), col("entity_id"))
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(staging.toString)
    val target = java.nio.file.Paths.get(s"$dir/$hash/commit=$n")
    if (java.nio.file.Files.exists(target))
      deleteRecursively(target)
    java.nio.file.Files.move(staging, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Full read schema incl. partition columns, passed explicitly so
    * readers never infer from footers (a torn file in an uncommitted
    * directory must not be able to fail the read path).
    */
  private def durableReadSchema(metas: Seq[ComponentMeta]) = {
    import org.apache.spark.sql.types._
    val base = withVersion(Archetype.schemaOf(Archetype.signature(metas)))
      .fields :+ StructField("commit", LongType, nullable = false)
    StructType(entityBuckets match {
      case Some(_) => base :+ StructField("bucket", LongType, nullable = false)
      case None => base
    })
  }

  /** Only the manifest's committed range is visible. */
  private def liveDurable(dir: String, hash: String,
      metas: Seq[ComponentMeta], m: Manifest): DataFrame =
    spark.read.schema(durableReadSchema(metas))
      .parquet(s"$dir/$hash")
      .filter(col("commit") >= m.base && col("commit") <= m.maxCommit)

  /** How long a writer waits for the dir lock before failing.
    * Spec-tunable.
    */
  var lockWaitMs: Long = 30000L

  /** Serialize writers on a durable dir with an atomic lock file
    * (`Files.createFile` is the POSIX/HDFS put-if-absent primitive;
    * object stores would swap in a conditional PUT). Two concurrent
    * `commitDelta`s otherwise race stageCommit's reclaim-then-rename
    * against the other's manifest publish — the classic log-writer
    * conflict Delta solves the same way. Locks held across a crash
    * are reclaimed after `LockStaleMs`.
    */
  private def withDirLock[A](dir: String)(f: => A): A = {
    val lock = java.nio.file.Paths.get(s"$dir/_lock")
    java.nio.file.Files.createDirectories(lock.getParent)
    val deadline = System.currentTimeMillis() + lockWaitMs
    var acquired = false
    while (!acquired) {
      try {
        java.nio.file.Files.createFile(lock)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age = try System.currentTimeMillis() -
            java.nio.file.Files.getLastModifiedTime(lock).toMillis
          catch { case _: java.nio.file.NoSuchFileException => Long.MaxValue }
          if (age > LockStaleMs) java.nio.file.Files.deleteIfExists(lock)
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"commit lock at $lock held by another writer for ${age} ms — " +
                "concurrent durable writers must take turns (or reclaim a " +
                "stale lock by deleting the file if its holder is dead)")
          else Thread.sleep(50)
      }
    }
    try f finally java.nio.file.Files.deleteIfExists(lock)
  }

  /** Durably append rows not yet committed; O(delta), no rewrite.
    * Publication is atomic: data renamed into place, manifest last. An
    * archetype whose log holds no `_v` above the directory's watermark
    * is skipped (no job, no commit directory, no manifest) once the
    * directory has its manifest; its first commit is published even
    * when empty, so `attachDurable` finds it.
    */
  def commitDelta(dir: String): Unit = withDirLock(dir) {
    flush()
    tables.foreach { case (hash, log) =>
      val prev = readManifest(dir, hash)
      prev.foreach(m => require(m.buckets == bucketCount,
        s"commitDelta: durable dir has bucket layout ${m.buckets}, " +
          s"this store writes $bucketCount — bucket counts must match"))
      val key = watermarkKey(dir, hash)
      val written = durableMaxV.getOrElse(key, 0L)
      if (prev.isEmpty || log.maxV > written) {
        // always on top of the current tip: a store attached at an old
        // version (time travel) must not reclaim a live newer commit
        val n = prev.map(_.maxCommit + 1).getOrElse(0L)
        stageCommit(dir, hash, n, log.df.filter(col(VersionCol) > written))
        writeManifest(dir, hash, Manifest(
          base = prev.map(_.base).getOrElse(0L),
          maxCommit = n,
          maxV = math.max(commitCounter.get(), prev.map(_.maxV).getOrElse(0L)),
          maxEntity = math.max(entityCounter.get(), prev.map(_.maxEntity).getOrElse(0L)),
          buckets = bucketCount))
        durableMaxV(key) = math.max(written, log.maxV)
      }
    }
  }

  /** Fold all live commits into one base commit (latest-wins resolved,
    * versions preserved) and publish a manifest whose base == the new
    * commit. The analogue of log-structured compaction; run
    * periodically, not per commit.
    */
  def compactDurable(dir: String): Unit = withDirLock(dir) {
    sigByHash.foreach { case (hash, sig) =>
      readManifest(dir, hash).foreach { m =>
        require(m.buckets == bucketCount,
          s"compactDurable: bucket layout ${m.buckets} != store's $bucketCount")
        val live = liveDurable(dir, hash, sig, m)
        val n = m.maxCommit + 1
        stageCommit(dir, hash, n,
          latestWinsKeepVersion(live.drop("commit")).drop("bucket"))
        writeManifest(dir, hash, m.copy(base = n, maxCommit = n))
      }
    }
  }

  /** Bucket count this store writes/expects (0 = unbucketed). */
  private def bucketCount: Long = entityBuckets.map(_.toLong).getOrElse(0L)

  private def watermarkKey(dir: String, hash: String) =
    (java.nio.file.Paths.get(dir).toAbsolutePath.normalize, hash)

  /** Durable POINT READ: one entity's resolved step history, pruned to
    * its `bucket=` partition directory when the store is bucketed — the
    * probe never scans the rest of the run (the reference's
    * entity-BTree lookup, store.py:107-108, as partition pruning).
    */
  def entityTrajectoryDurable(metas: Seq[ComponentMeta], dir: String,
      entityId: Long): DataFrame = {
    val hash = Archetype.hashOf(metas)
    val m = readManifest(dir, hash).getOrElse(
      sys.error(s"entityTrajectoryDurable: no manifest at $dir/$hash"))
    require(m.buckets == bucketCount,
      s"entityTrajectoryDurable: bucket layout ${m.buckets} != store's $bucketCount")
    val base = liveDurable(dir, hash, metas, m)
    val scoped = entityBuckets match {
      case Some(b) => base.filter(col("bucket") === entityId % b)
      case None => base
    }
    latestWins(scoped.filter(col("entity_id") === entityId)
      .drop("commit").drop("bucket"))
  }

  /** Remove data unreachable from the CURRENT manifest: commit dirs
    * and `_manifest.v<n>` snapshots below `base` (superseded by
    * compaction), plus all staging leftovers. After a vacuum, time
    * travel reaches only versions >= base — the standard log-retention
    * trade; run it as far behind compaction as history needs demand.
    * Safe against crashed writers: staging dirs are always dead (a
    * live commit was renamed OUT of staging), and nothing at-or-above
    * base is touched.
    */
  def vacuumDurable(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    sigByHash.keys.foreach { hash =>
      readManifest(dir, hash).foreach { m =>
        val root = java.nio.file.Paths.get(s"$dir/$hash")
        val staging = root.resolve("_staging")
        if (java.nio.file.Files.exists(staging)) deleteRecursively(staging)
        java.nio.file.Files.list(root).iterator().asScala.toSeq.foreach { p =>
          val name = p.getFileName.toString
          if (name.startsWith("commit=") && name.stripPrefix("commit=").toLong < m.base)
            deleteRecursively(p)
          else if (name.startsWith("_manifest.v") &&
            name.stripPrefix("_manifest.v").toLong < m.base)
            java.nio.file.Files.delete(p)
        }
      }
    }
  }

  /** Attach a durable store written by commitDelta/compactDurable: the
    * in-memory table reads live commits lazily; counters resume from
    * the highest watermarks of every archetype's tip manifest in `dir`
    * — one small read per archetype, no data scan at attach time.
    */
  def attachDurable(metas: Seq[ComponentMeta], dir: String,
      atCommit: Option[Long] = None): String = {
    val hash = ensureTable(metas)
    val tip = readManifest(dir, hash).getOrElse(
      sys.error(s"attachDurable: no manifest at $dir/$hash — nothing committed"))
    val m = atCommit.fold(tip)(n => readManifestAt(dir, hash, n).getOrElse(
      sys.error(s"attachDurable: no manifest version $n at $dir/$hash " +
        "(never committed, or vacuumed)")))
    require(m.buckets == bucketCount,
      s"attachDurable: durable dir has bucket layout ${m.buckets}, this " +
        s"store expects $bucketCount — construct the store with " +
        s"entityBuckets matching the manifest")
    val schema = withVersion(Archetype.schemaOf(Archetype.signature(metas)))
    tables(hash) = Log(schema, Vector(Part(liveDurable(dir, hash, metas, m)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*), None, repeats = true)), m.maxV)
    durableMaxV(watermarkKey(dir, hash)) = m.maxV
    val tips = tipManifests(dir)
    commitCounter.updateAndGet(v => math.max(v, tips.map(_.maxV).max))
    entityCounter.updateAndGet(v => math.max(v, tips.map(_.maxEntity).max))
    hash
  }

  /** The tip manifest of every archetype committed to `dir`. */
  private def tipManifests(dir: String): Seq[Manifest] =
    scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(dir))) {
      _.iterator().asScala.toSeq.flatMap(p => parseManifest(p.resolve("_manifest")))
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  // -------------------------------------------------------------------

  private def runScope = col("simulation") === simulation && col("run") === run

  /** One append: its rows, in the log's column order, and the steps it
    * may hold (a superset of those it holds; None when unknown). Only a
    * part attached from a durable directory, whose commits may rewrite
    * one another, `repeats` an (entity_id, step) key inside itself.
    */
  private case class Part(df: DataFrame, steps: Option[Set[Long]], repeats: Boolean = false)

  /** One archetype's append log: its `parts`, in append order. `df`,
    * their n-ary union, is built and analysed on the first whole-log
    * read of this log value and then cached, so an append costs the
    * driver no analysis of the log. The union is positional (`put`
    * checks the columns): the analyzer resolves a by-name union into a
    * chain of binary unions, one per part. `maxV` is the highest `_v`
    * the log holds, which `commitDelta` compares with a directory's
    * watermark.
    */
  private case class Log(schema: StructType, parts: Vector[Part], maxV: Long) {
    lazy val df: DataFrame = union(parts)
    def union(taken: Seq[Part]): DataFrame = taken match {
      case Seq() => spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      case Seq(one) => one.df
      case _ => GraftBridge.ofRows(spark, Union(taken.map(p => GraftBridge.analyzedPlan(p.df))))
    }
  }

  /** Every read of a log: its rows under `scope` at `steps` (at every
    * step when None), latest `_v` per merge key, that satisfy `where`.
    * It takes only the parts that may hold `steps`, filters to them
    * only when a tag is not inside them, and runs the latest-wins window
    * only when the parts taken may repeat a key.
    */
  private def read(log: Log, steps: Option[Set[Long]], scope: Column, where: Column): DataFrame = {
    val taken = log.parts.filter(within(_, steps).forall(_.nonEmpty))
    val rows = if (taken.size == log.parts.size) log.df else log.union(taken)
    // the step test goes first: on a snapshot it rejects most rows
    // before the scope's string compares run
    val narrowed = steps.filterNot(s => taken.forall(_.steps.exists(_.subsetOf(s))))
      .fold(scope)(s => col("step").isin(s.toSeq: _*) && scope)
    if (mayRepeat(taken, steps)) latestWinsKeepVersion(rows.filter(narrowed)).filter(where)
    else rows.filter(narrowed && where)
  }

  /** The steps of `steps` (every step when None) `part` may hold. */
  private def within(part: Part, steps: Option[Set[Long]]): Option[Set[Long]] =
    (part.steps ++ steps).reduceOption(_ intersect _)

  /** Whether an (entity_id, step) key at `steps` may repeat across
    * `parts`: one part repeats keys, or two may hold one step.
    */
  private def mayRepeat(parts: Seq[Part], steps: Option[Set[Long]]): Boolean =
    parts.exists(_.repeats) || parts.size > 1 && {
      val held = parts.map(within(_, steps))
      held.contains(None) || held.flatten.map(_.size).sum > held.flatten.flatten.distinct.size
    }

  /** The union of the parts' tags; None when one is unknown. */
  private def stepsOf(parts: Seq[Part]): Option[Set[Long]] =
    parts.foldLeft(Option(Set.empty[Long]))((acc, p) => for (a <- acc; s <- p.steps) yield a ++ s)

  /** Add a part, whose highest `_v` is `v`, to an archetype's log; the
    * log's union is not built here.
    */
  private def put(hash: String, part: Part, v: Long): Unit = {
    val log = tables(hash)
    def columns(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    require(columns(part.df.schema) == columns(log.schema),
      s"an append's columns ${part.df.schema.simpleString} are not " +
        s"the archetype's ${log.schema.simpleString}")
    tables(hash) = log.copy(parts = log.parts :+ part, maxV = math.max(log.maxV, v))
  }

  /** Materialize buffered single-row spawns into their tables. Their
    * ids come fresh from the counter, so one flush repeats no key.
    */
  def flush(): Unit = {
    pending.foreach { case (hash, rows) =>
      if (rows.nonEmpty) {
        val schema = withVersion(Archetype.schemaOf(sigByHash(hash)))
        val df = spark.createDataFrame(rows.toSeq.asJava, schema)
        // index 3 is `step` and the last is `_v` in addEntityValues' row layout
        put(hash, Part(df, Some(rows.map(_.getLong(3)).toSet)),
          rows.iterator.map(r => r.getLong(r.length - 1)).max)
        rows.clear()
      }
    }
  }
}

object ArchetypeStore {
  val VersionCol = "_v"
  // age past which a durable dir lock's holder is presumed crashed
  private val LockStaleMs = 600000L
  val MergeKeys: Seq[String] = Seq("simulation", "run", "entity_id", "step")

  private def withVersion(s: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(
      s.fields :+ org.apache.spark.sql.types.StructField(
        VersionCol, org.apache.spark.sql.types.LongType, nullable = false))

  /** Latest committed version per (simulation, run, entity_id, step). */
  def latestWins(df: DataFrame): DataFrame =
    latestWinsKeepVersion(df).drop(VersionCol)

  /** Latest-wins resolution that keeps the winning row's version —
    * compaction and tombstoning need `_v` to stay monotonic.
    */
  def latestWinsKeepVersion(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(MergeKeys.map(col): _*).orderBy(col(VersionCol).desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}

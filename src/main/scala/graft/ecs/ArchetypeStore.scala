package graft.ecs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *    (shuffle-free at write). While every append landed at a step the
  *    archetype did not hold yet, no (entity_id, step) key can repeat:
  *    the log then indexes each step's frame, and a query at a step
  *    plans only that frame — a chain back to the last snapshot, not
  *    the whole log (the reference's querier filters one step,
  *    querier.py:24-45). Once an append may have rewritten a key,
  *    latest-wins resolution happens at read with one window over the
  *    merge keys (merge-on-read). This is how the same semantics stay
  *    cheap on a 1000-executor cluster: writes never rewrite history,
  *    and `optimize()` cuts the log's lineage — the analogue of the
  *    reference's `table.optimize()` — and re-points every frame at
  *    the new snapshot.
  *  - Persistence is parquet partitioned by (simulation, run), so a
  *    cluster-scale store partition-prunes on exactly the keys every
  *    query filters on. `step` arrives sorted within files, so parquet
  *    min/max row-group stats prune step-range scans (the analogue of
  *    the reference's BTree index on step, store.py:103-111).
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
  private val entitySig = mutable.HashMap.empty[Long, String]
  private val entityCounter = new AtomicLong(0L)
  private val commitCounter = new AtomicLong(0L)
  private val checkpointed = mutable.HashMap.empty[String, DataFrame]
  // durable-persistence watermarks: highest _v already on disk and the
  // next commit directory index, per archetype
  private val durableMaxV = mutable.HashMap.empty[String, Long]
  private val nextCommit = mutable.HashMap.empty[String, Long]

  def signatures: Map[String, Seq[ComponentMeta]] = sigByHash.toMap

  /** Register the archetype for a signature; idempotent. */
  def ensureTable(metas: Seq[ComponentMeta]): String = {
    val hash = Archetype.hashOf(metas)
    if (!sigByHash.contains(hash)) {
      sigByHash(hash) = Archetype.signature(metas)
      val schema = withVersion(Archetype.schemaOf(metas))
      tables(hash) = Log(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema), Some(Map.empty))
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
    entitySig(entityId) = hash
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

  /** Soft-delete: mark is_active=false for this entity at `step`
    * (reference: store.py:160-170).
    */
  def removeEntity(entityId: Long, step: Long): Unit = {
    entitySig.get(entityId).foreach { hash =>
      despawnWhere(hash, col("entity_id") === entityId && col("step") === step)
      entitySig.remove(entityId)
    }
  }

  /** Batch soft-delete on an archetype: APPENDS tombstone rows
    * (matching rows re-stamped `is_active = false` under a fresh
    * version) rather than rewriting history in place — latest-wins
    * resolves them identically, and the append-only contract is what
    * lets `commitDelta` persist despawns incrementally. A tombstone
    * repeats a live key, so the archetype's reads go through the
    * latest-wins window from then on.
    */
  def despawnWhere(hash: String, cond: org.apache.spark.sql.Column): Unit = {
    flush()
    // Resolve latest-wins over the FULL (sim, run) scope first, then
    // apply cond: evaluating cond on raw rows would let a superseded
    // version that happens to match tombstone a frame whose current
    // state doesn't (and resolution over a cond-filtered subset could
    // crown a stale version whose newer non-matching sibling was
    // filtered out).
    val tombstones = resolveKeepVersion(tables(hash), runScope)
      .filter(col("is_active") && cond)
      .withColumn("is_active", lit(false))
      .withColumn(VersionCol, lit(commitCounter.incrementAndGet()))
    put(hash, tombstones, None)
  }

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
      cond: org.apache.spark.sql.Column,
      defaults: Map[String, org.apache.spark.sql.Column] = Map.empty): Unit = {
    val fromHash = Archetype.hashOf(fromMetas)
    require(sigByHash.contains(fromHash),
      s"migrate: unknown source archetype $fromHash")
    flush()
    // Resolve latest-wins FIRST, then apply cond — both the tombstone
    // and the mover sets must see each (entity, step) frame's CURRENT
    // state, never a superseded version: a stale upserted version that
    // happens to match cond must neither tombstone a live frame whose
    // current state doesn't match, nor migrate with stale values.
    val live = resolveKeepVersion(tables(fromHash), runScope)
      .filter(col("is_active"))
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
    // table, so despawning first is safe).
    despawnWhere(fromHash, cond)
    upsert(toHash, out)
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
      case (hash, sig) if sig.exists(_.name == meta.name) &&
        sig.size > 1 &&
        !resolveKeepVersion(tables(hash), runScope && col("entity_id") === entityId)
          .filter(col("is_active")).isEmpty => (hash, sig)
    }
    val (hash, sig) = host.getOrElse(sys.error(
      s"removeComponentFromEntity: entity $entityId not found live in any " +
        s"archetype containing ${meta.name} with another component to keep"))
    val smaller = sig.filterNot(_.name == meta.name)
    migrate(sig, smaller, col("entity_id") === entityId)
    // re-point (not remove) the entity's signature: the entity is still
    // live in the smaller archetype, and removeEntity only acts on ids
    // present in entitySig — dropping the entry here would make the
    // entity undeletable through the normal API.
    entitySig(entityId) = Archetype.hashOf(smaller)
    ()
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
    resolveKeepVersion(tables(hash), runScope).drop(VersionCol)
  }

  /** Latest-wins rows at `steps` that satisfy `cond`, per archetype
    * matching `metas`, scoped to (sim, run) (reference:
    * querier.py:24-45). A window-free log reads only its frames at
    * `steps`, so a step's plan is its frame's chain back to the last
    * snapshot; otherwise the resolved log is filtered to `steps`.
    */
  def atSteps(metas: Seq[ComponentMeta], steps: Seq[Long],
      cond: org.apache.spark.sql.Column): Map[String, DataFrame] = {
    flush()
    matchingHashes(metas).map { h =>
      val log = tables(h)
      h -> (log.frames match {
        case Some(frames) =>
          steps.distinct.flatMap(frames.get).reduceOption(_ unionByName _)
            .getOrElse(spark.createDataFrame(
              java.util.Collections.emptyList[Row](), log.df.schema))
            .filter(runScope && cond).drop(VersionCol)
        case None =>
          resolveKeepVersion(log, runScope).drop(VersionCol)
            .filter(col("step").isin(steps: _*) && cond)
      })
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
      h -> resolveKeepVersion(tables(h), scope).drop(VersionCol)
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
    * tell which steps `df` touches, so the archetype's reads resolve
    * through the latest-wins window from here on; [[upsertAt]] keeps
    * them window-free.
    */
  def upsert(hash: String, df: DataFrame): Unit = appendVersioned(hash, df, None)

  /** [[upsert]] of one step's frame: every row of `df` is stamped
    * `step`. While the archetype holds no row at `step` yet, no key can
    * repeat: the append becomes the log's frame at `step`, and reads
    * keep skipping the latest-wins window.
    */
  def upsertAt(hash: String, df: DataFrame, step: Long): Unit =
    appendVersioned(hash, df.withColumn("step", lit(step)), Some(step))

  private def appendVersioned(hash: String, df: DataFrame, step: Option[Long]): Unit = {
    flush()
    val schema = Archetype.schemaOf(sigByHash(hash))
    val prepared = df
      .withColumn(VersionCol, lit(commitCounter.incrementAndGet()))
      .select(schema.fieldNames.map(col).toIndexedSeq :+ col(VersionCol): _*)
    put(hash, prepared, step.map(s => Map(s -> prepared)))
  }

  /** Plain append (reference: store.py:258-261 `update`). */
  def appendRows(hash: String, df: DataFrame): Unit = upsert(hash, df)

  /** Compact: checkpoint each archetype's raw append log (every
    * version, not the resolved view) and cut its lineage (the analogue
    * of LanceDB `table.optimize()`). Call every few steps in a long loop.
    * The archetypes materialize as concurrent jobs, each under the
    * caller's SparkContext local properties
    * ([[graft.QueryShape.concurrently]]). Every frame of a window-free
    * log is then re-pointed at its step of the new snapshot, and only
    * after that are the previous compaction's checkpoint blocks
    * released — a frame left on the old snapshot would read freed
    * blocks. Long simulations so hold at most one snapshot per
    * archetype.
    *
    * With `reliableCheckpoints` the snapshot goes to the session's
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
      if (reliableCheckpoints) log.df.checkpoint(eager = true)
      else log.df.localCheckpoint(true)
    }
    logs.zip(snapshots).foreach { case ((h, log), snapshot) =>
      tables(h) = Log(snapshot, log.frames.map(_.map { case (s, _) =>
        s -> snapshot.filter(col("step") === s)
      }))
      checkpointed.put(h, snapshot).foreach(old =>
        org.apache.spark.sql.GraftBridge.checkpointRdd(old).foreach(_.unpersist(false)))
    }
  }

  /** Write every archetype to parquet partitioned by (simulation, run). */
  def persist(dir: String): Unit = {
    flush()
    tables.foreach { case (hash, log) =>
      resolveKeepVersion(log, lit(true))
        .withColumn(VersionCol, lit(0L))
        .repartition(col("simulation"), col("run"))
        .sortWithinPartitions(col("step"), col("entity_id"))
        .write.mode("overwrite").partitionBy("simulation", "run")
        .parquet(s"$dir/$hash")
      val names = sigByHash(hash).map(_.name).mkString(",")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/$hash.sig"), names)
    }
  }

  // -------------------------------------------------------------------
  // Durable incremental persistence (r2, atomic protocol r3):
  // append-only parquet commits published through a manifest.
  //
  // Layout: `$dir/$hash/commit=<n>/simulation=…/run=…/*.parquet` data
  // plus `$dir/$hash/_manifest`, the single source of truth for what
  // is committed. Write protocol (Delta/Iceberg-shaped):
  //
  //   1. write the delta to `$dir/$hash/_staging/<uuid>` (the leading
  //      underscore hides it from Spark's file listing);
  //   2. atomically rename the staged directory to `commit=<n>`;
  //   3. write the manifest LAST (temp file + atomic rename), moving
  //      `maxCommit` to n and recording the version/entity watermarks.
  //
  // Readers trust ONLY the manifest: they scan `commit` in
  // [base, maxCommit] with an explicit schema (no footer inference),
  // so a crash at any point leaves either a hidden staging dir or an
  // unreferenced `commit=<n>` dir — both invisible. A retried commit
  // deletes the orphan target before renaming. `attachDurable`
  // recovers all watermarks from the manifest in O(1) — no table scan.
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

  /** How long a writer waits for the dir lock before failing, and the
    * age past which a lock is presumed abandoned (crashed holder) and
    * reclaimed. Spec-tunable.
    */
  var lockWaitMs: Long = 30000L
  var lockStaleMs: Long = 600000L

  /** Serialize writers on a durable dir with an atomic lock file
    * (`Files.createFile` is the POSIX/HDFS put-if-absent primitive;
    * object stores would swap in a conditional PUT). Two concurrent
    * `commitDelta`s otherwise race stageCommit's reclaim-then-rename
    * against the other's manifest publish — the classic log-writer
    * conflict Delta solves the same way. Locks held across a crash
    * are reclaimed after `lockStaleMs`.
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
          if (age > lockStaleMs) java.nio.file.Files.deleteIfExists(lock)
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
    * Publication is atomic: data renamed into place, manifest last.
    */
  def commitDelta(dir: String): Unit = withDirLock(dir) {
    flush()
    tables.foreach { case (hash, log) =>
      val prev = readManifest(dir, hash)
      prev.foreach(m => require(m.buckets == bucketCount,
        s"commitDelta: durable dir has bucket layout ${m.buckets}, " +
          s"this store writes $bucketCount — bucket counts must match"))
      val lastV = durableMaxV.getOrElse(hash, -1L)
      val highV = commitCounter.get()
      // never target a commit at-or-below the CURRENT manifest tip: a
      // store attached at an old version (time travel) that writes
      // would otherwise reclaim-and-destroy a live newer commit. Its
      // delta lands ON TOP of the current tip instead.
      val n = math.max(
        nextCommit.getOrElse(hash, 0L),
        prev.map(_.maxCommit + 1).getOrElse(0L))
      stageCommit(dir, hash, n, log.df.filter(col(VersionCol) > lastV))
      val names = sigByHash(hash).map(_.name).mkString(",")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/$hash.sig"), names)
      writeManifest(dir, hash, Manifest(
        base = prev.map(_.base).getOrElse(0L),
        maxCommit = n,
        maxV = highV,
        maxEntity = entityCounter.get(),
        buckets = bucketCount))
      durableMaxV(hash) = highV
      nextCommit(hash) = n + 1
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
        nextCommit(hash) = n + 1
      }
    }
  }

  /** Bucket count this store writes/expects (0 = unbucketed). */
  private def bucketCount: Long = entityBuckets.map(_.toLong).getOrElse(0L)

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
    * the manifest watermarks — O(1), no data scan at attach time.
    */
  def attachDurable(metas: Seq[ComponentMeta], dir: String,
      atCommit: Option[Long] = None): String = {
    val hash = ensureTable(metas)
    val m = atCommit match {
      case Some(n) => readManifestAt(dir, hash, n).getOrElse(
        sys.error(s"attachDurable: no manifest version $n at $dir/$hash " +
          "(never committed, or vacuumed)"))
      case None => readManifest(dir, hash).getOrElse(
        sys.error(s"attachDurable: no manifest at $dir/$hash — nothing committed"))
    }
    require(m.buckets == bucketCount,
      s"attachDurable: durable dir has bucket layout ${m.buckets}, this " +
        s"store expects $bucketCount — construct the store with " +
        s"entityBuckets matching the manifest")
    val schema = withVersion(Archetype.schemaOf(Archetype.signature(metas)))
    tables(hash) = Log(liveDurable(dir, hash, metas, m)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*), None)
    nextCommit(hash) = m.maxCommit + 1
    durableMaxV(hash) = m.maxV
    commitCounter.updateAndGet(v => math.max(v, m.maxV))
    entityCounter.updateAndGet(v => math.max(v, m.maxEntity))
    hash
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  /** Re-attach a persisted archetype table written by persist(). */
  def attach(metas: Seq[ComponentMeta], dir: String): String = {
    val hash = ensureTable(metas)
    val schema = withVersion(Archetype.schemaOf(Archetype.signature(metas)))
    val df = spark.read.parquet(s"$dir/$hash")
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    tables(hash) = Log(df, None)
    hash
  }

  // -------------------------------------------------------------------

  private def runScope = col("simulation") === simulation && col("run") === run

  /** Append version-stamped rows to an archetype's log. `frames` maps
    * every step the rows carry to its rows, or is None when the caller
    * cannot say; the log keeps its window-free reads only while no
    * append lands at a step it already holds.
    */
  private def put(hash: String, preparedWithVersion: DataFrame,
      frames: Option[Map[Long, DataFrame]]): Unit = {
    val log = tables(hash)
    val held = for (h <- log.frames; f <- frames if !f.keys.exists(h.contains))
      yield h ++ f
    tables(hash) = Log(log.df.unionByName(preparedWithVersion), held)
  }

  /** Materialize buffered single-row spawns into their tables. Their
    * ids come fresh from the counter, so one flush repeats no key.
    */
  def flush(): Unit = {
    pending.foreach { case (hash, rows) =>
      if (rows.nonEmpty) {
        val schema = withVersion(Archetype.schemaOf(sigByHash(hash)))
        val df = spark.createDataFrame(rows.toSeq.asJava, schema)
        // index 3 is `step` in addEntityValues' row layout
        put(hash, df, Some(rows.map(_.getLong(3)).distinct
          .map(s => s -> df.filter(col("step") === s)).toMap))
        rows.clear()
      }
    }
  }
}

object ArchetypeStore {
  val VersionCol = "_v"
  val MergeKeys: Seq[String] = Seq("simulation", "run", "entity_id", "step")

  /** One archetype's append log. While no (entity_id, step) key can
    * repeat in it, `frames` maps each step it holds to that step's
    * rows: the append that wrote them, or the last snapshot filtered to
    * the step. Its key set is the steps the log covers. `frames` is
    * None once an append may have rewritten a key — for good: the log
    * then resolves through the latest-wins window. One map entry
    * carries both, so a reader on another thread (the streaming ingest
    * appends from its own) never pairs a log with stale frames.
    */
  private final case class Log(df: DataFrame, frames: Option[Map[Long, DataFrame]])

  /** The log's rows under `scope`, latest `_v` per merge key: the scoped
    * log itself while no key can repeat, else the window.
    */
  private def resolveKeepVersion(log: Log, scope: org.apache.spark.sql.Column): DataFrame = {
    val scoped = log.df.filter(scope)
    if (log.frames.isDefined) scoped else latestWinsKeepVersion(scoped)
  }

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

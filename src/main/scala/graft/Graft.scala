package graft

import org.apache.spark.sql.SparkSession

/** Library entrypoint: one call gives a session with the whole graft
  * surface wired — the native as-of strategy and optimizer rules, every
  * `graft_*` SQL function, and the session defaults the suite is tuned
  * for. Users switching from the reference start here:
  *
  * {{{
  * val spark = Graft.session()                  // local dev
  * val spark = Graft.session("yarn", "my-app")  // cluster
  * spark.sql("SELECT graft_hll(user_id) FROM events")
  * }}}
  *
  * Every session in this repo comes from [[session]]: the oracle gate,
  * the bench, the profilers, the specs and the probes differ only in
  * master URL and app name. For a session built elsewhere (e.g. by a
  * platform), [[install]] retrofits the same surface, and
  * `spark.sql.extensions=graft.plans.GraftExtensions` registers it at
  * build time.
  */
object Graft {

  /** Spark's disk-backed keyed state store — the provider the
    * streaming tier (G7-G15, ECS ingestion) should run on at real key
    * cardinality: per-key point reads/writes hit RocksDB instead of an
    * all-keys-in-heap HashMap, so state size is bounded by disk, not
    * executor memory. Opt in per session:
    * `spark.conf.set("spark.sql.streaming.stateStore.providerClass", Graft.RocksDbProvider)`.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Get or create the session at `master` with the graft surface
    * installed and these SQL settings: UTC session time zone, AQE on,
    * parquet TIMESTAMP(NANOS) read as longs, and one shuffle partition
    * per default-parallelism slot (the core count locally; on a
    * cluster, the executor cores registered by then). The settings are
    * applied after `getOrCreate`, so a call that returns a live session
    * re-applies them too.
    *
    * The builder also installs the local file system
    * ([[NioLocalFileSystem]] as `fs.file.impl`, [[NioLocalFs]] as
    * `fs.AbstractFileSystem.file.impl`): without libhadoop, Hadoop's own
    * starts a `chmod` or `readlink` child process on every local file
    * create, mkdir and rename, about a hundred per streaming
    * micro-batch. It does both in java.nio instead and leaves symlinks,
    * sticky bits and file systems without POSIX attributes to Hadoop.
    * The two keys go into the SparkContext's Hadoop conf, so they take
    * effect when this call creates the context and no `file:` file
    * system is cached in the JVM yet; a live session keeps the file
    * system its context was built with.
    */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set(Tables.NanosAsLongKey, "true")
    s.conf.set("spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toString)
    install(s)
    s
  }

  /** Retrofit the graft surface onto an existing session: native as-of
    * join planning + the `graft_*` SQL function registry. Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    graft.plans.AsOfJoin.install(spark)
    graft.functions.GraftFunctions.register(spark)
  }
}

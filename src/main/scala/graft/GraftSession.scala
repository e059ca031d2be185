package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: Bench, Verify, every tool main and
  * the specs build their session here, so the contract below cannot drift
  * between them.
  *
  *  - UTC session time zone, pinned in code and not just by build.sbt's
  *    forked-JVM flag: the NTZ→TIMESTAMP fixture normalization is
  *    session-TZ-dependent, so a launch on a non-UTC host must not shift
  *    instants.
  *  - The Spark UI off.
  *  - The [[StateStoreConf]] state store.
  *
  * Nothing else: no extensions, no registered functions. The native
  * expressions enter queries as Columns (`ExprBridge.column`), so a
  * registered query runs on a session any caller builds.
  *
  * Building is idempotent (`getOrCreate`): a second call returns the live
  * session.
  */
object GraftSession {

  /** The RocksDB state store with changelog checkpointing, for every
    * engine session and every engine-owned drain: the default HDFS-backed
    * provider keeps ALL keyed streaming state (sessions, dedup keys,
    * interval-join buffers) on the executor heap — the one
    * memory-bound-at-100× component. RocksDB spills state to local disk
    * with a bounded block cache, and changelog checkpointing uploads
    * per-batch deltas instead of full snapshots. State values are
    * byte-identical either way (same encoders), so oracles are
    * unaffected.
    */
  val StateStoreConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Local session on `cpus` threads with `shufflePartitions` shuffle
    * partitions.
    */
  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(StateStoreConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local session sized from the environment: `SPARK_GRAFT_CPUS` threads
    * (default: every processor the JVM sees) and
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` shuffle partitions (default: the
    * thread count). The partition override exists for scale-proof sweeps:
    * per-task memory is heap/concurrency ÷ rows-per-partition, so a 100×
    * fixture on the same heap needs proportionally more, smaller
    * partitions to keep sorts and partial aggregates in memory (AQE
    * coalesces the small ones back, so over-partitioning is cheap).
    */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    local(cpus, sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(cpus))
  }
}

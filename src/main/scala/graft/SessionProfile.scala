package graft
import org.apache.spark.sql.SparkSession
/** The one Spark session set-up: Bench, Verify, Explain, Profile, Smoke and
  * the test suite all build their session here, so plans are audited,
  * timings profiled and specs run in the session the benchmark measures.
  *
  * Usage: `SessionProfile.start(SessionProfile.builder(SessionProfile.envCores))`;
  * a caller adds its own `.appName`/`.config` to the builder before `start`,
  * and those settings win over the profile's.
  */
object SessionProfile {

  /** Core count for the entry points: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session builder on `cores` cores (one shuffle partition per
    * core) with the engine's confs. */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet carries nanosecond timestamps, which Spark refuses
    // to read without this
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the PK collapse is a TypedImperativeAggregate (LatestRow) whose
    // buffer is ONE row - the default 128-entry ObjectHashAggregate
    // fallback would sort anyway; at ~128B/key 1M buffered keys is
    // ~128MB/partition, well within executor memory at this scale
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    // CBO on: the scans report fresh per-manifest-state row counts,
    // sizes AND column min/max/NDV (FooterStats), so selectivity
    // estimation runs on live numbers - the staleness that keeps
    // Spark's default off does not apply here
    .config("spark.sql.cbo.enabled", "true")
    // join reorder too: with measured per-column NDV free at plan
    // time (manifest HLL sketches), multi-join queries reorder by
    // estimated cardinality instead of SQL text order
    .config("spark.sql.cbo.joinReorder.enabled", "true")
    // Generated-class cache sized to the workload: the suite's 139
    // queries compile several hundred distinct codegen units per pass,
    // and the default 100-entry cache (StaticSQLConf
    // CODEGEN_CACHE_MAX_ENTRIES) thrashes — every pass recompiles most
    // plans. Measured on a 20-query subset: −8.8% total (16/20 queries
    // faster) at 3000 entries; memory cost is bounded (a few KB–100 KB
    // of generated class per entry). Scale-neutral: a production
    // session running a large query suite wants the same sizing.
    .config("spark.sql.codegen.cache.maxEntries", "3000")
    .config("spark.ui.enabled", "false")
    // Session-isolation hygiene: 132 queries × 3 passes in ONE JVM
    // accumulate status-store state even with the UI off — the
    // SQLAppStatusListener retains 1000 executions by default, each
    // carrying its full plan graph string, and the AppStatusListener
    // keeps per-job/stage/task rows. Round 11 measured a ~24% uniform
    // session drift (every query, trivial ones included) that idle
    // re-measures did not reproduce; capping retention keeps the
    // driver heap flat as the suite grows.
    .config("spark.sql.ui.retainedExecutions", "8")
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "200")
    .config("spark.ui.retainedTasks", "2000")
    .config("spark.ui.retainedDeadExecutors", "1")

  /** Create (or join) the session, set its log level, then apply the
    * engine's streaming-state defaults (RocksDB + changelog
    * checkpointing): the same call every stateful stream builder makes,
    * so every session runs the production state store. */
  def start(builder: SparkSession.Builder, logLevel: String = "WARN"): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.streaming.GraftStream.applyScaleStateStore(spark)
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The only session builder in the repo: the mains, the test suites and
  * perfbench all get their session here, so the conf a graft session runs
  * under is decided in one place. Shuffle parallelism is sized to the core
  * count instead of the 200 default, UTC for oracle parity, and the
  * engine's SQL functions registered. AQE (coalesce + skew-join) runs at
  * Spark's defaults.
  *
  * On a real cluster the same settings apply with
  * `spark.sql.shuffle.partitions` ≈ 2–3x total executor cores and
  * `spark.sql.files.maxPartitionBytes` tuned so a scan task's working set
  * fits executor memory; AQE re-coalesces the rest at runtime.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Fixture parquet stores tz-less timestamp[us]; read it as a UTC
      // instant (TIMESTAMP) rather than TIMESTAMP_NTZ so event-time
      // functions (unix_micros, window, watermarks) keep their proven
      // semantics — and so engine/oracle agree on the same instants.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")

  /** Build (or reuse) the session and make sure the engine functions are
    * registered even when an existing session was reused (getOrCreate
    * ignores new extensions on reuse).
    */
  def getOrCreate(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession = {
    val spark = builder(cores).getOrCreate()
    GraftExtensions.register(spark)
    spark
  }

  /** Core count for the env-driven mains: `SPARK_GRAFT_CPUS`, else
    * `default`.
    */
  def cpus(default: Int): Int = parseCpus(sys.env.get(CpusEnv), default)

  private val CpusEnv = "SPARK_GRAFT_CPUS"

  /** `*` means every available processor; any other value must be a
    * positive integer.
    */
  def parseCpus(raw: Option[String], default: Int): Int = raw match {
    case None => default
    case Some("*") => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CpusEnv must be '*' or a positive integer, got '$s'"))
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every graft main and test runs
  * under — the analog of the reference's single test-config fixture
  * (ErrorCaptureTopologyTest.getKafkaProperties()). Verify checks the
  * oracle, the specs test and Scratch/Plans profile exactly the plans
  * Bench times, so a setting added here reaches all of them at once.
  */
object Sessions {

  /** The committed bench baseline's core count. */
  val defaultCpus = 32

  /** Core count for the mains: SPARK_GRAFT_CPUS, else [[defaultCpus]]. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt)

  /** Every conf the session pins. Spec-pinned (SessionSpec):
    *  - UTC: oracle dates/timestamps render identically to DuckDB;
    *  - nanosAsLong: events.ts is LONG NANOS downstream — TIMESTAMP(NANOS)
    *    files read as long here, MICROS ones via Tables.withNanosTs;
    *  - ANSI on: failing casts/division throw, which is what TryCapture
    *    and ErrorFrame capture;
    *  - parallelismFirst=false: AQE coalesces to its advisory size
    *    instead of keeping one partition per core;
    *  - 64MB broadcast: dimension tables join without a shuffle;
    *  - shuffle partitions = cores.
    */
  private def conf(cpus: Int): Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
  )

  /** A `local[cpus]` session under [[conf]] (or the JVM's existing one,
    * reconfigured — getOrCreate semantics). */
  def local(cpus: Int = Sessions.cpus, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config(conf(cpus))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

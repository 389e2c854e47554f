package graft

import org.apache.spark.sql.SparkSession

/** The one session setup of every harness entry point: `Bench`,
  * `BenchExtra`, `Verify` and `Cli`.
  */
object Harness {

  /** Local-master core count: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A fresh session on `local[cores]` (or `master`, a deployment's own),
    * with one shuffle partition per core, AQE on, UTC and no UI. Any active
    * or default session is cleared first, so a harness that stops one
    * session and builds the next (Bench's scaling legs) gets the new conf.
    */
  def session(app: String, cores: Int = cpus,
      master: Option[String] = None): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // bypass-merge shuffle writer opens maps*reducers concurrent streams
      // (2048 at 32 cores / 64 buckets) and collapses into kernel-time
      // contention; the serialized sort writer keeps one spill file per
      // map task.
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built. Every main (Bench, Verify, Profile,
  * Explain, Scaling, GenData, PlanLedger) and the test session share these
  * settings: `local[cores]`, shuffle partitions = cores, UTC session time
  * zone, AQE on, no UI, log level WARN.
  *
  * Sessions come WITHOUT [[GraftExtensions]]: the native functions reach
  * them through `SparkEntry.queries`, and the extension's optimizer rule
  * would change the plans the ledger and the bench are defined on.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else this machine's core count. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder carrying the shared settings, for callers that add more. */
  def builder(cores: Int = GraftSession.cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  def apply(cores: Int = GraftSession.cores): SparkSession =
    builder(cores).getOrCreate()
}

package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main opens its SparkSession.
  *
  * Policy: `local[cpus]` with `cpus` from `SPARK_GRAFT_CPUS` (every core
  * of the machine when unset), one shuffle partition per worker thread,
  * UTC session time zone, UI off, log level WARN. Callers add their own
  * conf after the policy's, so an extra entry overrides it (QueryDebug's
  * audit turns AQE off; `core.Main` honours `SPARK_MASTER`).
  */
object Sessions {

  /** Worker threads of a local session. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The policy's conf for `cpus` worker threads, then `extraConf`. */
  private[graft] def conf(cpus: Int,
      extraConf: Seq[(String, String)]): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extraConf

  def local(appName: String, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
    conf(cpus, extraConf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

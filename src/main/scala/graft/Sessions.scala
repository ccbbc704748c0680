package graft
import org.apache.spark.sql.SparkSession

/** The one place that builds a local session. Every main and the test
  * suite's shared session come from here, so the settings cannot drift
  * between the timing and correctness mains (Bench, Verify) and the dev
  * tools.
  */
object Sessions {

  /** Cores for a main's session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The settings every session gets: one shuffle partition per core,
    * UTC so the events' NTZ→LTZ cast does not follow the host zone, and
    * no UI.
    */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Dev-only experiment confs as "k=v;k=v" (no test or benchmark sets
    * it): lets an A/B toggle AQE skew handling or broadcast thresholds
    * through the identical timing loop without forking the harness.
    */
  def extraConf(raw: Option[String]): Seq[(String, String)] =
    raw.toSeq.flatMap(_.split(";")).filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }

  /** The local session: [[settings]], then `extra`, then
    * `SPARK_GRAFT_EXTRA_CONF`, each later entry winning.
    */
  def local(cpus: Int = Sessions.cpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val confs = settings(cpus) ++ extra ++
      extraConf(sys.env.get("SPARK_GRAFT_EXTRA_CONF"))
    val spark = confs.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

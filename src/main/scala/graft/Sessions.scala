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

  /** The local session: [[settings]], then `extra`, each later entry
    * winning.
    */
  def local(cpus: Int = Sessions.cpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = (settings(cpus) ++ extra).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one local session Bench, Verify and Explain run in, so the plans
  * Explain prints are the plans Bench runs: `SPARK_GRAFT_CPUS` (default 4)
  * sets both the master's cores and the shuffle partitions; UTC; UI off. */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

package graft

import org.apache.spark.sql.SparkSession

/** The one local-session policy: every main and the test suite get
  * their SparkSession here. `local[n]` with n shuffle partitions, UTC
  * session time zone (date/timestamp output must not depend on the
  * host's zone), no web UI, WARN logging. `cpus` defaults to
  * `$SPARK_GRAFT_CPUS` (else "32") and is used as given. */
object Session {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

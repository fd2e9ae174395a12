package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session, built in one place.
  *
  * `engineConfs` mirror the confs `graft.Bench` sets (extensions,
  * TIMESTAMP_MICROS writes, nanos-as-long reads, UTC, UI off) so the
  * benchmark measures the engine the way `graft.Bench` runs it; a
  * shared session builder in the program can replace this list later.
  * `isolationConfs` keep every file Spark writes under the run's own
  * work directory.
  */
object Session {
  def engineConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def isolationConfs(work: String): Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1")

  def build(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    (engineConfs(cores) ++ isolationConfs(work)).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

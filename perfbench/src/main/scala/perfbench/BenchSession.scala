package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session, built the way `graft.Bench` builds its
  * own: the same master shape and confs, with `GraftExtensions`. The only
  * additions are placement confs that keep every byte the engine writes
  * inside the benchmark's work directory. */
object BenchSession {
  /** Bench's confs for `cpus` cores (SelfTest pins them to Bench.scala). */
  def benchConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def master(cpus: Int): String = s"local[$cpus]"

  /** Where-to-write confs, not engine behaviour. */
  def placementConfs(workDir: String): Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse")

  def create(cpus: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder().master(master(cpus))
    (benchConfs(cpus) ++ placementConfs(workDir)).foreach { case (k, v) =>
      b.config(k, v)
    }
    val spark = b.withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

/** The extension-operator mix: `graft.SparkEntry.queries` bodies over the
  * fixed seed-42 tables. The untimed warm-up pass writes each result as
  * parquet next to its oracle SQL, for the DuckDB check the launcher runs
  * after the JVM exits; timed passes use `count()`, as `graft.Bench` does,
  * and must return the warm-up's row count. */
final class Mix(spark: SparkSession, tr: Tracer, dataDir: String,
    outDir: String, queries: Seq[String]) {

  private val bodies = queries.map { q =>
    q -> graft.SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query $q"))
  }.toMap

  /** Warm-up: run each body once, keep its result for the oracle check. */
  def warmup(): Map[String, Long] = {
    val oracle = graft.SparkEntry.oracleSql
    val json = queries.map { q =>
      Report.str(q) + ":" + Report.str(oracle.getOrElse(q,
        throw new IllegalStateException(s"no oracle SQL for $q")))
    }.mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "oracle_sql.json"), json)
    queries.map { q =>
      bodies(q)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$q")
      q -> spark.read.parquet(s"$outDir/$q").count()
    }.toMap
  }

  /** One timed execution of `q`: (query, seconds). */
  def run(rep: Report, expected: Map[String, Long], q: String): (String, Double) = {
    val fn = bodies(q)
    val t0 = System.nanoTime()
    val n = tr.span(s"ext.$q") { fn(spark, dataDir).count() }
    val s = (System.nanoTime() - t0) / 1e9
    rep.check(n == expected(q), s"$q: $n rows, warm-up gave ${expected(q)}")
    q -> s
  }
}

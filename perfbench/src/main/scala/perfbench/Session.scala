package perfbench

import org.apache.spark.sql.SparkSession

/** The session every run measures: the same configuration as `graft.Bench`
  * (extensions, bounded plan strings, UTC, long-GC hardening), at
  * `local[cpus]` with one shuffle partition per cpu. The warehouse and local
  * dirs belong to the run, so no run reads another run's files. */
object Session {
  def build(cpus: Int, runDir: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.maxPlanStringLength",
        graft.core.HostAnchor.maxPlanStringLength)
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

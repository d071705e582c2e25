package graft.core

import org.apache.spark.sql.SparkSession

/** The one way every graft main and the test suite start Spark, so a
  * bench, a correctness dump, a demo and a spec all run the same engine.
  * The only knobs are the app name and the cpu count.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, otherwise every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per cpu, no UI, UTC session
    * time, the [[graft.GraftExtensions]] functions and rules, and bounded
    * plan-description strings (see [[HostAnchor]]). Logs at WARN. */
  def build(appName: String, cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.maxPlanStringLength", HostAnchor.maxPlanStringLength)
      // long-GC hardening: with a large heap on a bursty host a
      // stop-the-world pause can outlive the default heartbeat budget, and
      // in local mode the "executor" then declares its own driver dead (an
      // RPC self-destruct observed killing a ScaleCurve session, exit 56).
      // A single-JVM process gains nothing from tight liveness probes.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // NO spark.speculation: under master=local[N] TaskSchedulerImpl
      // starts the speculation thread only when !isLocal, so it would be a
      // silent no-op here. The local mitigations are Bench's min-of-reps
      // and ScaleCurve's min-of-2 plus one targeted retry. On a cluster the
      // submitter should still set spark.speculation=true (quantile 0.75,
      // multiplier 2.0): the bimodal stalled-tail class in
      // tools/bench_notes_r12/r14 is exactly what it re-launches.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

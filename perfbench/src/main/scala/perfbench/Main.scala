package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One measured run of one workload, in its own JVM (perfbench/run.py
  * starts it; see perfbench/README.md). Writes the run's record as one
  * JSON object to `--out`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *     --run-dir DIR --data DIR --expected FILE --out FILE [--spans FILE]
  *     [--record-expected FILE]
  */
object Main {
  /** Set-up is repeated this many times in a run and its median reported. */
  val setupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val runDir = Paths.get(a("run-dir"))
    val data = Paths.get(a("data"))
    val recordTo = a.get("record-expected")
    val expected = if (recordTo.isDefined) Map.empty[String, String] else readExpected(Paths.get(a("expected")))
    val wl = Workloads(workload, seed, data, expected)

    // set-up: JVM start -> session ready -> inputs generated and landed; the
    // first repetition includes the JVM start, the others rebuild the session
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setups = (1 to setupReps).map { r =>
      // the previous repetition's garbage is not this one's cost
      if (r > 1) System.gc()
      val t0 = System.nanoTime()
      if (spark != null) Session.stop(spark)
      spark = Session.build(cpus, runDir)
      wl.setup(spark, runDir.resolve(s"in$r"))
      if (r == 1) (System.currentTimeMillis() - jvmStart) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }

    val trace: Trace = if (traced) new Tracer(spark, s"$workload-$seed") else NoTrace
    // closed loop: each pass, and each operation in it, starts after the
    // previous one has finished. The number of passes follows from
    // --seconds and the workload's nominal pass time, never from how fast
    // this host is, so every run of a workload does the same work.
    val nPasses =
      if (recordTo.isDefined) 1 else math.max(1, math.round(seconds / wl.nominalPassS).toInt)
    val stall0 = cpuStallS()
    val (steal0, gc0, jit0) = (stealS(), gcS(), jitS())
    val passCpu = mutable.ArrayBuffer[Double]()
    val passes = (1 to nPasses).map { p =>
      val c0 = processCpuS()
      try wl.pass(spark, p, runDir.resolve(s"pass$p"), trace)
      finally passCpu += processCpuS() - c0
    }
    val stallS = cpuStallS() - stall0
    val (stolenS, gcPassS, jitPassS) = (stealS() - steal0, gcS() - gc0, jitS() - jit0)
    val liveMb = liveHeapMb()
    val perLayer = trace.metrics()
    a.get("spans").foreach(s => trace.writeSpans(Paths.get(s)))

    // host anchor: fixed synthetic work, outside the measured region. It
    // takes seconds, so only the traced run pays for it; every run records
    // the host's cpu stall time instead.
    val anchor = if (traced) graft.core.HostAnchor.anchorOnce(spark, cpus) else 0.0
    val rssMb = peakRssMb()

    recordTo.foreach { f =>
      val seen = parts(wl).collect { case q: QueryMix => q.seen }.flatten
      Files.write(Paths.get(f), seen.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    val ops = passes.flatMap(_.ops).toSeq
    val lat = passes.flatMap(_.latencyS).sorted
    val (tailPct, tailValue, beyond) = Stats.tail(lat)
    val extras = mutable.LinkedHashMap[String, Double]()
    passes.headOption.foreach(_.extras.foreach { case (k, v) => extras(k) = v })
    parts(wl).collect { case s: StreamMaintain => s.indexes }.flatten.foreach {
      case (loop, (mb, files)) =>
        extras(s"streaming.$loop.index_mb") = mb
        extras(s"streaming.$loop.segments") = files.toDouble
    }
    val failures = ops.filterNot(_.ok).map(o => s"${o.name}: ${o.note}")
    val rec = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "attempted" -> ops.size, "failed" -> failures.size,
      "setup_s" -> Stats.median(setups), "setup_reps_s" -> setups,
      "wall_s" -> Stats.median(passes.map(_.wallS)),
      "pass_walls_s" -> passes.map(_.wallS), "pass_cpu_s" -> passCpu.toSeq,
      "latency_p50_s" -> Stats.median(lat),
      "latency_tail_s" -> tailValue, "latency_tail_pct" -> tailPct,
      "latency_tail_beyond" -> beyond, "latency_samples" -> lat.size,
      "peak_rss_mb" -> rssMb, "heap_live_mb" -> liveMb,
      "host_anchor_s" -> anchor, "host_cpu_stall_s" -> stallS,
      "host_steal_s" -> stolenS, "gc_s" -> gcPassS, "jit_s" -> jitPassS,
      "extras" -> extras.toMap, "per_layer" -> perLayer,
      "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok)),
      "failures" -> failures.toSeq)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(a("out")), (json.writeValueAsString(rec) + "\n").getBytes("UTF-8"))
    Session.stop(spark)
  }

  private def parts(w: Workload): Seq[Workload] = w match {
    case s: Sequence => s.parts.flatMap(parts)
    case other => Seq(other)
  }

  /** `name<TAB>fingerprint` lines. */
  def readExpected(p: Path): Map[String, String] =
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filter(_.contains('\t')).map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  /** Time runnable tasks on this host waited for a cpu (PSI "some"
    * total); its growth over the measured region shows a contended host. */
  def cpuStallS(): Double = try {
    scala.io.Source.fromFile("/proc/pressure/cpu").getLines()
      .collectFirst { case l if l.startsWith("some") =>
        l.split(" ").find(_.startsWith("total=")).get.stripPrefix("total=").toDouble / 1e6 }
      .getOrElse(0.0)
  } catch { case _: java.io.IOException => 0.0 }

  /** Cpu time the hypervisor gave to others while this host's cpus wanted
    * it (the steal column of /proc/stat). */
  def stealS(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100 else 0.0
  } catch { case _: java.io.IOException => 0.0 }

  /** Time the JVM's collectors and its JIT compilers have spent so far. */
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Cpu time of every thread of this JVM so far. */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap still in use after a full collection: what the engine keeps
    * (caches, memos, session state) once the measured work is done. */
  def liveHeapMb(): Double = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of these percentiles with at least ten samples above it
    * (nearest rank), its value and the number of samples above it. With
    * fewer than twenty samples none qualifies, and the median is reported
    * as the 50th percentile. */
  def tail(sorted: Seq[Double]): (Double, Double, Int) = {
    val n = sorted.size
    def at(p: Double): (Double, Double, Int) = {
      val rank = math.max(1, math.ceil(p / 100 * n).toInt)
      (p, sorted(rank - 1), n - rank)
    }
    if (n == 0) (50.0, 0.0, 0)
    else Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).map(at).find(_._3 >= 10)
      .getOrElse((50.0, median(sorted), n / 2))
  }
}

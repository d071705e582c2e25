package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive._
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the engine's layers. The
  * untraced run uses [[NoTrace]], so it measures the engine alone. */
trait Trace {
  /** Runs `body` as one call into `layer`. `kind` is "construct" (the call
    * returns a DataFrame), "call" (it returns a result) or "action" (the
    * benchmark consumes a returned DataFrame). Jobs fired inside construct
    * and call spans are eager jobs, and their time is construction time.
    * Jobs of a `composed` call are billed to the layer whose code fired
    * them, read from their call site. */
  def span[T](layer: String, kind: String, composed: Boolean = false)(body: => T): T
  /** Exchanges and post-AQE partitions of an executed DataFrame's final plan. */
  def plan(df: DataFrame): Unit
  /** Bills a started streaming query's progress to `loop`. */
  def stream(loop: String, id: java.util.UUID): Unit
  /** Per-layer metrics, computed after every event has been delivered. */
  def metrics(): Map[String, Double]
  /** Writes the spans, one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit
}

object NoTrace extends Trace {
  def span[T](layer: String, kind: String, composed: Boolean)(body: => T): T = body
  def plan(df: DataFrame): Unit = ()
  def stream(loop: String, id: java.util.UUID): Unit = ()
  def metrics(): Map[String, Double] = Map.empty
  def writeSpans(path: java.nio.file.Path): Unit = ()
}

final class Tracer(spark: SparkSession, runId: String) extends Trace {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = new JobListener
  private val streams = new ProgressListener
  sc.addSparkListener(jobs)
  spark.streams.addListener(streams)

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Long]
  private var nextId = 0L
  private var exchanges = 0L
  private var postAqeParts = 0L
  private val loops = mutable.HashMap[String, String]()
  private var unsettled = 0

  def span[T](layer: String, kind: String, composed: Boolean)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = open.headOption
    open = id :: open
    sc.setJobGroup(group(id), s"$layer/$kind", interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      open = open.tail
      parent match {
        case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, layer, kind, composed, t0, t1, parent.getOrElse(0L))
      // the call has returned, but its jobs' end events may still be queued
      PerfbenchBus.drain(sc, 120000)
      if (!jobs.awaitGroup(group(id), 120000)) unsettled += 1
    }
  }

  def plan(df: DataFrame): Unit = {
    def walk(p: SparkPlan, underRead: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, underRead)
      case r: AQEShuffleReadExec =>
        postAqeParts += r.partitionSpecs.size
        walk(r.child, underRead = true)
      case s: QueryStageExec =>
        exchanges += 1
        s match {
          case q: ShuffleQueryStageExec if !underRead =>
            postAqeParts += q.outputPartitioning.numPartitions
          case _ =>
        }
        // the stage's own exchange is counted above; descend below it
        s.plan match {
          case _: ReusedExchangeExec =>
          case e => e.children.foreach(walk(_, underRead = false))
        }
      case e: Exchange =>
        exchanges += 1
        e.children.foreach(walk(_, underRead = false))
      case other =>
        other.children.foreach(walk(_, underRead = false))
        other.subqueries.foreach(walk(_, underRead = false))
    }
    walk(df.queryExecution.executedPlan, underRead = false)
  }

  def stream(loop: String, id: java.util.UUID): Unit = loops(id.toString) = loop

  def metrics(): Map[String, Double] = {
    PerfbenchBus.drain(sc, 120000)
    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val spanOf = spans.map(s => group(s.id) -> s).toMap
    val all = jobs.snapshot()

    // (job, layer it is billed to, span that caused it) for every job a span caused
    val billed = all.flatMap { j =>
      spanOf.get(j.group).map { s =>
        val layer =
          if (s.composed) layerOf(jobs.callSite(j)).getOrElse(s.layer) else s.layer
        (j, layer, s)
      }
    }
    for ((j, layer, s) <- billed) {
      val m = jobs.stageTotals(j)
      add(s"$layer.tasks", m.tasks)
      add(s"$layer.exec_cpu_s", m.cpuNs / 1e9)
      add(s"$layer._run_s", m.runMs / 1e3)
      add(s"$layer.shuffle_mb", m.shuffleWrite / 1e6)
      add(s"$layer.written_mb", m.output / 1e6)
      if (s.kind != "action") add(s"$layer.eager_jobs", 1)
    }
    for (s <- spans if !s.composed) {
      add(s"${s.layer}.wall_s", s.seconds)
      if (s.kind != "action") add(s"${s.layer}.construct_s", s.seconds)
    }
    // inside a composed call a layer's wall is the time one of its jobs
    // ran, and its construction the window from its first job to its last
    for (s <- spans if s.composed) {
      val mine = billed.filter(_._3.id == s.id)
      mine.groupBy(_._2).foreach { case (layer, js) =>
        val iv = js.map(b => (b._1.start, b._1.end))
        add(s"$layer.wall_s", union(iv) / 1e3)
        add(s"$layer.construct_s", (iv.map(_._2).max - iv.map(_._1).min) / 1e3)
      }
      val busy = union(mine.map(b => (b._1.start, b._1.end))) / 1e3
      add(s"${s.layer}.wall_s", s.seconds)
      add(s"${s.layer}.idle_s", s.seconds - busy)
      add(s"${s.layer}.eager_jobs", mine.size)
      add(s"${s.layer}._run_s", mine.map(b => jobs.stageTotals(b._1).runMs).sum / 1e3)
    }
    for (k <- out.keys.toSeq if k.endsWith("._run_s")) {
      val layer = k.stripSuffix("._run_s")
      val wall = out.getOrElse(s"$layer.wall_s", 0.0)
      if (wall > 0) out(s"$layer.parallelism") = out(k) / wall
      out.remove(k)
    }

    val scans = jobs.scanStages()
    if (scans.nonEmpty) {
      add("core.scan.tasks_per_stage", scans.map(_.tasks).sum.toDouble / scans.size)
      add("core.scan.input_mb", scans.map(_.input).sum / 1e6)
    }
    add("plans.exchanges", exchanges.toDouble)
    add("plans.post_aqe_partitions", postAqeParts.toDouble)

    streams.snapshot().groupBy(p => loops.get(p.queryId)).foreach {
      case (Some(loop), ps) =>
        val trig = ps.map(_.triggerMs).sorted
        add(s"streaming.$loop.batch_p50_s", trig(trig.size / 2) / 1e3)
        add(s"streaming.$loop.add_batch_s", ps.map(_.addBatchMs).sum / 1e3)
        add(s"streaming.$loop.input_rows", ps.map(_.rows).sum.toDouble)
      case _ =>
    }
    add("trace.unsettled_groups", unsettled.toDouble)
    out.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.layer}",""" +
        s""""kind":"${s.kind}","composed":${s.composed},"start_ms":${s.start},"end_ms":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Long, layer: String, kind: String, composed: Boolean,
      start: Long, end: Long, parent: Long) {
    def seconds: Double = (end - start) / 1e3
  }

  private def group(id: Long) = s"perfbench-$id"

  /** The engine packages a job can be billed to, innermost frame first.
    * The composed churn pipeline's own frames fire the fused Silver
    * action, which belongs to the warehouse layer. */
  private val layerPkgs = Set("ingest", "validate", "quality", "clean", "features",
    "normalize", "ml", "warehouse", "analytics", "streaming")

  def layerOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim).collectFirst(Function.unlift { f: String =>
      val parts = f.takeWhile(_ != '(').split('.')
      if (f.startsWith("graft.app.DailyPipeline")) Some("warehouse")
      else if (parts.length >= 3 && parts(0) == "graft" && layerPkgs(parts(1))) {
        if (parts(1) == "analytics") Some(s"analytics.${parts(2).stripSuffix("$")}")
        else Some(parts(1))
      } else None
    })

  /** Length of the union of [start, end) intervals, in their unit. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      val from = math.max(s, cur)
      if (e > from) { total += e - from; cur = e }
    }
    total
  }

  final case class Job(id: Int, group: String, execId: Long, start: Long,
      end: Long, stages: Seq[Int], stageCallSite: String)
  final class StageM(var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var shuffleWrite: Long = 0, var output: Long = 0, var input: Long = 0)

  final class JobListener extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stages = mutable.HashMap[Int, StageM]()
    private val execCallSite = mutable.HashMap[Long, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, -1L,
        e.stageIds, e.stageInfos.headOption.map(_.details).getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
      notifyAll()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = stages.getOrElseUpdate(si.stageId, new StageM)
      m.tasks += si.numTasks
      Option(si.taskMetrics).foreach { t =>
        m.runMs += t.executorRunTime
        m.cpuNs += t.executorCpuTime
        m.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        m.output += t.outputMetrics.bytesWritten
        m.input += t.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execCallSite(s.executionId) = s.details
      }
      case _ =>
    }

    /** Waits until every job started under `group` has ended. */
    def awaitGroup(group: String, timeoutMs: Long): Boolean = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      def pending = jobs.valuesIterator.exists(j => j.group == group && j.end < 0)
      while (pending && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      !pending
    }

    def snapshot(): Seq[Job] = synchronized {
      // a job still running when the run ends is billed up to now
      val now = System.currentTimeMillis()
      jobs.values.map(j => if (j.end < 0) j.copy(end = now) else j).toSeq
    }

    /** AQE fires a query's jobs from its own threads, so the stage call
      * site often names the thread pool; the SQL execution's call site is
      * the one of the thread that ran the query. */
    def callSite(j: Job): String = synchronized {
      execCallSite.getOrElse(j.execId, j.stageCallSite)
    }

    /** A stage shared by several jobs is billed to the first that listed it. */
    def stageTotals(j: Job): StageM = synchronized {
      val owned = j.stages.filter(s => owner.get(s).contains(j.id))
      val t = new StageM
      owned.flatMap(stages.get).foreach { m =>
        t.tasks += m.tasks; t.runMs += m.runMs; t.cpuNs += m.cpuNs
        t.shuffleWrite += m.shuffleWrite; t.output += m.output; t.input += m.input
      }
      t
    }
    private def owner: Map[Int, Int] =
      jobs.values.toSeq.reverse.flatMap(j => j.stages.map(_ -> j.id)).toMap

    def scanStages(): Seq[StageM] = synchronized { stages.values.filter(_.input > 0).toSeq }
  }

  final case class Progress(queryId: String, triggerMs: Long, addBatchMs: Long, rows: Long)

  final class ProgressListener extends StreamingQueryListener {
    private val seen = mutable.ArrayBuffer[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        seen += Progress(p.id.toString, ms("triggerExecution"), ms("addBatch"), p.numInputRows)
      }
    def snapshot(): Seq[Progress] = synchronized(seen.toSeq)
  }
}

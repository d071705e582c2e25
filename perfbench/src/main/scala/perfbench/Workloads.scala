package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics._

/** One operation of a pass: a query, a pipeline step, or one streaming
  * loop's wave from landed to committed. */
final case class Op(name: String, seconds: Double, ok: Boolean, note: String = "")

/** `wallS` runs from the pass's first input to its last committed result
  * and leaves out the benchmark's own output checks. The latency metrics
  * are taken over `latencies`, by default every operation's. */
final case class Pass(ops: Seq[Op], wallS: Double, extras: Map[String, Double] = Map.empty,
    latencies: Option[Seq[Double]] = None) {
  def latencyS: Seq[Double] = latencies.getOrElse(ops.map(_.seconds))
}

/** Work timed between `timed` calls; time spent checking outputs is not. */
final class Stopwatch {
  private var ns = 0L
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ns += System.nanoTime() - t0
  }
  def seconds: Double = ns / 1e9
}

trait Workload {
  /** About how long one pass takes at 4 cpus; a run makes
    * round(seconds / nominalPassS) passes. */
  def nominalPassS: Double
  /** Generates and lands the run's inputs under `dir`. Called once per
    * set-up repetition; the last call's inputs are the ones measured. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Pass `p` (from 1), writing under the fresh directory `dir`. */
  def pass(spark: SparkSession, p: Int, dir: Path, t: Trace): Pass
}

object Workloads {
  def apply(name: String, seed: Long, data: Path, expected: Map[String, String]): Workload =
    name match {
      case "churn_daily" => new ChurnDaily(seed)
      case "registry_streams" => new Sequence(
        new StreamMaintain(seed, data),
        new QueryMix(data, expected, Seq(
          "RelQueries" -> pick(RelQueries.defs, "q02_revenue_by_nation"),
          "WindowQueries" -> pick(WindowQueries.defs, "q51_running_spend"),
          "StatQueries" -> pick(StatQueries.defs, "q174_logreg_gd"),
          // q255 writes a persisted gram index while it is built, then probes it
          "DedupQueries" -> pick(DedupQueries.defs, "q255_incremental_exact_substring"),
          "VectorQueries" -> pick(VectorQueries.defs, "q156_random_projection"),
          "TextQueries" -> pick(TextQueries.defs, "q244_url_canonicalize"))))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  /** The named queries of a family; a name the registry lacks is an error. */
  def pick(defs: Seq[QueryDef], names: String*): Seq[QueryDef] = names.map(n =>
    defs.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"no query $n")))

  /** Runs one operation, timing it and turning an exception into a failure. */
  def op(name: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    try {
      val ok = body
      Op(name, (System.nanoTime() - t0) / 1e9, ok, if (ok) "" else "wrong output")
    } catch {
      case NonFatal(e) =>
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
    }
  }

  def tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

/** Several workloads' passes run back to back as one pass. */
final class Sequence(val parts: Workload*) extends Workload {
  val nominalPassS: Double = parts.map(_.nominalPassS).sum
  def setup(spark: SparkSession, dir: Path): Unit =
    parts.zipWithIndex.foreach { case (w, i) => w.setup(spark, dir.resolve(s"part$i")) }
  def pass(spark: SparkSession, p: Int, dir: Path, t: Trace): Pass = {
    val ps = parts.zipWithIndex.map { case (w, i) => w.pass(spark, p, dir.resolve(s"part$i"), t) }
    Pass(ps.flatMap(_.ops), ps.map(_.wallS).sum, ps.flatMap(_.extras).toMap,
      Some(ps.flatMap(_.latencyS)))
  }
}

/** Registry queries of some families, every one once per pass, in the
  * order given. The order is fixed, not drawn from the seed: a query that
  * runs early pays for warming code paths that later ones share, so a
  * seeded order moves the latency median with the order alone. The timed
  * action is the full-row fingerprint, which is compared with the one
  * recorded for the query. */
final class QueryMix(data: Path, expected: Map[String, String],
    families: Seq[(String, Seq[QueryDef])]) extends Workload {
  val nominalPassS = 1.5 * families.map(_._2.size).sum
  private val all = families.flatMap { case (f, defs) => defs.map(f -> _) }
  /** Fingerprints of the last pass, for recording expected values. */
  val seen = mutable.LinkedHashMap[String, String]()

  def setup(spark: SparkSession, dir: Path): Unit =
    Workloads.tables.foreach(t => spark.read.parquet(data.resolve(s"$t.parquet").toString).schema)

  def pass(spark: SparkSession, p: Int, dir: Path, t: Trace): Pass = {
    val sw = new Stopwatch
    val ops = all.map { case (family, q) =>
      val layer = s"analytics.$family"
      val o = sw.timed(Workloads.op(q.name) {
        val df = t.span(layer, "construct")(q.fn(spark, data.toString))
        val fp = t.span(layer, "action")(RowHash.of(df, t.plan)).toString
        seen(q.name) = fp
        expected.get(q.name).contains(fp)
      })
      // as graft.Bench: intermediates a query persisted are not left for the next
      sw.timed(spark.catalog.clearCache())
      o
    }
    Pass(ops, sw.seconds)
  }
}

/** The paper's daily batch: churn CSV → Silver through `DailyPipeline.run`,
  * model training and scoring, the Gold partition, then a closed-loop
  * dashboard session on its results, on a churn table generated from the
  * seed. */
final class ChurnDaily(seed: Long) extends Workload {
  val nominalPassS = 50.0
  val users = 4000
  /** The dashboard requests of a pass, in an order drawn from the seed. */
  val requests: Seq[String] = new Random(seed).shuffle(
    Seq("lookup_user", "churn_rate_by_country", "churn_distribution").flatMap(Seq.fill(4)(_)))
  private var csv = ""
  /** The users the lookups ask for, one per lookup. */
  private var lookupIds = Seq.empty[String]
  private var firstDashboard: Option[String] = None

  def setup(spark: SparkSession, dir: Path): Unit = {
    csv = dir.resolve("raw_csv").toString
    graft.core.ChurnFixture.df(spark, users, seed)
      .write.mode("overwrite").option("header", "true").csv(csv)
    val rnd = new Random(seed)
    lookupIds = requests.filter(_ == "lookup_user").map(_ => f"U${rnd.nextInt(users)}%05d")
  }

  def pass(spark: SparkSession, p: Int, dir: Path, t: Trace): Pass = {
    import graft.analytics.ChurnAnalytics
    import graft.ml.ChurnModel
    import graft.warehouse.Sinks
    val sw = new Stopwatch
    val silverDir = dir.resolve("silver").toString
    val goldDir = dir.resolve("gold").toString
    val ops = mutable.ArrayBuffer[Op]()
    val extras = mutable.HashMap[String, Double]()
    def run(name: String)(body: => Boolean): Unit = ops += sw.timed(Workloads.op(name)(body))
    val dash = "analytics.ChurnAnalytics"

    run("daily_pipeline") {
      val r = t.span("pipeline.DailyPipeline", "call", composed = true)(
        graft.app.DailyPipeline.run(spark, csv,
          bronzePath = Some(dir.resolve("bronze").toString), silverPath = Some(silverDir)))
      r.rowsOut == users && r.validation.total == users && r.validation.valid == users
    }
    lazy val silver = spark.read.parquet(silverDir)
    var model: Option[org.apache.spark.ml.PipelineModel] = None
    run("train") {
      val r = t.span("ml", "call")(ChurnModel.train(silver, ChurnModel.Config(maxIter = 10)))
      model = Some(r.model)
      extras("model_auc") = r.test.rocAuc
      extras("model_accuracy") = r.test.accuracy
      r.test.passesGate
    }
    run("score_to_gold") {
      val scored = t.span("ml", "construct")(ChurnModel.score(model.get, silver)
        .select("user_id", "churn_probability", "confidence", "churn_prediction"))
      t.span("warehouse", "action")(Sinks.writeGold(scored, goldDir, "20260101"))
      true
    }
    var gold: Option[DataFrame] = None
    run("read_latest_gold") {
      val latest = t.span("warehouse", "construct")(Sinks.readLatestGold(spark, goldDir))
      gold = Some(latest)
      t.span("warehouse", "action")(latest.count()) == users
    }

    // the dashboard: aggregates over Silver and point lookups on Gold (the
    // /predict/{user_id} read path), each request after the previous one;
    // an aggregate must read the same on every request
    val dashboard = mutable.LinkedHashMap[String, String]()
    def same(kind: String, rows: Array[org.apache.spark.sql.Row]) =
      dashboard.getOrElseUpdate(kind, rows.mkString(";")) == rows.mkString(";")
    val ids = lookupIds.iterator
    requests.foreach {
      case kind @ "churn_rate_by_country" => run(kind) {
        val df = t.span(dash, "construct")(ChurnAnalytics.churnRateByCountry(silver))
        val rows = t.span(dash, "action")(df.collect())
        same(kind, rows) && rows.map(_.getAs[Long]("total_users")).sum == users
      }
      case kind @ "churn_distribution" => run(kind) {
        val df = t.span(dash, "construct")(ChurnAnalytics.churnDistribution(silver))
        val rows = t.span(dash, "action")(df.collect())
        same(kind, rows) && rows.map(_.getAs[Long]("n")).sum == users &&
          math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9
      }
      case kind => run(kind) {
        val df = t.span(dash, "construct")(ChurnAnalytics.lookupUser(gold.get, ids.next()))
        val rows = t.span(dash, "action")(df.collect())
        rows.length == 1 && {
          val pr = rows(0).getAs[Double]("churn_probability")
          pr >= 0 && pr <= 1
        }
      }
    }
    // the same inputs must give the same dashboard on every pass
    val fp = dashboard.values.mkString("|")
    if (firstDashboard.exists(_ != fp))
      ops += Op("dashboard_repeatable", 0.0, ok = false, "dashboard differs from pass 1")
    firstDashboard = firstDashboard.orElse(Some(fp))
    // the operation a batch's user waits for is the whole daily run, from
    // the CSV landed to the dashboard served; the steps and requests are
    // checked and recorded one by one
    Pass(ops.toSeq, sw.seconds, extras.toMap, latencies = Some(Seq(sw.seconds)))
  }
}

/** Seeded waves through the streaming maintenance loops. Each wave is
  * landed, then every loop drains it (AvailableNow) before the next wave
  * lands. A loop's operation runs from its wave landed to its commit
  * visible. */
final class StreamMaintain(seed: Long, data: Path) extends Workload {
  import graft.streaming.Streaming
  val nominalPassS = 13.0
  /** The corpus is split into this many seeded parts; `waves` of them land. */
  val splits = 2
  val waves = 1
  val churnPerWave = 1000
  private var first: Option[Seq[String]] = None
  /** Index sizes after a pass: loop -> (MB on disk, data files). */
  val indexes = mutable.LinkedHashMap[String, (Double, Int)]()

  private var docs: DataFrame = _
  private var vecs: DataFrame = _

  /** The waves are drawn from the seed here and written when they land. */
  def setup(spark: SparkSession, dir: Path): Unit = {
    def byWave(df: DataFrame, idCol: String) =
      df.withColumn("_wave", pmod(xxhash64(col(idCol), lit(seed)), lit(splits)))
    docs = byWave(graft.core.Tables.documents(spark, data.toString), "doc_id")
    vecs = byWave(graft.core.Tables.embeddings(spark, data.toString)
      .select("vec_id", "embedding"), "vec_id")
  }

  def pass(spark: SparkSession, p: Int, dir: Path, t: Trace): Pass = {
    import graft.ops.{SketchStats, TextDedup, TextRank, VectorSim}
    import graft.warehouse.{IncrementalAgg, VersionedTable}
    val sw = new Stopwatch
    val ops = mutable.ArrayBuffer[Op]()
    def d(s: String) = dir.resolve(s).toString
    val docsRaw = dir.resolve("docs_raw")
    val vecsRaw = dir.resolve("vecs_raw")
    val churnRaw = dir.resolve("churn_raw")
    val doc = (k: Int) => docs.filter(col("_wave") === k).drop("_wave")
    val vec = (k: Int) => vecs.filter(col("_wave") === k).drop("_wave")
    val docSchema = doc(0).schema
    var monotone = true

    def loop(name: String, k: Int)(start: => org.apache.spark.sql.streaming.StreamingQuery): Unit =
      ops += sw.timed(Workloads.op(s"$name.w$k") {
        t.span(s"streaming.$name", "call") {
          val q = start
          t.stream(name, q.id)
          val done = q.awaitTermination(120000)
          q.exception.foreach(e => throw e)
          done
        }
      })

    (0 until waves).foreach { k =>
      // land wave k: every loop's source dir gets the wave's files
      sw.timed {
        graft.core.ChurnFixture.df(spark, churnPerWave, seed * 1000 + k).coalesce(1)
          .write.mode("append").option("header", "true").csv(churnRaw.toString)
        doc(k).coalesce(1).write.mode("append").parquet(docsRaw.toString)
        vec(k).coalesce(1).write.mode("append").parquet(vecsRaw.toString)
        // the view's table snapshot k: every doc of waves 0..k, measure moved by k
        docs.filter(col("_wave") <= k)
          .select(col("doc_id"), col("source"), (col("n_chars") + lit(k)).as("n_chars"))
          .coalesce(1).write.parquet(d(s"state_$k"))
      }
      loop("ingestStream", k)(Streaming.ingestStream(spark, churnRaw.toString,
        d("silver"), d("ckpt/ingest"), transform = _.withColumn("_wave", lit(k))))
      loop("incrementalDedupStream", k)(Streaming.incrementalDedupStream(
        spark.readStream.schema(docSchema).parquet(docsRaw.toString),
        d("minhash_idx"), d("pairs"), d("ckpt/dedup")))
      loop("incrementalVectorDedupStream", k)(Streaming.incrementalVectorDedupStream(
        spark.readStream.schema(vec(0).schema).parquet(vecsRaw.toString),
        d("sign_idx"), d("vpairs"), d("ckpt/vdedup"), threshold = 0.25))
      loop("searchIndexMaintenanceStream", k)(Streaming.searchIndexMaintenanceStream(
        spark.readStream.schema(docSchema).parquet(docsRaw.toString),
        d("search_idx"), d("ckpt/search"), compactEvery = 1))
      loop("sketchStatsStream", k)(Streaming.sketchStatsStream(
        spark.readStream.schema(docSchema).parquet(docsRaw.toString),
        d("sketch"), d("ckpt/sketch"), "doc_id", compactEvery = 1))
      loop("materializedViewStream", k) {
        val state = d(s"state_$k")
        Streaming.materializedViewStream(
          spark.readStream.schema(spark.read.parquet(state).schema).parquet(state),
          d("mv_tbl"), d("mv_view"), d(s"ckpt/mview_$k"), Seq("doc_id"), "source", "n_chars")
      }
      // each index grows by exactly its wave
      val docsSoFar = (0 to k).map(doc(_).count()).sum
      val vecsSoFar = (0 to k).map(vec(_).count()).sum
      monotone &&= TextDedup.readMinhashIndex(spark, d("minhash_idx")).count() == docsSoFar &&
        VectorSim.readSignIndex(spark, d("sign_idx")).count() == vecsSoFar
    }

    // the streamed results must equal the batch computations over the same waves
    def pairs(path: String) = spark.read.parquet(path).select("id_new", "id_old")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allDocs = (0 until waves).map(doc).reduce(_ unionByName _)
    val silverRows = spark.read.parquet(d("silver")).count()
    val streamedPairs = pairs(d("pairs"))
    val directPairs = (1 until waves).flatMap { k =>
      TextDedup.incrementalNearDups(doc(k), TextDedup.minhashSignatures(
        (0 until k).map(doc).reduce(_ unionByName _), "text", "doc_id"), "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    val vStreamed = pairs(d("vpairs"))
    val vDirect = (1 until waves).flatMap { k =>
      VectorSim.incrementalCosineNearDups(vec(k), VectorSim.signIndex(
        (0 until k).map(vec).reduce(_ unionByName _), "vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.25, probeBits = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    val terms = Seq("the", "spark", "join", "window")
    def bm(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val served = bm(TextRank.bm25Indexed(spark, d("search_idx"), "doc_id", terms))
    val scanned = bm(TextRank.bm25(allDocs, "text", "doc_id", terms))
    val est = SketchStats.hllDistinct(spark, d("sketch")).head().getLong(0)
    val exact = allDocs.select("doc_id").distinct().count()
    def view(df: DataFrame) = IncrementalAgg.present(df, "source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val maintained = view(VersionedTable.read(spark, d("mv_view")))
    val recomputed = view(IncrementalAgg.countSumView(
      VersionedTable.read(spark, d("mv_tbl")), "source", "n_chars"))
    val versions = (VersionedTable.currentVersion(spark, d("mv_tbl")),
      VersionedTable.currentVersion(spark, d("mv_view")))

    val gate = Map(
      "ingestStream" -> (silverRows == churnPerWave.toLong * waves),
      "incrementalDedupStream" -> (monotone && streamedPairs == directPairs),
      "incrementalVectorDedupStream" -> (monotone && vStreamed == vDirect),
      "searchIndexMaintenanceStream" -> (served == scanned && served.nonEmpty),
      "sketchStatsStream" -> (math.abs(est - exact).toDouble / exact < 0.05),
      "materializedViewStream" -> (maintained == recomputed && maintained.nonEmpty &&
        versions._1 == versions._2 && versions._1.contains(waves - 1L)))
    // a later pass must reproduce the first pass's results exactly
    val results = Seq(silverRows, streamedPairs.toSeq.sorted, vStreamed.toSeq.sorted,
      served.toSeq.sorted, est, maintained.toSeq.sorted).map(_.toString)
    val repeatable = first.forall(_ == results)
    first = first.orElse(Some(results))
    for ((loopName, dirName) <- Seq("incrementalDedupStream" -> "minhash_idx",
        "incrementalVectorDedupStream" -> "sign_idx", "searchIndexMaintenanceStream" -> "search_idx",
        "sketchStatsStream" -> "sketch", "materializedViewStream" -> "mv_view",
        "ingestStream" -> "silver"))
      indexes(loopName) = Du.of(dir.resolve(dirName))

    val checked = ops.map { o =>
      val loopName = o.name.takeWhile(_ != '.')
      if (o.ok && !(gate.getOrElse(loopName, false) && repeatable))
        o.copy(ok = false, note = if (repeatable) "streamed != batch" else "differs from pass 1")
      else o
    }
    Pass(checked.toSeq, sw.seconds)
  }
}

/** Bytes and data files under a directory. */
object Du {
  def of(dir: Path): (Double, Int) = {
    if (!Files.exists(dir)) return (0.0, 0)
    val files = Files.walk(dir).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
    val data = files.filter { f =>
      val n = f.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
    }
    (files.map(Files.size).sum / 1e6, data.length)
  }
}

package pipebench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftSession
import graft.ingest.UsgsGeoJson
import graft.jobs.{BronzeToSilver, SilverToGold, TrainTsunamiModel}
import graft.queries.GoldQueries
import graft.sources.{LakeFormat, ParquetLake, ParquetWarehouse, TxnLake}

/** One benchmark run: generate a workload's bronze from the seed, warm up,
  * run the paper's daily job (land → bronze-to-silver → silver-to-gold →
  * tsunami model + predictions) and the gold dashboard's report pages over
  * what it wrote, check every output, and write the metrics as JSON.
  *
  * Layers are called directly in `PipelineMain`'s order, never through its
  * retry wrapper, so a failure is counted as a failure and not as a slower
  * pass. With `--trace 1` the measured passes are traced (spans plus
  * [[Trace.LayerListener]]) and give the per-layer metrics; end-to-end
  * metrics come from runs with `--trace 0`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, work: String, result: String, spans: String,
                        scale: Double, injectWrong: Boolean)

  /** A workload: its bronze (from the seed and a size factor) and the
    * lake format its silver is written in. */
  final case class Workload(name: String, bronze: (Long, Double) => Gen.Bronze, lake: LakeFormat)

  val Workloads: Map[String, Workload] = Seq(
    Workload("daily_single_doc", (s, k) => Gen.singleDoc(s, (12000 * k).toInt), ParquetLake),
    Workload("backfill_sharded", (s, k) => Gen.sharded(s, (12000 * k).toInt, docs = 12), TxnLake)
  ).map(w => w.name -> w).toMap

  /** Measured passes per run: one per this many seconds of `--seconds`. */
  val SecondsPerPass = 10.0

  /** Bronze landings per pass; their median is the set-up time. */
  val Landings = 5

  /** Report pages the dashboard serves after each pass publishes gold. */
  val PagesPerPass = 1
  val AucFloor = 0.85
  val Layers = Seq("BronzeToSilver", "SilverToGold", "TrainTsunamiModel")
  val Functions = Seq("totalEvents", "avgMagnitude", "maxMagnitude", "tsunamiWarningsIssued",
    "eventsByDateLevel", "eventsByCountry", "magnitudeMap", "sliceValues",
    "tsunamiSliceValues", "magnitudeSliceValues")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("work"), m("result"), m("spans"),
      m.getOrElse("scale", "1").toDouble, m.getOrElse("inject-wrong-expectation", "0") == "1")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.getOrElse(o.workload, sys.error(s"unknown workload ${o.workload}"))
    val spark = GraftSession.local(o.cpus.toString)
    try Files.writeString(Paths.get(o.result), new Run(spark, o, w).execute())
    finally spark.stop()
  }

  def secs(ns: Long): Double = ns / 1e9
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
  }

  /** Every path under `p`, `p` first; empty when `p` does not exist. */
  def tree(p: Path): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toVector)

  def deleteTree(p: Path): Unit = tree(p).reverse.foreach(Files.delete)

  /** Count and bytes of the regular files under `dir` that `keep` admits. */
  def listing(dir: Path, keep: Path => Boolean): (Long, Long) = {
    val fs = tree(dir).filter(f => Files.isRegularFile(f) && keep(f))
    (fs.size.toLong, fs.iterator.map(Files.size).sum)
  }

  final case class CycleTimes(landS: Seq[Double], b2sS: Double, s2gS: Double,
                              mlS: Double, auc: Double, spans: Map[String, Long]) {
    def goldS: Double = b2sS + s2gS
    def totalS: Double = b2sS + s2gS + mlS
  }

  final case class PageTimes(pageS: Double, visualS: Seq[(String, Double, Long)])
}

final class Run(spark: SparkSession, o: Main.Opts, w: Main.Workload) {
  import Main._

  private val sc = spark.sparkContext
  private val ledger = new Ledger
  private val tracer = new Trace.Tracer(sc, s"${o.workload}-${o.seed}")
  private val listener = new Trace.LayerListener
  private val pool = Executors.newFixedThreadPool(o.cpus)
  private val lakeRoot = Paths.get(o.work, "lake")
  private val MB = 1024.0 * 1024.0

  /** PipelineMain's lake layout under `root`. */
  private final case class LakePaths(root: Path) {
    val bronzeDir: Path = root.resolve("bronze")
    val silver: String = root.resolve("silver/earthquakes_cleaned").toString
    val gold: String = root.resolve("gold").toString
    val model: String = root.resolve("ml_models/tsunami_rf").toString
    val predictions: String = root.resolve("gold/tsunami_predictions").toString
  }

  /** Turn tracing on for `body` when `on`: spans plus the listener. */
  private def traced[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      sc.addSparkListener(listener)
      tracer.enabled = true
      try body
      finally {
        tracer.enabled = false
        org.apache.spark.PipebenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One daily-job pass over `bronze` into a fresh lake. None if a layer threw. */
  private def cycle(bronze: Gen.Bronze, root: Path): Option[Main.CycleTimes] = {
    val p = LakePaths(root)
    tracer.span("cycle") { cyc =>
      val spanIds = scala.collection.mutable.Map.empty[String, Long]
      def layer[T](name: String)(body: => T): Option[(T, Double)] =
        tracer.span(name, cyc) { id =>
          spanIds(name) = id
          ledger.call(name)(timed(body))
        }
      deleteTree(root)
      val single = bronze.docs.size == 1
      val input = if (single) p.bronzeDir.resolve("raw_earthquakes.json") else p.bronzeDir
      for {
        (landings, _) <- layer("UsgsGeoJson") {
          // set-up, repeated for a steady median: clear and land the bronze
          Vector.fill(Landings) {
            timed {
              deleteTree(p.bronzeDir)
              bronze.docs.zipWithIndex.foreach { case (doc, i) =>
                val f = if (single) input else p.bronzeDir.resolve(f"fetch_$i%03d.json")
                UsgsGeoJson.writeBronze(f.toString, doc)
              }
            }._2
          }
        }
        (silver, b2sS) <- layer("BronzeToSilver") {
          BronzeToSilver.run(spark, input.toString, p.silver, lake = w.lake)
        }
        (_, s2gS) <- layer("SilverToGold") { SilverToGold.run(spark, p.silver, p.gold, w.lake) }
        (res, mlS) <- layer("TrainTsunamiModel") {
          val r = TrainTsunamiModel.run(spark, silver, Some(p.model))
          r.predictions.write.mode("overwrite").parquet(p.predictions)
          r
        }
      } yield CycleTimes(landings, b2sS, s2gS, mlS, res.aucRoc, spanIds.toMap)
    }
  }

  private type Visual = (ParquetWarehouse, GoldQueries.SlicerState) => DataFrame

  /** The report page: 7 data visuals (the line chart at its 4 drill levels)
    * under the slicer state, plus the 3 slicer domains. Each reads its
    * tables through the warehouse, as the report does. */
  private val visuals: Seq[(String, Visual)] = {
    def t(wh: ParquetWarehouse, n: String) = wh.readTable(spark, n)
    def sliced(wh: ParquetWarehouse, s: GoldQueries.SlicerState) =
      GoldQueries.slicedFact(t(wh, "fact_earthquake_events"), t(wh, "dim_date"), t(wh, "dim_magnitude"), s)
    Seq[(String, Visual)](
      ("totalEvents", (wh, s) => GoldQueries.totalEvents(sliced(wh, s))),
      ("avgMagnitude", (wh, s) => GoldQueries.avgMagnitude(sliced(wh, s))),
      ("maxMagnitude", (wh, s) => GoldQueries.maxMagnitude(sliced(wh, s))),
      ("tsunamiWarningsIssued", (wh, s) => GoldQueries.tsunamiWarningsIssued(sliced(wh, s)))) ++
      Seq("Year", "Quarter", "Month", "Day").map { level =>
        (s"eventsByDateLevel.$level", ((wh, s) =>
          GoldQueries.eventsByDateLevel(sliced(wh, s), t(wh, "dim_date"), level)): Visual)
      } ++ Seq[(String, Visual)](
      ("eventsByCountry", (wh, s) => GoldQueries.eventsByCountry(sliced(wh, s), t(wh, "dim_location"))),
      ("magnitudeMap", (wh, s) =>
        GoldQueries.magnitudeMap(sliced(wh, s), t(wh, "dim_location"), t(wh, "dim_magnitude"))),
      ("sliceValues", (wh, _) => GoldQueries.sliceValues(t(wh, "dim_date"))),
      ("tsunamiSliceValues", (wh, _) => GoldQueries.tsunamiSliceValues(t(wh, "fact_earthquake_events"))),
      ("magnitudeSliceValues", (wh, _) => GoldQueries.magnitudeSliceValues(t(wh, "dim_magnitude"))))
  }

  /** One page, its visuals concurrent on the pool. None if a visual threw. */
  private def page(goldPath: String, state: Slicers.State,
                   checkWith: Option[Expect.Outputs]): Option[Main.PageTimes] = {
    val wh = new ParquetWarehouse(goldPath)
    val gs = state.toGold
    val (outcome, pageS) = timed {
      tracer.span("page") { pg =>
        val futures = visuals.map { case (name, v) =>
          pool.submit(new Callable[Option[(String, Array[Row], Double, Long)]] {
            def call() = tracer.span(s"GoldQueries.${name.takeWhile(_ != '.')}", pg) { id =>
              ledger.call(s"GoldQueries.$name") {
                val (rows, s) = timed(v(wh, gs).collect())
                (name, rows, s, id)
              }
            }
          })
        }
        futures.map(_.get())
      }
    }
    if (outcome.exists(_.isEmpty)) None
    else {
      val done = outcome.flatten
      checkWith.foreach(exp => Checks.page(ledger, exp, state, done.map(d => d._1 -> d._2).toMap))
      Some(PageTimes(pageS, done.map(d => (d._1, d._3, d._4))))
    }
  }

  def execute(): String = {
    val (bronze, genS) = timed(w.bronze(o.seed, o.scale))
    val (exp0, expS) = timed(Expect.outputs(bronze.recs))
    val exp = if (o.injectWrong) exp0.copy(silverPrint = exp0.silverPrint + 1) else exp0
    val dates = exp.silver.map(_.date)
    val states = Slicers.sequence(o.seed, dates.min, dates.max, 4096)

    // warm-up: one pass and page over a quarter-size bronze of the same
    // shape, not recorded, so class loading, codegen and the first JIT
    // tiers are behind the measured passes
    val (warm, warmCycleS) = timed(cycle(w.bronze(o.seed, o.scale / 4), lakeRoot))
    val (_, warmPageS) = timed(page(LakePaths(lakeRoot).gold, states.last, None))

    val cycles = ArrayBuffer.empty[Main.CycleTimes]
    val pages = ArrayBuffer.empty[Main.PageTimes]
    /** One pipeline pass, then its report refresh; false if a call threw. */
    def pass(i: Int): Boolean = {
      System.gc() // every pass starts from the same heap state
      cycle(bronze, lakeRoot) match {
        case Some(c) =>
          cycles += c
          ledger.check(s"pass $i model AUC-ROC", c.auc >= AucFloor, f"${c.auc}%.4f < $AucFloor")
          (0 until PagesPerPass).forall { j =>
            val s = states((i * PagesPerPass + j) % states.size)
            page(LakePaths(lakeRoot).gold, s, Some(exp)).map(pages += _).isDefined
          }
        case None => false
      }
    }

    // a fixed number of passes per run, one per 10 s asked for, so every
    // run samples the same stretch of the JVM's warm-up curve; with
    // --trace 1 every measured pass is traced
    val t0 = System.nanoTime()
    val passes = math.max(2, math.round(o.seconds / SecondsPerPass).toInt)
    val ok = traced(o.trace)((0 until passes).forall(pass))
    if (ok) {
      val p = LakePaths(lakeRoot)
      Checks.pipeline(spark, ledger, exp, w.lake, p.silver, p.gold, p.predictions)
    }
    val measuredS = secs(System.nanoTime() - t0)
    val sources = sourceMetrics(bronze)
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    if (o.trace) tracer.write(o.spans)

    val complete = ok && pages.nonEmpty
    val metrics =
      if (!complete) Map.empty[String, Double]
      else if (o.trace) perLayer(bronze, cycles.toSeq, pages.toSeq) ++ sources
      else endToEnd(bronze, cycles.toSeq, pages.toSeq)
    Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "correct" -> (ok && ledger.failed == 0), "attempted" -> ledger.attempted,
      "failed" -> ledger.failed, "failures" -> ledger.failures.take(20).toVector,
      "metrics" -> metrics,
      "run" -> Map("features" -> bronze.features, "documents" -> bronze.docs.size,
        "bronze_mb" -> bronze.bytes / MB, "silver_rows" -> exp.silver.size,
        "fact_rows" -> exp.factRows, "generate_s" -> genS, "expect_s" -> expS,
        "warmup_pass_s" -> warmCycleS, "warmup_page_s" -> warmPageS, "measured_s" -> measuredS,
        "pass_s" -> (warm.toSeq ++ cycles).map(c => Map("B2S" -> c.b2sS, "S2G" -> c.s2gS, "ML" -> c.mlS)),
        "pass_total_s_median" -> (if (cycles.isEmpty) Double.NaN else median(cycles.map(_.totalS).toSeq)),
        "auc" -> cycles.map(_.auc), "page_s" -> pages.map(_.pageS), "unattributed_jobs" -> listener.unattributedJobs,
        "spans" -> (if (o.trace) o.spans else "")),
      "host" -> host())
  }

  private def endToEnd(bronze: Gen.Bronze, cs: Seq[Main.CycleTimes],
                       ps: Seq[Main.PageTimes]): Map[String, Double] = {
    val visualS = ps.flatMap(_.visualS.map(_._2))
    Map(
      "setup_s" -> median(cs.flatMap(_.landS)),
      "time_to_gold_s" -> median(cs.map(_.goldS)),
      "events_per_s" -> bronze.features / median(cs.map(_.totalS)),
      "page_s.p50" -> median(ps.map(_.pageS)),
      "page_s.p95" -> pct(ps.map(_.pageS), 0.95),
      "visual_s.p50" -> median(visualS),
      "visual_s.p95" -> pct(visualS, 0.95),
      "pages_per_s" -> ps.size / ps.map(_.pageS).sum,
      "peak_rss_mb" -> peakRssMb())
  }

  private def spanById: Map[Long, Trace.Span] = tracer.all.map(s => s.id -> s).toMap

  private def perLayer(bronze: Gen.Bronze, tc: Seq[Main.CycleTimes],
                       pages: Seq[Main.PageTimes]): Map[String, Double] = {
    val spans = spanById
    val out = Map.newBuilder[String, Double]
    for (l <- Layers) {
      val rows = tc.map { c =>
        val s = spans(c.spans(l))
        val a = listener.get(s.id).getOrElse(new Trace.Acc)
        val wall = s.durNs / 1e9
        val taskS = a.taskMs / 1000.0
        Map("wall_s" -> wall,
          "driver_s" -> Trace.uncoveredMs(s.startMs, s.endMs, a.jobIntervals.toSeq) / 1000.0,
          "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble, "task_s" -> taskS,
          "max_task_s" -> a.maxTaskMs / 1000.0, "core_util" -> taskS / (wall * o.cpus),
          "gc_s" -> a.gcMs / 1000.0, "input_mb" -> a.inputBytes / MB,
          "shuffle_write_mb" -> a.shuffleWriteBytes / MB, "spill_mb" -> a.spillBytes / MB,
          "output_mb" -> a.outputBytes / MB, "rows_out" -> a.rowsOut.toDouble,
          "read_amplification" -> a.inputBytes.toDouble / bronze.bytes,
          "keep_ratio" -> a.rowsOut.toDouble / bronze.features)
      }
      val keys = rows.head.keys.filter(k => l == "BronzeToSilver" ||
        !Set("read_amplification", "keep_ratio").contains(k))
      keys.foreach(k => out += s"$l.$k" -> median(rows.map(_(k))))
    }
    out += "UsgsGeoJson.wall_s" -> median(tc.flatMap(_.landS))
    out += "UsgsGeoJson.mb" -> bronze.bytes / MB

    val vs = pages.flatMap(_.visualS)
    val accs = vs.map { case (_, _, id) =>
      val s = spans(id)
      val a = listener.get(id).getOrElse(new Trace.Acc)
      (s, a, Trace.uncoveredMs(s.startMs, s.endMs, a.jobIntervals.toSeq) / 1000.0)
    }
    val n = vs.size.toDouble
    out += "GoldQueries.jobs_per_visual" -> accs.map(_._2.jobs).sum / n
    out += "GoldQueries.task_s_per_visual" -> accs.map(_._2.taskMs).sum / 1000.0 / n
    out += "GoldQueries.input_mb_per_visual" -> accs.map(_._2.inputBytes).sum / MB / n
    out += "GoldQueries.driver_share" -> accs.map(_._3).sum / accs.map(_._1.durNs / 1e9).sum
    for (f <- Functions)
      out += s"GoldQueries.$f.s_p50" -> median(vs.filter(_._1.takeWhile(_ != '.') == f).map(_._2))

    out.result()
  }

  /** What the last pass stored, counted by listing its output directories. */
  private def sourceMetrics(bronze: Gen.Bronze): Map[String, Double] = {
    val p = LakePaths(lakeRoot)
    def data(f: Path) = f.getFileName.toString.endsWith(".parquet")
    val (sf, sb) = listing(Paths.get(p.silver), f => data(f) && !f.toString.contains("_txn_log"))
    val goldTables = Seq("dim_date", "dim_location", "dim_magnitude", "dim_event_type",
      "fact_earthquake_events")
    val gold = goldTables.map(t => listing(Paths.get(p.gold, t), data))
    val (gf, gb) = (gold.map(_._1).sum, gold.map(_._2).sum)
    val (_, logB) = listing(Paths.get(p.silver, "_txn_log"), _ => true)
    Map("sources.silver_files" -> sf.toDouble, "sources.silver_mb" -> sb / MB,
      "sources.gold_files" -> gf.toDouble, "sources.gold_mb" -> gb / MB,
      "sources.stored_per_bronze_byte" -> (sb + gb).toDouble / bronze.bytes,
      "sources.txn_log_kb" -> logB / 1024.0)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** The context a wall time depends on: threads actually used, the page
    * cache the host had, and the JVM heap. */
  private def host(): Map[String, Any] = {
    val cacheMb = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/meminfo")).asScala
        .filter(l => l.startsWith("Cached:") || l.startsWith("Buffers:"))
        .map(_.split("\\s+")(1).toLong).sum / 1024
    }.getOrElse(-1L)
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    Map("threads" -> sc.defaultParallelism, "cpus" -> o.cpus, "cache_mb" -> cacheMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "heap_setting" -> jvmArgs.filter(_.startsWith("-Xm")).mkString(" "),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
  }
}

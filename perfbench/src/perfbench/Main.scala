package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.json4s.JsonAST._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** One benchmark run in a fresh JVM. Sets up the phases, runs each in a
  * closed loop from a single client thread for its share of the measured
  * time, and writes every raw sample (and, when tracing, the raw trace) to
  * `--out` as JSON. `perfbench/run.py` turns that into metrics. */
object Main {

  /** Phases in run order, each with its share of the measured time. */
  private val Phases = Seq("training_pipeline" -> 0.25, "feature_refresh" -> 0.3, "analytics_mix" -> 0.45)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a.get("dump_oracle").foreach { path => dumpOracle(path); return }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val data = a("data")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    Trace.enabled = a.get("trace").contains("1")
    val boxStart = Box.sample()

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (Trace.enabled) builder.config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (Trace.enabled) spark.sparkContext.addSparkListener(new Trace.EngineListener)

    val rec = new Recorder
    val training = new TrainingPipeline(spark, data, work, seed, rec)
    val refresh = new FeatureRefresh(spark, data, work, seed, rec)
    val analytics = new AnalyticsMix(spark, data, work, rec)
    val iteration: Map[String, () => Unit] = Map(
      "training_pipeline" -> (() => training.repetition()),
      "feature_refresh" -> (() => refresh.cycle()),
      "analytics_mix" -> (() => analytics.pass()))
    val setupParts: Seq[(String, () => Unit)] = Seq(
      "analytics_mix.graph" -> (() => analytics.setupGraph()),
      "feature_refresh" -> (() => refresh.setup()),
      "training_pipeline" -> (() => training.setup()),
      "analytics_mix.index" -> (() => analytics.setupIndex()))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    rec.facts("setup.session_s") = JDouble((System.currentTimeMillis() - jvmStartMs) / 1000.0)
    // The set-up parts share nothing (each has its own stores and
    // artifacts), so they run side by side: most of a set-up is the JVM's
    // first Spark jobs, and run one after another they took half a run.
    val setups = setupParts.map { case (p, f) =>
      p -> Future {
        val t0 = System.nanoTime()
        Trace.span(s"setup.$p")(f())
        (System.nanoTime() - t0) / 1e9
      }(ExecutionContext.global)
    }
    setups.foreach { case (p, f) => rec.facts(s"setup.$p.seconds") = JDouble(Await.result(f, Duration.Inf)) }
    rec.add("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0)

    // Each phase runs at least one whole iteration, and more while the
    // mean so far says the next one ends inside its share of the time.
    val measureStart = System.nanoTime()
    Phases.foreach { case (p, share) =>
      val t0 = System.nanoTime()
      val budget = seconds * share
      var n = 0
      Trace.span(s"phase.$p") {
        def elapsed = (System.nanoTime() - t0) / 1e9
        while (n == 0 || elapsed + elapsed / n <= budget) {
          iteration(p)(); n += 1
        }
      }
      rec.facts(s"$p.iterations") = JInt(n)
      rec.facts(s"$p.seconds") = JDouble((System.nanoTime() - t0) / 1e9)
    }
    rec.facts("measured_seconds") = JDouble((System.nanoTime() - measureStart) / 1e9)
    val finishStart = System.nanoTime()
    training.finish()
    refresh.finish()
    rec.facts("finish_seconds") = JDouble((System.nanoTime() - finishStart) / 1e9)

    if (Trace.enabled) Thread.sleep(1500) // let the listener bus drain
    val out: JValue = ("run_id" -> Trace.runId) ~ ("cores" -> cores) ~
      ("peak_rss_mb" -> Box.peakRssMb()) ~ ("box_start" -> boxStart) ~ ("box_end" -> Box.sample()) ~
      ("record" -> rec.toJson) ~ ("trace" -> (if (Trace.enabled) Trace.dump() else JNothing))
    spark.stop()
    Files.write(Paths.get(a("out")), JsonMethods.compact(JsonMethods.render(out)).getBytes(StandardCharsets.UTF_8))
  }

  /** The DuckDB oracle SQL of the analytics queries that have one. */
  private def dumpOracle(path: String): Unit = {
    val sql = AnalyticsMix.pass.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _))
    val json: JValue = JObject(sql.map { case (q, s) => q -> (JString(s): JValue) }.toList)
    Files.write(Paths.get(path), JsonMethods.pretty(JsonMethods.render(json)).getBytes(StandardCharsets.UTF_8))
  }
}

/** Machine context recorded next to the metrics (not a metric itself). */
object Box {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8) catch { case _: Exception => "" }

  def sample(): JValue = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+")
    val steal = if (cpu.length > 8) cpu(8).toLong else -1L
    val load = read("/proc/loadavg").trim.split("\\s+").take(3).flatMap(_.toDoubleOption).toList
    ("ms" -> System.currentTimeMillis()) ~ ("steal_jiffies" -> steal) ~ ("loadavg" -> load)
  }

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

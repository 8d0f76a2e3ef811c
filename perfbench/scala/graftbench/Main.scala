package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** How a pass is measured.
  *  - plain: the program's own entry points, nothing recorded; the passes
  *    the end-to-end metrics come from.
  *  - engine: the program's own entry points with the SparkListener and
  *    StreamingQueryListener attached and harness spans on.
  *  - spans: the transfer topology re-composed from the program's public
  *    functions (`TracedPipeline`), for spans that have no seam in the
  *    program's own code path. */
object Mode {
  val Plain = "plain"
  val Engine = "engine"
  val Spans = "spans"
}

/** Per-run state shared by the workloads: the session, the output root,
  * the timed-pass loop and the measurement window around one pass. */
final class Ctx(val spark: SparkSession, val out: Path, seconds: Double,
    val modes: Seq[String], cores: Int) {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val layer = new SparkLayer(spark, cores)
  var setupS = 0.0
  val warm = ArrayBuffer.empty[Double]

  /** Process start until timed work can begin. */
  def setupDone(): Unit = setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Run passes until `seconds` of passes have elapsed, cycling through
    * `modes` forward then backward (plain, engine, engine, plain, ...).
    * With more than one mode at least one whole cycle runs, so every mode
    * gets two passes whose mean position is the same, and pass walls that
    * still fall as the JVM warms do not bias one mode against another. */
  def timedPasses(f: (Int, String) => Map[String, Any]): Seq[Map[String, Any]] = {
    val t0 = System.nanoTime()
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val cycle = modes ++ modes.reverse
    val min = if (modes.size > 1) cycle.size else 1
    while (passes.size < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = passes.size
      passes += f(i, cycle(i % cycle.size))
    }
    passes.toSeq
  }

  final case class Window(t0: Long, t1: Long, wallS: Double,
      stream: Map[String, Double], engine: Map[String, Double])

  /** Harness spans that engine spans may hang under. */
  private val Anchors = Set("pass", "query")

  /** Time `body`, which receives the id of the pass's root span. An
    * engine window also records engine events and summarises them; engine
    * and spans windows record spans. */
  def window(mode: String, name: String)(body: Long => Unit): Window = {
    val engine = mode == Mode.Engine
    if (engine) layer.attach()
    Trace.on = mode != Mode.Plain
    val gc0 = Jvm.gcSeconds()
    val (r0, s0, e0) = layer.cache.snapshot
    val passId = Trace.nextId()
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    body(passId)
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    Trace.on = false
    if (mode != Mode.Plain) Trace.record(passId, 0, name, "pass", t0, t1)
    if (!engine) Window(t0, t1, (t1 - t0) / 1e9, Map.empty, Map.empty)
    else {
      val gc = Jvm.gcSeconds() - gc0
      layer.detach()
      val settled = System.nanoTime()
      layer.emitSpans(w0, w1, t0, settled, Trace.within(t0, t1).filter(s => Anchors(s.name)))
      val (r1, s1, e1) = layer.cache.snapshot
      Window(t0, t1, (t1 - t0) / 1e9, layer.streamWindow(t0, settled),
        layer.window(w0, w1) ++ Map("gc_s" -> gc, "cache_readd" -> (r1 - r0).toDouble,
          "cache_spill" -> (s1 - s0).toDouble, "cache_evict" -> (e1 - e0).toDouble))
    }
  }
}

/** JVM side of the benchmark.
  *
  *   graftbench.Main run <workload> <workDir> <seconds> <modes> [fixtures]
  *   graftbench.Main datagen <outDir> <sf>
  *
  * `run` reads the generated inputs under <workDir>/in, writes program
  * outputs under <workDir>/out and its own record to
  * <workDir>/out/harness.json (spans to <workDir>/out/spans.jsonl). */
object Main {
  val Cores = 4

  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$Cores]", Cores)
      .appName("graftbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "datagen" :: out :: sf :: Nil =>
      val spark = session(Paths.get(out).getParent)
      try graft.tools.DataGen.generate(spark, out, sf.toDouble)
      finally spark.stop()
    case "run" :: workload :: workDir :: seconds :: modes :: rest =>
      run(workload, Paths.get(workDir), seconds.toDouble, modes.split(",").toSeq,
        rest.headOption)
    case _ =>
      System.err.println("usage: graftbench.Main run|datagen ...")
      sys.exit(2)
  }

  private def run(workload: String, work: Path, seconds: Double, modes: Seq[String],
      fixtures: Option[String]): Unit = {
    val out = Files.createDirectories(work.resolve("out"))
    val originNs = System.nanoTime()
    val spark = session(work)
    val ctx = new Ctx(spark, out, seconds, modes, Cores)
    var errors = Seq.empty[String]
    val passes =
      try workload match {
        case "stream-small-files" =>
          val props = new java.util.Properties
          val in = Files.newBufferedReader(work.resolve("in/workload.properties"))
          try props.load(in) finally in.close()
          Transfer.run(ctx, props)
        case "analytics-mix" =>
          val mix = Files.readAllLines(work.resolve("in/mix.txt")).toArray
            .map(_.toString.trim).filter(_.nonEmpty).toSeq
          Analytics.run(ctx, mix, fixtures.getOrElse(sys.error("analytics-mix needs fixtures")))
        case other => sys.error(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          errors :+= s"${e.getClass.getSimpleName}: ${e.getMessage}"
          Seq.empty
      } finally spark.stop()
    Trace.write(out.resolve("spans.jsonl"), originNs)
    Files.writeString(out.resolve("harness.json"), Json.obj(Seq(
      "workload" -> workload, "setup_s" -> ctx.setupS, "peak_rss_mb" -> Jvm.peakRssMb(),
      "warm_s" -> ctx.warm.toSeq,
      "errors" -> errors, "passes" -> passes)))
  }
}

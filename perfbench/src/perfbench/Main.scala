package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir>
  *
  * Set-up is a fresh session plus seeded input generation, repeated
  * [[SetupReps]] times, then the workload's warm-up runs of the chain;
  * `setup_s` is the median repetition plus the warm-up runs. The timed
  * pass then runs the chain with tracing off the workload's number of
  * times, and on until `--seconds` have passed, checking the output after
  * every run. With `--trace 1` a traced pass replaces it: untraced and traced
  * runs alternate, and the result holds the per-layer metrics instead of
  * the end-to-end ones. The last line of stdout is the result; the line
  * before it holds the per-iteration detail. */
object Main {

  val SetupReps = 3
  val MinTraced = 2

  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, work: String = "")

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors

  def session(dir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cpus, 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  final case class Iter(wallS: Double, cpuS: Double, files: Long,
      bytes: Long, loadavg: Double, otherPct: Double, runqMs: Double)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val wl = Workloads(a.workload)
    val root = new File(a.work, a.workload).getAbsoluteFile
    Inputs.deleteTree(root)
    root.mkdirs()
    val inDir = s"$root/inputs"
    val out = s"$root/out"

    var spark: SparkSession = null
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    def verify(tag: String): Unit = {
      attempted += 1
      val f = try wl.check(spark, out)
        catch { case e: Exception => Seq(s"check threw $e") }
      if (f.nonEmpty) {
        failed += 1
        failures ++= f.map(m => s"$tag: $m")
      }
    }

    // --- set-up: fresh session and inputs, repeated; then the warm-up runs
    val setups = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      Inputs.deleteTree(new File(inDir))
      spark = session(root)
      wl.setup(spark, a.seed, inDir)
      (System.nanoTime() - t0) / 1e9
    }
    val warmups = (1 to wl.warmups).map { r =>
      val t0 = System.nanoTime()
      wl.run(spark, out, Trace.Off)
      val s = (System.nanoTime() - t0) / 1e9
      verify(s"warm-up $r")
      s
    }

    // one untraced run of the chain, with its sentinels and sinks
    val iters = mutable.ArrayBuffer[Iter]()
    def timedRun(): Unit = {
      val window = new Box.Window
      val cpu0 = Box.cpuSeconds()
      val t0 = System.nanoTime()
      wl.run(spark, out, Trace.Off)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Box.cpuSeconds() - cpu0
      val (load, other, runq) = window.close()
      val (files, bytes) = Workloads.sinkFiles(new File(out))
      iters += Iter(wall, cpu, files, bytes, load, other, runq)
      verify(s"iteration ${iters.length}")
    }
    def wall = median(iters.map(_.wallS).toSeq)

    val (metrics, traced) =
      if (!a.trace) {
        // --- timed pass; a full collection first, so the heap it grows is
        // its own
        System.gc()
        val rss = new Box.RssPeak()
        val pass0 = System.nanoTime()
        while (iters.length < wl.timedRuns ||
            (System.nanoTime() - pass0) / 1e9 < a.seconds) timedRun()
        val endToEnd = Seq(
          ("setup_s", median(setups) + warmups.sum, "s"),
          ("wall_s", wall, "s"),
          ("rows_per_s", median(iters.map(wl.rowsIn / _.wallS).toSeq), "1/s"),
          ("cpu_s", median(iters.map(_.cpuS).toSeq), "s"),
          ("peak_rss_mb", rss.stop(), "MB"),
          ("out_mb", median(iters.map(_.bytes / 1e6).toSeq), "MB"),
          ("out_files", median(iters.map(_.files.toDouble).toSeq), "count"))
        (endToEnd, Map.empty[String, Any])
      } else {
        // --- traced pass: untraced and traced runs alternate, each going
        // first in every other pair, so the overhead compares runs equally
        // far into the process's warm-up
        val tr = new Trace(spark).start()
        def tracedRun(k: Int): Unit = {
          tr.iter = k
          tr.span("iteration")(wl.run(spark, out, tr))
          verify(s"traced iteration ${k + 1}")
          tr.span("probes")(wl.probes(spark, s"$root/probe", tr))
        }
        val pass1 = System.nanoTime()
        var k = 0
        while (k < MinTraced || (System.nanoTime() - pass1) / 1e9 < a.seconds) {
          if (k % 2 == 0) { timedRun(); tracedRun(k) }
          else { tracedRun(k); timedRun() }
          k += 1
        }
        tr.stop()
        val perIter = (0 until k).map(i => Layers.metrics(tr, i, wl))
        val tracedWall = median(tr.spans.filter(_.name == "iteration")
          .map(_.ms / 1e3).toSeq)
        val counts = wl.counts(out)
        val layer = Layers.names.map { case (n, u) =>
          (n, counts.getOrElse(n, median(perIter.map(_.getOrElse(n, 0.0)))), u)
        } ++ Seq(
          ("trace.wall_s", tracedWall, "s"),
          ("trace.overhead_ms", (tracedWall - wall) * 1e3, "ms"))
        (layer, Map("iterations" -> k, "spans" -> Layers.spanSummary(tr, 0)))
      }

    val detail = Map(
      "workload" -> wl.name, "seed" -> a.seed, "cpus" -> cpus,
      "input" -> Map("rows" -> wl.rowsIn, "bytes" -> wl.sourceBytes,
        "files" -> wl.inputFiles.map(f =>
          Map("name" -> f.name, "rows" -> f.rows, "bytes" -> f.bytes))),
      "samples" -> Map("setup_s" -> setups.length, "iterations" -> iters.length),
      "setup_reps_s" -> setups, "warmup_s" -> warmups,
      "iterations" -> iters.map(i => Map("wall_s" -> i.wallS,
        "cpu_s" -> i.cpuS, "out_files" -> i.files, "out_bytes" -> i.bytes,
        "loadavg" -> i.loadavg, "cpu_other_pct" -> i.otherPct,
        "runq_delay_ms" -> i.runqMs)),
      "failed_ratio" -> failed.toDouble / math.max(attempted, 1),
      "failures" -> failures.take(20),
      "traced" -> traced)
    spark.stop()

    println(Json(Map("detail" -> detail)))
    println(Json(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    if (failed > 0) {
      failures.take(20).foreach(f => System.err.println(s"[perfbench] $f"))
      sys.exit(1)
    }
  }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and
  * booleans. Map keys keep their insertion order where the map has one. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

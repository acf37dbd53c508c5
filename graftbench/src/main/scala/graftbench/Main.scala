package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one run.
  *
  * {{{
  * graftbench.Main --workload curate --seed 1 --seconds 20 --trace 0 \
  *   --work <scratch dir> --out <result.json> [--corrupt]
  * }}}
  *
  * The result file holds the run context, the end-to-end metrics (trace 0)
  * or the per-layer metrics (trace 1), the workload-specific figures, and
  * the operation counts. `run.py` builds the package, runs this, and
  * prints the result.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String, corrupt: Boolean)

  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < a.length) {
      val k = a(i).stripPrefix("--")
      if (k == "corrupt") { m(k) = "1"; i += 1 } else { m(k) = a(i + 1); i += 2 }
    }
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
         m("work"), m("out"), m.contains("corrupt"))
  }

  def workload(name: String, seed: Long, work: String, cores: Int): Workload = name match {
    case "curate" => new Curate(seed, work, cores)
    case "rag_serve" => new RagServe(seed, work)
    case "store_churn" => new StoreChurn(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(a.work, cores)
    val ctxStart = (System.nanoTime() - t0) / 1e9
    val w = workload(a.workload, a.seed, a.work, cores)
    val result = try new Run(a, spark, w, cores, ctxStart).run()
                 finally spark.stop()
    val f = new java.io.File(a.out)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Json.render(result).getBytes("UTF-8"))
  }
}

/** One run of one workload: set-up, untimed references, the timed closed
  * loop, and (traced) the per-layer counters. */
final class Run(a: Main.Args, base: SparkSession, w: Workload, cores: Int, ctxStart: Double) {
  import Harness.median

  private val log = (s: String) => System.err.println(s"[graftbench] ${w.name}: $s")

  final case class Phase(walls: Seq[Double], rows: Long, windows: Seq[(Trace.Window, Long, Long)],
                         residue: Seq[(Long, Long, Long)], from: Long, to: Long,
                         files: Long, bytes: Long)

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    w.prepare(base)
    log(f"inputs: ${(System.nanoTime() - t0) / 1e9}%.3f s")

    // set-up, several times: each on a fresh session and store root.
    // setup_s = SparkContext start + their median + the warm pass
    var h: Harness = null
    var setupSpans = (0L, 0L)
    val setupTimes = (1 to Main.SetupReps).map { rep =>
      val s = base.newSession()
      h = new Harness(s, new Trace(s), a.corrupt)
      val traced = a.trace && rep == Main.SetupReps
      if (traced) h.trace.start()
      val t = System.nanoTime()
      graft.GraftSession.ensureExtensions(s)
      w.setup(h, rep)
      val secs = (System.nanoTime() - t) / 1e9
      if (traced) { h.trace.stop(); setupSpans = (t, System.nanoTime()) }
      log(f"setup $rep: $secs%.3f s")
      secs
    }
    val warm = { val t = System.nanoTime(); w.warm(h); (System.nanoTime() - t) / 1e9 }
    log(f"warm pass: $warm%.3f s")
    h.clearBetweenPasses()
    val t1 = System.nanoTime()
    w.reference(h)
    h.clearBetweenPasses()
    log(f"references: ${(System.nanoTime() - t1) / 1e9}%.3f s")
    val setupFails = h.setupFailures.size

    val (untraced, traced) =
      if (!a.trace) (phase(h, a.seconds, traced = false), None)
      else {
        val u = phase(h, a.seconds / 2, traced = false)
        h.trace.start()
        val t = phase(h, a.seconds / 2, traced = true)
        h.trace.stop()
        (u, Some(t))
      }

    val recorded = h.ops.toSeq
    val untracedOps = recorded.filter(_.pass < untraced.walls.size)
    val failed = recorded.count(!_.ok) + h.setupFailures.size
    val lat = untracedOps.map(_.secs)
    val (tail, tailPct) = Harness.tail(lat)
    def p50(kind: String) = {
      val xs = untracedOps.filter(_.kind == kind).map(_.secs)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val rowsPerS = untraced.rows / untraced.walls.sum
    val extras = w.extras(h)
    val workloadFigures: Map[String, Double] = Map(
      "write_p50_s" -> p50("write"),
      "read_p50_s" -> p50("read"),
      "write_amp" -> extras.getOrElse("write_amp", 0.0),
      "space_amp" -> extras.getOrElse("space_amp", 0.0),
      "recall_at_10" -> extras.getOrElse("recall_at_10", 0.0),
      "fail_ratio" -> failed.toDouble / math.max(1, recorded.size + setupFails),
      "op_tail_pct" -> tailPct.toDouble,
      "op_tail_n" -> lat.size.toDouble)

    val endToEnd: Map[String, Double] = Map(
      "setup_s" -> (ctxStart + median(setupTimes) + warm),
      "pass_s" -> median(untraced.walls),
      "op_p50_s" -> median(lat),
      "op_tail_s" -> tail,
      "rows_per_s" -> rowsPerS,
      "rss_peak_mb" -> Harness.rssPeakMb())

    val perLayer = traced.map(t => layers(h, t, untraced, setupSpans, workloadFigures))

    val opsByName = recorded.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
      n -> Map("n" -> rs.size, "failed" -> rs.count(!_.ok), "p50_s" -> median(rs.map(_.secs)))
    }.toMap
    Map(
      "workload" -> w.name,
      "context" -> Map(
        "nproc" -> cores, "master" -> s"local[$cores]",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> base.version, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "input_rows" -> w.inputRows,
        "output_digest" -> w.outputDigest,
        "spark_context_start_s" -> ctxStart, "setup_times_s" -> setupTimes,
        "warm_pass_s" -> warm,
        "passes" -> untraced.walls.size, "pass_walls_s" -> untraced.walls,
        "op_tail_pct" -> tailPct, "op_count" -> lat.size),
      "attempted" -> (recorded.size + setupFails),
      "failed" -> failed,
      "failures" -> (recorded.filter(!_.ok).map(r => s"${r.name}: ${r.err}") ++ h.setupFailures).take(20),
      "end_to_end" -> endToEnd,
      "workload_figures" -> (workloadFigures ++ extras),
      "per_layer" -> perLayer.getOrElse(Map.empty),
      "per_layer_units" -> Metrics.PerLayer.toMap,
      "ops" -> opsByName)
  }

  /** Closed loop: whole passes back to back until `seconds` have passed
    * (at least one pass); caches are cleared between passes only. */
  private def phase(h: Harness, seconds: Double, traced: Boolean): Phase = {
    h.recording = true
    val walls = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Trace.Window, Long, Long)]
    val residue = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val (files0, bytes0) = (h.filesWritten, h.bytesWritten)
    var rows = 0L
    val from = System.nanoTime()
    val deadline = from + (seconds * 1e9).toLong
    val firstPass = h.ops.map(_.pass + 1).maxOption.getOrElse(0)
    var p = 0
    while (p < 1 || System.nanoTime() < deadline) {
      h.pass = firstPass + p
      val ms0 = System.currentTimeMillis()
      val t = System.nanoTime()
      rows += w.pass(h)
      walls += (System.nanoTime() - t) / 1e9
      val ms1 = System.currentTimeMillis()
      if (traced) { windows += ((h.trace.window(), ms0, ms1)); residue += h.cacheResidue() }
      h.clearBetweenPasses()
      p += 1
    }
    h.recording = false
    log(f"${if (traced) "traced" else "timed"} passes: ${walls.map(x => f"$x%.3f").mkString(" ")}")
    Phase(walls.toSeq, rows, windows.toSeq, residue.toSeq, from, System.nanoTime(),
          h.filesWritten - files0, h.bytesWritten - bytes0)
  }

  private def layers(h: Harness, t: Phase, u: Phase, setupSpans: (Long, Long),
                     figures: Map[String, Double]): Map[String, Double] = {
    val n = t.walls.size.toDouble
    val ws = t.windows.map(_._1)
    def sum(f: Trace.Window => Long) = ws.map(f).sum.toDouble
    val wall = t.walls.sum
    val busy = t.windows.map { case (win, a, b) => win.busyMs(a, b) }.sum / 1000.0
    val spark = Map(
      "spark.jobs" -> sum(_.jobs) / n,
      "spark.stages" -> sum(_.stages) / n,
      "spark.tasks" -> sum(_.tasks) / n,
      "spark.exec_run_s" -> sum(_.runMs) / 1000 / n,
      "spark.exec_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.gc_s" -> sum(_.gcMs) / 1000 / n,
      "spark.input_bytes" -> sum(_.inBytes) / n,
      "spark.input_rows" -> sum(_.inRows) / n,
      "spark.shuffle_write_bytes" -> sum(_.shufWrite) / n,
      "spark.shuffle_read_bytes" -> sum(_.shufRead) / n,
      "spark.spill_bytes" -> sum(_.spill) / n,
      "spark.broadcast_max_bytes" -> ws.map(_.plan.bcastMax).maxOption.getOrElse(0L).toDouble,
      "spark.codegen_s" -> sum(_.plan.codegenMs) / 1000 / n,
      "spark.slot_util" -> sum(_.runMs) / 1000 / (wall * cores),
      "spark.driver_gap_s" -> math.max(0.0, wall - busy) / n,
      "plans.plan_s" -> sum(_.plan.planMs) / 1000 / n,
      "plans.sample_rows_out" -> sum(_.plan.sampleRows) / n)

    // spans: per pass over the traced passes; set-up-only calls per set-up
    val inPasses = h.trace.perName(t.from, t.to)
    val inSetup = h.trace.perName(setupSpans._1, setupSpans._2)
    val spans = mutable.Map.empty[String, Double]
    def addSpans(m: Map[String, (Double, Int, Double)], div: Double): Unit =
      m.foreach { case (name, (self, jobs, _)) if !name.startsWith("op.") =>
        if (!spans.contains(s"$name.s")) {
          spans(s"$name.s") = self / div; spans(s"$name.jobs") = jobs / div
        }
        case _ =>
      }
    addSpans(inPasses, n)
    addSpans(inSetup, 1.0)
    val callS = inPasses.collect { case (k, (_, _, c)) if k.startsWith("operators.") => c }.sum / n

    val (rdds, bytes, entries) = {
      val r = t.residue
      (r.map(_._1).sum / n, r.map(_._2).sum / n, r.map(_._3).sum / n)
    }
    val stores = Map(
      "stores.files_written" -> t.files / n,
      "stores.bytes_written" -> t.bytes / n,
      "stores.live_bytes" -> StoreFiles.snapshot(w.storeDirs).values.sum.toDouble,
      "stores.versions" -> w.storeVersions(h.spark).toDouble)
    val cache = Map("cache.rdds_after" -> rdds, "cache.bytes_after" -> bytes,
                    "cache.entries_after" -> entries)
    val functions = kernelRates(h)
    val pu = median(u.walls); val pt = median(t.walls)
    val tr = Map("trace.pass_s_untraced" -> pu, "trace.pass_s_traced" -> pt,
                 "trace.overhead_ratio" -> pt / pu)
    val all = spark ++ spans ++ stores ++ cache ++ functions ++ tr ++
      Map("operators.call_s" -> callS) ++ figures.map { case (k, v) => s"workload.$k" -> v }
    // every name the benchmark defines, zero where this workload has none
    Metrics.PerLayer.map { case (name, _) => name -> all.getOrElse(name, 0.0) }.toMap ++
      all.filter { case (k, _) => !Metrics.PerLayer.exists(_._1 == k) }.map { case (k, v) => s"extra.$k" -> v }
  }

  /** Rows per second of each graft function the workload leans on,
    * projected over a cached input into the noop sink (median of 3). */
  private def kernelRates(h: Harness): Map[String, Double] =
    w.kernels(h.spark).map { case (fn, in, sql) =>
      val cached = in.persist()
      val rows = cached.count()
      val times = (1 to 3).map { _ =>
        val t = System.nanoTime()
        cached.selectExpr(s"$sql AS k").write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      cached.unpersist(blocking = true)
      s"functions.$fn.rows_per_s" -> rows / median(times)
    }.toMap
}

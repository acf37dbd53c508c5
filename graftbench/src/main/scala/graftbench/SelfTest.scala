package graftbench

import scala.collection.mutable

/** The benchmark's own checks, in one JVM:
  *
  *  - the same seed generates identical inputs, another seed different ones;
  *  - the same seed gives identical output digests (fresh stores each time);
  *  - a corrupted result is counted as failed.
  *
  * {{{ graftbench.SelfTest --work <scratch dir> --out <result.json> }}}
  *
  * Writes a JSON map of check name -> passed, plus details; `test_bench.py`
  * runs it through `run.py --selftest`.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(work, cores)
    graft.GraftSession.ensureExtensions(spark)
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    val details = mutable.LinkedHashMap.empty[String, Any]
    def dir(tag: String) = s"$work/$tag"

    try {
      for (name <- Seq("curate", "rag_serve", "store_churn")) {
        val digests = Seq(("a", 5L), ("b", 5L), ("c", 6L)).map { case (tag, seed) =>
          val w = Main.workload(name, seed, dir(s"$name-in-$tag"), cores)
          w.prepare(spark)
          w.inputDigest(spark)
        }
        details(s"$name.input_digests") = digests
        checks(s"$name.same_seed_same_inputs") = digests(0) == digests(1)
        checks(s"$name.other_seed_other_inputs") = digests(0) != digests(2)
      }

      for (name <- Seq("curate", "store_churn")) {
        def onePass(tag: String, corrupt: Boolean): (String, Int, Int) = {
          val w = Main.workload(name, 5L, dir(s"$name-out-$tag"), cores)
          w.prepare(spark)
          val s = spark.newSession()
          graft.GraftSession.ensureExtensions(s)
          val h = new Harness(s, new Trace(s), corrupt)
          w.setup(h, 1)
          h.recording = true
          w.pass(h)
          h.clearBetweenPasses()
          (w.outputDigest, h.ops.size, h.ops.count(!_.ok))
        }
        val (d1, n1, f1) = onePass("a", corrupt = false)
        val (d2, _, f2) = onePass("b", corrupt = false)
        val (_, nc, fc) = onePass("c", corrupt = true)
        details(s"$name.output_digests") = Seq(d1, d2)
        details(s"$name.clean_failed") = Seq(f1, f2)
        details(s"$name.corrupt_failed_of") = Seq(fc, nc)
        checks(s"$name.same_seed_same_outputs") = d1 == d2 && d1.nonEmpty && f1 == 0 && f2 == 0
        checks(s"$name.corrupt_result_fails") = fc > 0 && n1 == nc
      }
    } catch {
      case e: Throwable =>
        checks("completed") = false
        details("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally spark.stop()

    val out = new java.io.File(args("out"))
    out.getParentFile.mkdirs()
    java.nio.file.Files.write(out.toPath,
      Json.render(Map("checks" -> checks, "details" -> details)).getBytes("UTF-8"))
  }
}

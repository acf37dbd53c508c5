package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation of a pass. `kind` is "read", "write" or "stage". */
final case class OpRec(pass: Int, kind: String, name: String, secs: Double,
                       ok: Boolean, err: String)

/** The closed loop: one client, each operation starts after the previous
  * one returned. Every operation is timed, its output checked, and a
  * throw or a failed check counts it as failed. */
final class Harness(val spark: SparkSession, val trace: Trace,
                    val corrupt: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Off during set-up and reference runs: their operations are checked
    * but not recorded as timed operations. */
  var recording = false
  var pass = 0
  /** Files and bytes store writes put in storage, counted by workloads. */
  var filesWritten = 0L
  var bytesWritten = 0L
  /** Checks that failed outside a recorded operation (set-up, digests). */
  val setupFailures = mutable.ArrayBuffer.empty[String]

  def op[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(trace.span(s"op.$name")(_ => body)) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") }
    }
    err.foreach(e => System.err.println(s"[graftbench] FAILED $name (pass $pass): ${e.take(400)}"))
    if (recording) ops += OpRec(pass, kind, name, secs, err.isEmpty, err.getOrElse(""))
    else err.foreach(e => setupFailures += s"$name: $e")
    res.toOption
  }

  /** Run a set-up step, logging how long it took. */
  def step[T](what: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally System.err.println(f"[graftbench]   $what: ${(System.nanoTime() - t) / 1e9}%.3f s")
  }

  /** A library call returning a DataFrame, run to `use` inside one span:
    * jobs of the call and of the action on its result count to `name`. */
  def lib[T](name: String)(call: => DataFrame)(use: DataFrame => T): T =
    trace.span(name) { s => val df = call; s.called(); use(df) }

  /** A library call whose result is used later (lazy composition). */
  def libCall[T](name: String)(call: => T): T =
    trace.span(name) { s => val v = call; s.called(); v }

  /** Collected rows, with one row dropped when the run is a corruption
    * self-test: the check that follows must then fail. */
  def rows(df: DataFrame): Seq[Row] = tamper(df.collect().toSeq)
  def tamper[A](xs: Seq[A]): Seq[A] = if (corrupt && xs.nonEmpty) xs.dropRight(1) else xs

  /** What the library left persisted, then release it all: the state a
    * user's long-lived session would accumulate is cleared between passes
    * only, as graft.Bench does. */
  def cacheResidue(): (Long, Long, Long) = {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.size.toLong
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (rdds, bytes, Harness.cacheEntries(spark))
  }

  def clearBetweenPasses(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.operators.GraftDedup.unpersistAll()
    System.gc()
  }
}

object Harness {
  /** CacheManager entries; the list is private, so read it reflectively. */
  def cacheEntries(spark: SparkSession): Long =
    try {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm) match {
        case s: scala.collection.Seq[_] => s.size.toLong
        case s: java.util.Collection[_] => s.size.toLong
        case _ => 0L
      }
    } catch { case _: Throwable => 0L }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it
    * (nearest rank), with that percentile; the median when the sample is
    * too small for any. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted; val n = s.size
    val p = (99 to 50 by -1).find { p =>
      val idx = math.ceil(p / 100.0 * n).toInt - 1
      n - idx - 1 >= 10
    }.getOrElse(50)
    (s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)), p)
  }

  /** Peak resident set of this JVM, in MB (Linux VmHWM). */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Stable digest of a set of rows, independent of row order. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("\u0001")).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** Files under a set of store directories: what a write added, and what
  * is at rest. Checksum side files of the local file system are left out,
  * as an object store has none. */
object StoreFiles {
  def snapshot(dirs: Seq[String]): Map[String, Long] =
    dirs.flatMap { d =>
      val root = new java.io.File(d)
      if (!root.exists()) Nil
      else {
        val out = mutable.ArrayBuffer.empty[(String, Long)]
        def go(f: java.io.File): Unit =
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
          else if (!f.getName.endsWith(".crc")) out += (f.getPath -> f.length())
        go(root); out
      }
    }.toMap

  /** (files, bytes) present in `after` but not in `before`. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val fresh = after.filter { case (p, n) => !before.get(p).contains(n) }
    (fresh.size.toLong, fresh.values.sum)
  }
}

package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{GraftDedup, GraftPq, GraftSimilarity, IvfObjectStore, KeepSetStore}

/** `store_churn`: repeated cycles on two manifest stores. Each cycle
  * appends and deletes vectors in an `IvfObjectStore` with PQ and q4
  * tiers, increments and deletes in a `KeepSetStore`, then compacts the
  * IVF store and vacuums both. Every write is followed by one checked
  * read-after-write serve against the harness's model of the live ids,
  * and each cycle also checks time travel (`readAt` of the previous
  * version). */
final class StoreChurn(seed: Long, work: String) extends Workload {
  val name = "store_churn"
  private val dim = 64
  private val nVec0 = 600
  private val nKeep0 = 500
  /** Share of the initial vectors picked as IVF centroids: about 10 cells. */
  private val cellFraction = 0.017
  private val appendN = 60
  private val deleteN = 60
  private val keepN = 50
  private val keepDelN = 20
  private val VecBytes = 8L + 8L * dim

  private var stores = ""
  private def ivfDir = s"$stores/ivf_manifest"
  private def keepDir = s"$stores/keepset_manifest"
  override def storeDirs: Seq[String] = Seq(ivfDir, keepDir)

  // ---- the harness's model of each store
  private var cycle = 0
  private var nextKeep = 0L
  private val ivfLive = mutable.TreeSet.empty[Long]
  private val keepIds = mutable.TreeSet.empty[Long]
  private val keepDeleted = mutable.Set.empty[Long]
  private val root = mutable.Map.empty[Long, Long]
  private var lastIvfBatch: IndexedSeq[(Long, Array[Double])] = IndexedSeq.empty
  private val liveVecs = mutable.Map.empty[Long, Array[Double]]
  private var nCells = 0
  private val recalls = mutable.ArrayBuffer.empty[Double]
  /** Recall floor of the compressed (q4, PQ) serves against brute force. */
  private val RecallFloor = 0.3

  private def find(x: Long): Long = {
    val p = root.getOrElseUpdate(x, x)
    if (p == x) x else { val q = find(p); root(x) = q; q }
  }
  private def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) root(math.max(ra, rb)) = math.min(ra, rb)
  }

  // ---- accounting for write_amp / space_amp
  private var userBytes = 0L
  private var storedBytes = 0L
  private var passRows = 0L

  def inputRows: Map[String, Long] =
    Map("vectors" -> nVec0.toLong, "keepset" -> nKeep0.toLong,
        "append_per_cycle" -> appendN.toLong, "delete_per_cycle" -> deleteN.toLong)

  /** The initial stores are built from frames generated in memory. */
  def prepare(spark: SparkSession): Unit = ()

  private def initialVectors = Inputs.vectors(seed, (0 until nVec0).map(_.toLong), dim)

  def inputDigest(spark: SparkSession): String =
    (Seq(Harness.digest(initialVectors.map { case (i, v) => Row(i, v.toSeq) })) ++
      (0 until 3).map(c => Harness.digest(cycleBatch(c).map { case (i, v) => Row(i, v.toSeq) })))
      .mkString("/")

  /** The vectors cycle `c` appends: fresh ids after the initial set. */
  private def cycleBatch(c: Int): IndexedSeq[(Long, Array[Double])] =
    Inputs.vectors(seed, (0 until appendN).map(i => nVec0 + c.toLong * appendN + i), dim, salt = 41)

  private def pick(r: java.util.SplittableRandom, from: collection.Set[Long], n: Int): Seq[Long] = {
    val xs = from.toIndexedSeq.sorted
    val idx = mutable.LinkedHashSet.empty[Int]
    while (idx.size < math.min(n, xs.size)) idx += r.nextInt(xs.size)
    idx.toSeq.map(xs)
  }

  private def idFrame(spark: SparkSession, ids: Seq[Long], c: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(Row(_)), 1),
                          StructType(Seq(StructField(c, LongType, nullable = false))))

  private def pairFrame(spark: SparkSession, ps: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ps.map { case (a, b) => Row(a, b) }, 1),
      StructType(Seq(StructField("a_id", LongType, nullable = false),
                     StructField("b_id", LongType, nullable = false))))

  /** Near-duplicate pairs for new keep-set ids: each new id joins an
    * earlier new id or a live old id with probability 0.3. */
  private def keepPairs(r: java.util.SplittableRandom, fresh: Seq[Long]): Seq[(Long, Long)] = {
    val live = (keepIds -- keepDeleted).toIndexedSeq.sorted
    fresh.zipWithIndex.flatMap { case (id, i) =>
      if (r.nextDouble() >= 0.3) Nil
      else if (i > 0 && r.nextBoolean()) Seq((fresh(r.nextInt(i)), id))
      else if (live.nonEmpty) Seq((live(r.nextInt(live.size)), id))
      else Nil
    }
  }

  def setup(h: Harness, rep: Int): Unit = {
    val spark = h.spark
    stores = s"$work/stores/rep$rep"
    cycle = 0; nextKeep = nKeep0
    ivfLive.clear(); recalls.clear(); keepIds.clear(); keepDeleted.clear(); root.clear()
    userBytes = 0; storedBytes = 0

    val init = Inputs.vecFrame(spark, initialVectors)
    val index = h.libCall("operators.GraftSimilarity.buildIvfIndex")(
      GraftSimilarity.buildIvfIndex(init, centroidFraction = Some(cellFraction)))
    val cb = h.libCall("operators.GraftPq.trainPq")(GraftPq.trainPq(init, m = 8, ksub = 16, iters = 2))
    h.step("ivf store")(store(h, "create")(IvfObjectStore.create(spark, index, ivfDir, pq = Some(cb), q4 = true)))
    ivfLive ++= (0L until nVec0)
    liveVecs.clear(); liveVecs ++= initialVectors
    if (nCells == 0) nCells = h.step("cells")(IvfObjectStore.read(spark, ivfDir).centroids.count().toInt)

    val r = Inputs.rng(seed, 51)
    val ids0 = (0L until nKeep0)
    val pairs0 = ids0.drop(1).flatMap(b => if (r.nextDouble() < 0.2) Seq((r.nextLong(b), b)) else Nil)
    keepIds ++= ids0; pairs0.foreach { case (a, b) => union(a, b) }
    val keep0 = GraftDedup.keepSet(idFrame(spark, ids0, "doc_id"), pairFrame(spark, pairs0))
    h.step("keep-set store")(store(h, "create")(KeepSetStore.create(keep0, keepDir)))
  }

  def pass(h: Harness): Long = { passRows = 0; runCycle(h); passRows }

  /** Digest of everything the pass's reads returned. */
  private val outputs = java.security.MessageDigest.getInstance("SHA-256")
  private var lastDigest = ""
  def outputDigest: String = lastDigest
  private def record(xs: Any*): Unit = outputs.update(xs.mkString("|").getBytes("UTF-8"))

  private def store[T](h: Harness, op: String)(body: => T): T =
    h.trace.span(s"stores.$op")(_ => body)

  /** A store write, timed, with the bytes it put in storage counted. */
  private def write(h: Harness, name: String, user: Long)(body: => Unit): Unit = {
    val before = StoreFiles.snapshot(storeDirs)
    h.op("write", name)(body)(_ => None)
    val (files, bytes) = StoreFiles.written(before, StoreFiles.snapshot(storeDirs))
    userBytes += user; storedBytes += bytes
    h.filesWritten += files; h.bytesWritten += bytes
  }

  private def sameSet(what: String, got: Seq[Long], want: collection.Set[Long]): Option[String] =
    if (got.size != got.toSet.size) Some(s"$what served duplicate ids")
    else if (got.toSet != want) {
      val extra = got.toSet -- want; val missing = want -- got.toSet
      Some(s"$what: ${extra.size} ids served that are not live (e.g. ${extra.take(3)}), " +
           s"${missing.size} live ids missing (e.g. ${missing.take(3)})")
    } else None

  /** Read the IVF store back and serve four queries near the last
    * appended vectors through one tier: the ids must equal the model's
    * live set, no served id may be dead, the exact tier (every cell
    * probed) must equal brute force over the live vectors, and the
    * compressed tiers must keep a recall floor. */
  private def readIvf(h: Harness, tier: String): Unit = {
    val spark = h.spark
    val want = ivfLive.clone()
    val qr = Inputs.rng(seed, 7000 + cycle)
    val queries = lastIvfBatch.take(4).zipWithIndex.map { case ((_, v), i) =>
      (2000000000L + i, Inputs.perturb(qr, v)) }
    val truth = queries.map { case (q, qv) => q -> Inputs.topK(qv, want.toSeq.map(i => i -> liveVecs(i)), 10) }.toMap
    h.op("read", s"ivf_read_$tier") {
      val idx = store(h, "read")(IvfObjectStore.read(spark, ivfDir))
      val ids = h.rows(idx.assigned.select("n_id")).map(_.getLong(0))
      val q = spark.createDataFrame(spark.sparkContext.parallelize(
        queries.map { case (i, v) => Row(i, v.toSeq) }, 1),
        StructType(Seq(StructField("q_id", LongType, nullable = false),
                       StructField("qv", ArrayType(DoubleType, containsNull = false)))))
      val served = tier match {
        case "ids" => Nil
        case "pq" =>
          val cb = store(h, "read")(GraftPq.readPqCodebook(spark, ivfDir))
          h.lib("operators.GraftPq.ivfPqTopKWithCw")(
            GraftPq.ivfPqTopKWithCw(idx, cb, q, 10, nprobe = 4, rerankFactor = 4))(h.rows)
        case "q4" =>
          h.lib("operators.GraftSimilarity.ivfTopKWithQ4")(
            GraftSimilarity.ivfTopKWithQ4(idx, q, 10, nprobe = 4, rerankFactor = 4))(h.rows)
        case _ =>
          h.lib("operators.GraftSimilarity.ivfTopKWith")(
            GraftSimilarity.ivfTopKWith(idx, q, 10, nprobe = nCells))(h.rows)
      }
      (ids, served.groupBy(_.getAs[Long]("q_id")).map { case (qid, rs) =>
        qid -> rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("n_id")) })
    } { case (ids, served) =>
      record(ids.sorted, served.toSeq.sortBy(_._1))
      val bad = served.values.flatten.filterNot(want.contains)
      val recall = truth.map { case (qid, t) =>
        served.getOrElse(qid, Nil).toSet.intersect(t.toSet).size.toDouble / t.size }.sum / truth.size
      if (h.recording && (tier == "pq" || tier == "q4")) recalls += recall
      sameSet("ivf read", ids, want).orElse(
        if (bad.nonEmpty) Some(s"ivf $tier serve returned ids that are not live: ${bad.take(5)}")
        else if (tier == "exact" && truth.exists { case (qid, t) => served.getOrElse(qid, Nil) != t })
          Some("exact serve differs from brute force over the live vectors")
        else if (tier != "ids" && recall < RecallFloor) Some(f"ivf $tier serve recall $recall%.3f below $RecallFloor")
        else None)
    }
  }

  private def readKeep(h: Harness): Unit = {
    val want = (keepIds -- keepDeleted).map(i => i -> find(i)).toMap
    h.op("read", "keepset_read") {
      h.lib("stores.read")(KeepSetStore.read(h.spark, keepDir))(h.rows)
    } { out =>
      val got = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).sorted
      record(got)
      sameSet("keep-set read", got.map(_._1), want.keySet).orElse {
        val wrong = got.filter { case (i, c) => want(i) != c }
        if (wrong.nonEmpty) Some(s"keep-set read: ${wrong.size} ids with the wrong cluster, e.g. ${wrong.take(3)}")
        else if (out.exists(r => r.getAs[Boolean]("keep") != (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id"))))
          Some("keep-set read: keep flag disagrees with cluster id")
        else None
      }
    }
  }

  private def runCycle(h: Harness): Unit = {
    val spark = h.spark
    val c = cycle; cycle += 1
    val r = Inputs.rng(seed, 1000 + c)

    // vectors: append a fresh batch, then delete as many live ids
    val batch = cycleBatch(c)
    lastIvfBatch = batch
    write(h, "ivf_append", appendN * VecBytes) {
      store(h, "append")(IvfObjectStore.append(spark, ivfDir, Inputs.vecFrame(spark, batch, 1)))
    }
    ivfLive ++= batch.map(_._1); liveVecs ++= batch
    readIvf(h, "pq")
    val before = ivfLive.clone()
    val prevVersion = IvfObjectStore.versions(spark, ivfDir).last
    val del = pick(r, ivfLive, deleteN)
    write(h, "ivf_delete", deleteN * 8L) {
      store(h, "delete")(IvfObjectStore.delete(spark, ivfDir, idFrame(spark, del, "vec_id")))
    }
    ivfLive --= del; liveVecs --= del
    readIvf(h, "q4")
    h.op("read", "ivf_read_at") {
      h.lib("stores.read")(IvfObjectStore.readAt(spark, ivfDir, prevVersion).assigned.select("n_id"))(h.rows)
        .map(_.getLong(0))
    } { ids => record(ids.sorted); sameSet(s"ivf readAt v$prevVersion", ids, before) }

    // keep set: increment with fresh ids and their pairs, then a takedown
    val fresh = (0 until keepN).map(i => nextKeep + i)
    val pairs = keepPairs(r, fresh)
    write(h, "keepset_increment", keepN * 16L + pairs.size * 16L) {
      store(h, "increment")(KeepSetStore.increment(
        spark, keepDir, idFrame(spark, fresh, "doc_id"), pairFrame(spark, pairs)))
    }
    keepIds ++= fresh; nextKeep += keepN; pairs.foreach { case (a, b) => union(a, b) }
    readKeep(h)
    val kdel = pick(r, keepIds -- keepDeleted, keepDelN)
    write(h, "keepset_delete", keepDelN * 8L) {
      store(h, "delete")(KeepSetStore.delete(spark, keepDir, idFrame(spark, kdel, "doc_id")))
    }
    keepDeleted ++= kdel
    readKeep(h)

    // maintenance, every cycle: IVF compaction, then vacuum on both stores
    write(h, "ivf_compact", 0L)(store(h, "compact")(IvfObjectStore.compact(spark, ivfDir)))
    readIvf(h, "exact")
    write(h, "vacuum", 0L) {
      store(h, "vacuum") {
        IvfObjectStore.vacuum(spark, ivfDir, 1L)
        KeepSetStore.vacuum(spark, keepDir, 1L)
      }
    }
    readIvf(h, "ids")
    passRows += appendN + deleteN + keepN + keepDelN
    lastDigest = outputs.digest().take(8).map(b => f"$b%02x").mkString
  }

  override def extras(h: Harness): Map[String, Double] = {
    val live = StoreFiles.snapshot(storeDirs).values.sum.toDouble
    val liveUser = ivfLive.size * VecBytes + (keepIds -- keepDeleted).size * 16L
    Map("write_amp" -> (if (userBytes > 0) storedBytes.toDouble / userBytes else 0.0),
        "space_amp" -> (if (liveUser > 0) live / liveUser else 0.0),
        "live_bytes" -> live,
        "recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size))
  }

  override def kernels(spark: SparkSession): Seq[(String, DataFrame, String)] =
    Workload.vectorKernels(Inputs.vecFrame(spark, initialVectors), cycleBatch(0).head._2)

  override def storeVersions(spark: SparkSession): Long =
    (IvfObjectStore.versions(spark, ivfDir).size + KeepSetStore.versions(spark, keepDir).size).toLong
}

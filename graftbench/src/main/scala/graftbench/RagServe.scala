package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{GraftPq, GraftSimilarity, HybridRetrieval, IvfObjectStore}

/** `rag_serve`: set-up builds a manifest IVF store with a PQ codebook and
  * a q4 column. Each timed operation reads the store and serves one seeded
  * query batch (perturbed corpus vectors plus terms of their documents)
  * through one tier: exact IVF, q4, PQ, or hybrid (BM25 fused with PQ).
  * No timed writes. */
final class RagServe(seed: Long, work: String) extends Workload {
  val name = "rag_serve"
  private val nVec = 2000
  private val dim = 64
  private val batchSize = 16
  private val nBatches = 3
  private val batchesPerPass = 1
  private val k = 10
  /** Share of the corpus picked as IVF centroids: 20 cells. */
  private val cellFraction = 0.01
  /** Recall floors against the exact top-10 (the hybrid tiers fuse BM25,
    * so they are held only to the vectors their fused list keeps). */
  private val floors: Map[String, Double] =
    Map("exact" -> 1.0, "q4" -> 0.6, "pq" -> 0.3, "hybrid" -> 0.2)
  private val tiers: Seq[String] = Seq("exact", "q4", "pq", "hybrid")

  private lazy val vecs = Inputs.vectors(seed, (0 until nVec).map(_.toLong), dim)
  private lazy val docs = Inputs.documents(seed, nVec)
  private def path(t: String) = s"$work/inputs/$t.parquet"
  private var stores = ""
  private def ivfDir = s"$stores/ivf_manifest"
  override def storeDirs: Seq[String] = Seq(ivfDir)

  /** Query batches: (q_id, source vec id, query vector, query terms). */
  private lazy val batches: IndexedSeq[IndexedSeq[(Long, Long, Array[Double], Seq[String])]] = {
    val r = Inputs.rng(seed, 31)
    (0 until nBatches).map { b =>
      (0 until batchSize).map { i =>
        val src = r.nextInt(nVec)
        val toks = docs(src).tokens
        val terms = Seq.fill(4)(toks(r.nextInt(toks.length))).distinct
        (1000000000L + b * batchSize + i, src.toLong, Inputs.perturb(r, vecs(src)._2), terms)
      }
    }
  }

  private val QuerySchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("qv", ArrayType(DoubleType, containsNull = false)),
    StructField("q_terms", ArrayType(StringType, containsNull = false))))

  private def queryFrame(spark: SparkSession, b: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      batches(b).map { case (q, _, v, t) => Row(q, v.toSeq, t) }, 1), QuerySchema)

  def inputRows: Map[String, Long] =
    Map("embeddings" -> nVec.toLong, "documents" -> nVec.toLong,
        "queries" -> (nBatches * batchSize).toLong)

  def prepare(spark: SparkSession): Unit = {
    Inputs.vecFrame(spark, vecs).write.mode("overwrite").parquet(path("embeddings"))
    Inputs.docsFrame(spark, docs).write.mode("overwrite").parquet(path("documents"))
  }

  def inputDigest(spark: SparkSession): String =
    (Seq("embeddings", "documents").map(t => Inputs.tableDigest(spark.read.parquet(path(t)))) :+
      Harness.digest(batches.flatten.map { case (q, s, v, t) => Row(q, s, v.toSeq, t) })).mkString("/")

  // ---- exact top-10 per query, computed here by brute force
  private lazy val truth: Map[Long, Seq[Long]] =
    batches.flatten.map { case (q, _, qv, _) => q -> Inputs.topK(qv, vecs, k) }.toMap
  private var nCells = 0
  private val inMemoryPq = mutable.Map.empty[Int, Map[Long, Seq[Long]]]
  private val recalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var lastDigest = ""
  def outputDigest: String = lastDigest

  private def idsByQuery(out: Seq[Row], idCol: String): Map[Long, Seq[Long]] =
    out.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      val rankCol = if (rs.head.schema.fieldNames.contains("rnk")) "rnk" else "rank"
      q -> rs.sortBy(_.getAs[Long](rankCol)).map(_.getAs[Long](idCol))
    }

  def setup(h: Harness, rep: Int): Unit = {
    val spark = h.spark
    stores = s"$work/stores/rep$rep"
    val e = spark.read.parquet(path("embeddings"))
    val index = h.libCall("operators.GraftSimilarity.buildIvfIndex")(
      GraftSimilarity.buildIvfIndex(e, centroidFraction = Some(cellFraction)))
    val cb = h.libCall("operators.GraftPq.trainPq")(GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2))
    h.trace.span("stores.create")(_ => IvfObjectStore.create(spark, index, ivfDir, pq = Some(cb), q4 = true))
  }

  /** The exact top-10 by brute force, and the PQ serve composed in memory
    * (same index, same codebook, no store) for every batch. */
  override def reference(h: Harness): Unit = {
    val spark = h.spark
    truth.size
    val e = spark.read.parquet(path("embeddings"))
    val index = GraftSimilarity.buildIvfIndex(e, centroidFraction = Some(cellFraction))
    val cb = GraftPq.materialize(GraftPq.trainPq(e, m = 8, ksub = 16, iters = 2))
    val enc = GraftPq.pqEncode(index.assigned.select(col("n_id").as("vec_id"), col("v"), col("c_id")),
                               cb, "vec_id", "v", carryCols = Seq("c_id"))
    (0 until nBatches).foreach { b =>
      val out = GraftPq.ivfPqTopKWith(index, cb, enc, e, queryFrame(spark, b), k, nprobe = 4,
                                      rerankFactor = 4).collect().toSeq
      inMemoryPq(b) = idsByQuery(out, "n_id")
    }
    recalls.clear()
  }

  /** The exact tier probes every cell; count them on first use. */
  override def warm(h: Harness): Unit = {
    nCells = IvfObjectStore.read(h.spark, ivfDir).centroids.count().toInt
    pass(h)
  }

  private var nextBatch = 0

  def pass(h: Harness): Long = {
    val digests = (0 until batchesPerPass).map { _ =>
      val b = nextBatch; nextBatch = (nextBatch + 1) % nBatches
      serveBatch(h, b)
    }
    lastDigest = digests.mkString("-")
    batchesPerPass.toLong * batchSize * tiers.size
  }

  /** Serve batch `b` through every tier, one operation per tier. */
  private def serveBatch(h: Harness, b: Int): String = {
    val spark = h.spark
    val q = queryFrame(spark, b)
    val docsDf = spark.read.parquet(path("documents"))
    def read() = h.trace.span("stores.read")(_ => IvfObjectStore.read(spark, ivfDir))
    val serves: Seq[(String, String, () => Seq[Row])] = Seq(
      ("exact", "n_id", () => h.lib("operators.GraftSimilarity.ivfTopKWith")(
        GraftSimilarity.ivfTopKWith(read(), q, k, nprobe = nCells))(h.rows)),
      ("q4", "n_id", () => h.lib("operators.GraftSimilarity.ivfTopKWithQ4")(
        GraftSimilarity.ivfTopKWithQ4(read(), q, k, nprobe = 4, rerankFactor = 4))(h.rows)),
      ("pq", "n_id", () => {
        val idx = read()
        val cb = h.trace.span("stores.read")(_ => GraftPq.readPqCodebook(spark, ivfDir))
        h.lib("operators.GraftPq.ivfPqTopKWithCw")(
          GraftPq.ivfPqTopKWithCw(idx, cb, q, k, nprobe = 4, rerankFactor = 4))(h.rows)
      }),
      ("hybrid", "doc_id", () => {
        val idx = read()
        val cb = h.trace.span("stores.read")(_ => GraftPq.readPqCodebook(spark, ivfDir))
        h.lib("operators.HybridRetrieval.hybridTopKWithPq")(
          HybridRetrieval.hybridTopKWithPq(idx, cb, docsDf, q, k = k, kCand = 30, nprobe = 4,
                                           rerankFactor = 4))(h.rows)
      }))
    serves.map { case (tier, idCol, serve) =>
      h.op("read", s"serve_$tier")(serve()) { out => check(h, b, tier, idsByQuery(out, idCol)) }
        .map(Harness.digest).getOrElse("")
    }.mkString(".")
  }

  private def check(h: Harness, b: Int, tier: String, got: Map[Long, Seq[Long]]): Option[String] = {
    val qs = batches(b).map(_._1)
    if (got.keySet != qs.toSet || got.values.exists(_.size != k))
      return Some(s"$tier answered ${got.size} of ${qs.size} queries with $k ids each")
    val rec = qs.map(q => got(q).toSet.intersect(truth(q).toSet).size.toDouble / k).sum / qs.size
    if (h.recording) recalls.getOrElseUpdate(tier, mutable.ArrayBuffer.empty) += rec
    if (tier == "exact" && qs.exists(q => got(q) != truth(q)))
      Some(s"exact tier differs from brute force (recall $rec)")
    else if (tier == "pq" && inMemoryPq.contains(b) && qs.exists(q => got(q) != inMemoryPq(b)(q)))
      Some("manifest PQ serve differs from the in-memory composition")
    else if (rec < floors(tier)) Some(f"$tier recall $rec%.3f below floor ${floors(tier)}")
    else None
  }

  override def extras(h: Harness): Map[String, Double] = {
    val vectorTiers = Seq("exact", "q4", "pq").flatMap(recalls.get).flatten
    Map("recall_at_10" -> (if (vectorTiers.isEmpty) 0.0 else vectorTiers.sum / vectorTiers.size)) ++
      recalls.map { case (t, rs) => s"recall_at_10.$t" -> rs.sum / rs.size }
  }

  override def storeVersions(spark: SparkSession): Long =
    IvfObjectStore.versions(spark, ivfDir).size.toLong

  override def kernels(spark: SparkSession): Seq[(String, DataFrame, String)] =
    Workload.vectorKernels(spark.read.parquet(path("embeddings")), batches(0)(0)._3)

}

package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.implicits._
import graft.operators.{CorpusCuration, GraftDedup, GraftText, TextRank}

/** `curate`: a batch curation pass. A Bernoulli `sampleExt` and a
  * TPC-H-style join/aggregate/window over `lineitem` and `orders`, then on
  * `documents`: exact dedup, MinHash signatures → LSH candidates → Jaccard
  * verify, connected components → keep set, quality filter, and BM25 and
  * n-gram statistics. No store or retrieval work. */
final class Curate(seed: Long, work: String, parts: Int) extends Workload {
  val name = "curate"
  private val nLineitem = 60000L
  private val nOrders = 15000L
  private val nDocs = 1000
  private val sampleFraction = 0.1
  private val jaccard = 0.8

  private val r = Inputs.rng(seed, 1)
  private val sampleSeed = r.nextLong(1L << 40)
  private val shipCutoff = java.time.LocalDate.of(1992, 1, 1).plusDays(1200 + r.nextInt(1200)).toString
  private val queryTerms = Seq.fill(3)(Inputs.Vocab(r.nextInt(60)))

  private lazy val docs = Inputs.documents(seed, nDocs)
  private def path(t: String) = s"$work/inputs/$t.parquet"

  def inputRows: Map[String, Long] =
    Map("lineitem" -> nLineitem, "orders" -> nOrders, "documents" -> nDocs.toLong)

  def prepare(spark: SparkSession): Unit = {
    Inputs.lineitem(spark, nLineitem, nOrders, seed, parts).write.mode("overwrite").parquet(path("lineitem"))
    Inputs.orders(spark, nOrders, seed, parts).write.mode("overwrite").parquet(path("orders"))
    Inputs.docsFrame(spark, docs).write.mode("overwrite").parquet(path("documents"))
  }

  def inputDigest(spark: SparkSession): String =
    Seq("lineitem", "orders", "documents")
      .map(t => Inputs.tableDigest(spark.read.parquet(path(t)))).mkString("/")

  // ---- references the checks compare against, from the generated docs
  private lazy val firstOfText: Set[Long] =
    docs.groupBy(_.text).values.map(_.map(_.id).min).toSet
  private lazy val qualityIds: Set[Long] = docs.filter { d =>
    val n = d.tokens.length
    n >= 20 && d.tokens.count(Inputs.Stopwords.contains).toDouble / n < 0.5
  }.map(_.id).toSet
  private lazy val shingles: Map[Long, Set[String]] = docs.filter(_.tokens.length >= 3)
    .map(d => d.id -> d.tokens.sliding(3).map(_.mkString(" ")).toSet).toMap

  private val refDigest = mutable.Map.empty[String, String]
  private val passDigest = mutable.ArrayBuffer.empty[String]
  def outputDigest: String = passDigest.mkString("-")

  /** Same seed, same outputs: every stage's digest must match the first
    * time the stage ran in this process. */
  private def stable(stage: String, rows: Seq[Row]): Option[String] = {
    val d = Harness.digest(rows)
    passDigest += d
    refDigest.get(stage) match {
      case Some(ref) if ref != d => Some(s"$stage digest $d differs from $ref")
      case Some(_) => None
      case None => refDigest(stage) = d; None
    }
  }

  /** Opening the inputs (listing and footers) is curate's only set-up. */
  def setup(h: Harness, rep: Int): Unit =
    Seq("lineitem", "orders", "documents").foreach(t => h.spark.read.parquet(path(t)).schema)

  def pass(h: Harness): Long = {
    val spark = h.spark
    passDigest.clear()
    val li = spark.read.parquet(path("lineitem"))
    val or = spark.read.parquet(path("orders"))
    val dc = spark.read.parquet(path("documents"))
    var rows = 0L

    h.op("stage", "sample") {
      h.lib("operators.implicits.sampleExt")(li.sampleExt(sampleFraction, Some(sampleSeed)))(_.count())
    } { n =>
      // Chernoff: P(|X - fN| >= d) <= 2 exp(-d^2 / 3fN) = 1e-9 at this d
      val mu = sampleFraction * nLineitem
      val d = math.sqrt(3 * mu * math.log(2e9))
      if (math.abs(n - mu) > d) Some(s"sample count $n outside $mu ± $d")
      else stable("sample", Seq(Row(n)))
    }
    rows += nLineitem

    h.op("stage", "tpch") {
      val rev = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))
      val agg = li.filter(col("l_shipdate") < lit(shipCutoff).cast("date"))
        .join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(sum(rev).as("revenue"), count(lit(1)).as("n"), sum("l_quantity").as("qty"))
        .withColumn("rnk", rank().over(Window.partitionBy("l_returnflag").orderBy(desc("revenue"))))
      h.rows(agg)
    } { out =>
      if (out.size != 15) Some(s"tpch returned ${out.size} groups, expected 15")
      else stable("tpch", out)
    }
    rows += nLineitem + nOrders

    h.op("stage", "exact_dedup") {
      h.lib("operators.CorpusCuration.exactDedup")(CorpusCuration.exactDedup(dc))(d => h.rows(d.select("doc_id")))
    } { out =>
      val got = out.map(_.getLong(0)).toSet
      if (got != firstOfText || out.size != got.size)
        Some(s"exact dedup kept ${out.size} ids, expected ${firstOfText.size}")
      else stable("exact_dedup", out)
    }

    val shingled = dc.select(col("doc_id"), GraftText.whitespaceTokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), expr("""array_distinct(transform(sequence(0, size(tk) - 3),
                     i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))""").as("shingles"))
    val (rpb, bands) = GraftDedup.minhashBanding(jaccard, 128)
    val sig = h.libCall("operators.GraftDedup.signatures")(
      GraftDedup.signatures(shingled, "doc_id", "shingles", numHashes = 128))
    val cand = h.libCall("operators.GraftDedup.lshCandidates")(
      GraftDedup.lshCandidates(sig, "doc_id", Nil, bands, rpb))
    val pairsDf = h.libCall("operators.GraftDedup.verifyJaccard")(
      GraftDedup.verifyJaccard(cand, sig, "doc_id", jaccard, jaccard - 0.2))

    val pairs = h.op("stage", "near_dups") {
      h.lib("operators.GraftDedup.verifyJaccard")(pairsDf)(h.rows)
    } { out =>
      // every reported pair really is a near duplicate
      val wrong = out.filterNot { p =>
        val a = shingles(p.getLong(0)); val b = shingles(p.getLong(1))
        (a & b).size.toDouble / (a | b).size >= jaccard - 1e-9 && p.getLong(0) < p.getLong(1)
      }
      if (out.isEmpty) Some("no near-duplicate pairs found")
      else if (wrong.nonEmpty) Some(s"${wrong.size} pairs below Jaccard $jaccard")
      else stable("near_dups", out)
    }.getOrElse(Nil).map(p => (p.getLong(0), p.getLong(1)))

    // the components the pairs imply, by union-find
    val root = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = root.getOrElseUpdate(x, x); if (p == x) x else { val q = find(p); root(x) = q; q } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { root(math.max(ra, rb)) = math.min(ra, rb) }
    }
    val labelled = root.size

    h.op("stage", "components") {
      h.lib("operators.GraftDedup.connectedComponents")(
        GraftDedup.connectedComponents(pairsDf))(h.rows)
    } { out =>
      val wrong = out.count(r => find(r.getLong(0)) != r.getLong(1))
      if (out.size != labelled) Some(s"components labelled ${out.size} ids, expected $labelled")
      else if (wrong > 0) Some(s"$wrong ids carry the wrong component")
      else stable("components", out)
    }

    h.op("stage", "keep_set") {
      h.lib("operators.GraftDedup.keepSet")(GraftDedup.keepSet(dc, pairsDf))(h.rows)
    } { out =>
      val ids = out.map(_.getAs[Long]("doc_id"))
      val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
      if (ids.toSet != docs.map(_.id).toSet || ids.size != nDocs)
        Some(s"keep set covers ${ids.size} ids, expected the $nDocs input ids")
      else if (byCluster.exists { case (_, m) => m.count(_.getAs[Boolean]("keep")) != 1 })
        Some("a cluster does not have exactly one survivor")
      else if (out.exists(r => find(r.getAs[Long]("doc_id")) != r.getAs[Long]("cluster_id")))
        Some("keep set clusters differ from the pair components")
      else stable("keep_set", out)
    }

    h.op("stage", "quality") {
      h.lib("operators.CorpusCuration.qualityFilter")(CorpusCuration.qualityFilter(dc))(d => h.rows(d.select("doc_id")))
    } { out =>
      if (out.map(_.getLong(0)).toSet != qualityIds || out.size != qualityIds.size)
        Some(s"quality filter kept ${out.size} docs, expected ${qualityIds.size}")
      else stable("quality", out)
    }

    h.op("stage", "bm25") {
      h.lib("operators.TextRank.bm25TopK")(TextRank.bm25TopK(dc, queryTerms, 10))(h.rows)
    } { out =>
      if (out.size != 10) Some(s"bm25 returned ${out.size} rows, expected 10")
      else stable("bm25", out)
    }

    h.op("stage", "ngrams") {
      h.lib("operators.GraftText.wordNGrams")(
        dc.select(explode(GraftText.wordNGrams(GraftText.whitespaceTokens(col("text")), 2)).as("g"))
          .groupBy("g").count()
          .orderBy(desc("count"), asc("g")).limit(20))(h.rows)
    } { out =>
      if (out.size != 20) Some(s"n-gram stats returned ${out.size} rows, expected 20")
      else stable("ngrams", out)
    }
    rows + 7L * nDocs // seven stages read the documents
  }

  override def kernels(spark: SparkSession): Seq[(String, DataFrame, String)] = {
    val in = spark.read.parquet(path("documents"))
      .select(explode(array((0 until 10).map(_ => GraftText.whitespaceTokens(col("text"))): _*)).as("items"))
    Seq(("graft_minhash", in, "graft_minhash(items, 128)"))
  }
}

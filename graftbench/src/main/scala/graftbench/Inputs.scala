package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation. Everything a workload feeds the library is a
  * pure function of the workload seed; the library only receives the
  * generated DataFrames. */
object Inputs {

  final case class Doc(id: Long, tokens: Array[String]) {
    def text: String = tokens.mkString(" ")
  }

  /** The fixed vocabulary: pseudo-words plus the stopwords the quality
    * filter counts. */
  val Stopwords: Seq[String] = graft.operators.GraftText.StopwordsEn
  val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "re", "su", "ta", "ven", "dor", "pli", "zu",
                    "ar", "en", "ox", "qui", "bel", "nor")
    (for (a <- syl; b <- syl) yield a + b).take(240)
  }
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / math.pow(r + 1, 0.9))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    Vocab(math.min(Vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** A fresh document of `len` tokens, about a sixth of them stopwords. */
  private def freshTokens(r: SplittableRandom, len: Int): Array[String] =
    Array.fill(len)(if (r.nextInt(6) == 0) Stopwords(r.nextInt(Stopwords.size)) else zipfWord(r))

  /** `n` documents with planted exact duplicates (~4%) and near-duplicate
    * chains (~12%: one token of a long earlier document replaced, so the
    * word-3-shingle Jaccard stays high). */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 11)
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](n)
    for (i <- 0 until n) {
      val id = i.toLong
      val u = r.nextDouble()
      val longOnes = docs.filter(_.tokens.length >= 40)
      val toks =
        if (i > 20 && u < 0.04) docs(r.nextInt(docs.size)).tokens.clone()
        else if (i > 20 && u < 0.16 && longOnes.nonEmpty) {
          val t = longOnes(r.nextInt(longOnes.size)).tokens.clone()
          t(r.nextInt(t.length)) = zipfWord(r)
          t
        } else freshTokens(r, 8 + r.nextInt(72))
      docs += Doc(id, toks)
    }
    docs.toIndexedSeq
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    val langs = Array("en", "de", "fr", "zh")
    val rows = docs.map { d =>
      val t = d.text
      Row(d.id, t, langs((d.id % 4).toInt), s"src${d.id % 5}", t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), DocSchema)
  }

  /** Clustered unit-free vectors: `dim`-d Gaussian noise around one of 16
    * seeded centres, so an IVF probe has structure to find. */
  def vectors(seed: Long, ids: Seq[Long], dim: Int, salt: Long = 21): IndexedSeq[(Long, Array[Double])] = {
    val c = rng(seed, 20)
    val centres = Array.fill(16)(Array.fill(dim)(c.nextGaussian()))
    ids.map { id =>
      val r = rng(seed, salt * 1000003L + id)
      val ctr = centres(r.nextInt(centres.length))
      id -> Array.tabulate(dim)(j => ctr(j) + 0.6 * r.nextGaussian())
    }.toIndexedSeq
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false))))

  def vecFrame(spark: SparkSession, vs: Seq[(Long, Array[Double])], parts: Int = 4): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map { case (i, v) => Row(i, v.toSeq) }, parts),
      VecSchema)

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Exact top-`k` ids by cosine, ties to the lower id. */
  def topK(q: Array[Double], vs: Seq[(Long, Array[Double])], k: Int): Seq[Long] =
    vs.map { case (id, v) => (id, cosine(q, v)) }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  /** A query vector near corpus vector `v`. */
  def perturb(r: SplittableRandom, v: Array[Double]): Array[Double] =
    v.map(x => x + 0.3 * r.nextGaussian())

  /** TPC-H-shaped `lineitem` and `orders`, generated in Spark from
    * seeded hashes of the row number. */
  def orders(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    def u(salt: Int) = pmod(h(salt), lit(1000000L)) / 1e6
    spark.range(0, n, 1, parts).select(
      col("id").as("o_orderkey"),
      pmod(h(1), lit(15000L)).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (pmod(h(2), lit(3)) + 1).cast("int"))
        .as("o_orderstatus"),
      round(u(3) * 400000 + 1000, 2).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), pmod(h(4), lit(2400)).cast("int"))
        .as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
                         .map(lit): _*), (pmod(h(5), lit(5)) + 1).cast("int"))
        .as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, n: Long, nOrders: Long, seed: Long, parts: Int): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(100 + salt))
    def u(salt: Int) = pmod(h(salt), lit(1000000L)) / 1e6
    spark.range(0, n, 1, parts).select(
      pmod(h(1), lit(nOrders)).as("l_orderkey"),
      pmod(h(2), lit(20000L)).as("l_partkey"),
      pmod(h(3), lit(1000L)).as("l_suppkey"),
      (pmod(h(4), lit(7)) + 1).cast("int").as("l_linenumber"),
      (floor(u(5) * 50) + 1).cast("double").as("l_quantity"),
      round(u(6) * 100000 + 900, 2).as("l_extendedprice"),
      (floor(u(7) * 11) / 100).as("l_discount"),
      (floor(u(8) * 9) / 100).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pmod(h(9), lit(3)) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pmod(h(10), lit(2)) + 1).cast("int"))
        .as("l_linestatus"),
      date_add(lit("1992-01-01").cast("date"), pmod(h(11), lit(2500)).cast("int"))
        .as("l_shipdate"))
  }

  /** Order-independent digest of a table's contents and its row count. */
  def tableDigest(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
                      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

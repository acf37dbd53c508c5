package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The AT-REST BM25 impact index — the lexical analog of the IVF vector
  * store (VERDICT r13 #1c/#2): the per-(term, document) impact addends of
  * [[TextRank.bm25Impacts]] persisted term-bucketed, so the lexical leg
  * of a retrieval serve is a build-once/serve-many inverted-index lookup
  * instead of a per-deploy corpus fold.
  *
  * Layout under `dir`:
  * {{{
  *   impacts/__bkt=<b>/...parquet   (__term, doc_id, __a) rows,
  *                                  term-bucketed by xxhash64(__term) mod
  *                                  `buckets`, __term-sorted within files
  *   terms/...parquet               (__term, __df, __maxa) — one row per
  *                                  term: document frequency + MAX impact,
  *                                  the WAND/MaxScore upper-bound table
  *   meta/...parquet                (buckets, k1, b) — one row
  * }}}
  *
  * Scale shape:
  *   - the build is the ungated kernel — the vocabulary-wide df attach is
  *     a co-partitioned shuffle join (never a broadcast), and the write
  *     shuffles once on the bucket key;
  *   - a query's serve reads only its terms' buckets: [[impactsFor]]
  *     emits literal `__bkt` predicates (partition pruning) plus a
  *     `__term IN` residual (row-group stats pruning on the sorted
  *     files), so a 3-term query touches ≤ 3 of `buckets` partitions of
  *     the corpus-sized table;
  *   - the `terms` summary is one row per DISTINCT term (vocabulary-
  *     sized at rest, but probed by `__term IN (<query terms>)` — a
  *     model-sized read per query);
  *   - deliberately NO append path (unlike the vector stores): a BM25
  *     addend bakes in GLOBAL corpus statistics (df, N, avgdl), so any
  *     corpus change invalidates every stored addend — an "append"
  *     could only offer silently-stale scoring (the drift real
  *     per-segment engines accept implicitly). This store's contract is
  *     the honest one: rebuild on corpus change ([[write]] overwrites),
  *     refresh cadence = however stale the deployment tolerates its idf;
  *   - [[bm25TopKPruned]] cuts posting traversal below even that: only
  *     the ESSENTIAL (highest-max-impact) terms' postings generate
  *     candidates, with the threshold-vs-upper-bound test verifying
  *     IN-PLAN that the skipped postings could not have changed the
  *     answer — the lexical analog of the IVF probe cut, and exact by
  *     refusal (the minhashBanding stance) rather than by hope.
  */
object ImpactIndex {

  // ------------------------------------------------------------------
  // Store FILESYSTEM CONTRACT
  //
  // [[write]]'s rebuild lifecycle is a rename-committed overwrite: the
  // impact, term and meta frames land through Spark's file commit
  // protocol, whose task and job commits RENAME staged files into place
  // and whose readers trust a consistent directory LISTING. HDFS and
  // local files provide both. Object stores generally do NOT: S3A's
  // rename is a non-atomic client-side copy+delete and GCS's directory
  // rename is per-object copy, so a torn overwrite could serve
  // half-old, half-new buckets. The store therefore REFUSES to write on
  // a filesystem not known to satisfy the contract instead of
  // corrupting quietly. Reads stay ungated: a store SNAPSHOT copied to
  // an object store serves fine ([[read]] never mutates). The
  // manifest-committed stores ([[IvfObjectStore]], [[ImpactObjectStore]])
  // need no rename and carry no gate.
  //
  // Degraded mode: setting `graft.ivf.store.fs.force=true` in the Hadoop
  // conf accepts an unlisted filesystem. That is a DOCUMENTED CONTRACT
  // SHIFT, not a free pass: the operator asserts that all writers are
  // serialized EXTERNALLY so no rename/list race can occur, and that a
  // mid-rename crash may need manual inspection. The intended production
  // posture on S3/GCS is: build the store on an HDFS-semantics tier,
  // publish immutable snapshots to the object store for serving.
  // ------------------------------------------------------------------

  /** Hadoop conf key for the documented degraded mode (see the contract
    * note above): accept a filesystem outside the known rename-atomic
    * set. */
  val StoreFsForceKey = "graft.ivf.store.fs.force"

  /** Filesystems known to provide atomic rename + consistent listing +
    * atomic create-if-absent. `file` (and RawLocal's `local`) are POSIX
    * renames; `hdfs`/`viewfs`/`webhdfs`/`hdfs-over-routers` are the
    * NameNode's atomic namespace ops. */
  private val RenameAtomicSchemes =
    Set("file", "local", "hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Object-store schemes whose rename is a non-atomic copy(+delete) —
    * refused with the specific reason rather than the generic
    * unknown-scheme message. */
  private val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "oss",
        "cosn", "obs")

  /** Typed refusal for a store filesystem outside the contract — callers
    * either move the store or opt into [[StoreFsForceKey]]. */
  final class StoreFsContractViolation(msg: String)
      extends IllegalStateException(msg)

  /** Gate every store MUTATION on the filesystem contract above. Called
    * at the top of [[write]] — cheap (no RPC beyond the capability
    * probe), and failing at open beats failing mid-overwrite.
    */
  private[operators] def requireStoreFsContract(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration, ctx: String): Unit = {
    if (conf.getBoolean(StoreFsForceKey, false)) return
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    def refuse(why: String): Nothing = throw new StoreFsContractViolation(
      s"$ctx: store filesystem '$scheme://' $why. The at-rest " +
      "store's rename-committed writes require ATOMIC RENAME, " +
      "CONSISTENT DIRECTORY LISTING and ATOMIC CREATE-IF-ABSENT (HDFS " +
      "semantics). Keep the mutable store on HDFS-compatible storage " +
      "and publish snapshots to object stores for read-only serving; " +
      s"or, if ALL writers are serialized externally, set " +
      s"$StoreFsForceKey=true in the Hadoop conf to accept the risk " +
      "(documented degraded mode).")
    // a filesystem that self-reports inconsistent listing is out
    // regardless of scheme (Hadoop CommonPathCapabilities)
    val inconsistent =
      try fs.hasPathCapability(dir, "fs.capability.directory.listing.inconsistent")
      catch { case _: IllegalArgumentException | _: java.io.IOException |
                   _: UnsupportedOperationException => false }
    if (inconsistent) refuse("reports inconsistent directory listing")
    if (ObjectStoreSchemes.contains(scheme))
      refuse("is an object store whose rename is a non-atomic copy+delete")
    if (!RenameAtomicSchemes.contains(scheme))
      refuse("is not in the known rename-atomic set " +
             RenameAtomicSchemes.toSeq.sorted.mkString("{", ", ", "}"))
  }

  /** Read handle: the store's frames plus the build constants. */
  final case class StoredImpacts(impacts: DataFrame, terms: DataFrame,
                                 buckets: Int, k1: Double, b: Double) {
    /** The impact rows of exactly `queryTerms`, with the bucket set as
      * LITERAL partition predicates so the scan prunes to ≤ |terms|
      * buckets (plus the `__term IN` residual for row-group stats).
      */
    def impactsFor(queryTerms: Seq[String]): DataFrame = {
      require(queryTerms.nonEmpty, "impactsFor: empty term set")
      val distinctTerms = queryTerms.distinct
      val bkts = distinctTerms.map(bucketOf(_, buckets)).distinct
      impacts
        .filter(col("__bkt").isin(bkts: _*) &&
                col("__term").isin(distinctTerms: _*))
        .select(col("__term"), col("doc_id"), col("__a"))
    }
  }

  /** The bucket of a term — pmod(xxhash64(term), buckets), evaluated
    * driver-side with the IDENTICAL Catalyst kernel the write used, so
    * literal pruning predicates can never disagree with the layout. */
  private[operators] def bucketOf(term: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(term))),
      42L) // the SQL xxhash64 default seed — what the write used
      .eval(null).asInstanceOf[Long]
    val m = h % buckets
    (if (m < 0) m + buckets else m).toInt
  }

  /** Build the impact table from `docs` and persist the store. The
    * addends come from THE shared kernel ([[TextRank.bm25Impacts]],
    * ungated), so at-rest scores are bit-equal to every in-memory BM25
    * consumer. The `terms` summary aggregates the WRITTEN impacts (one
    * at-rest scan) rather than recomputing the build. Overwrites any
    * store at `dir`.
    */
  def write(docs: DataFrame, dir: String, idCol: String = "doc_id",
            textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
            buckets: Int = 64): Unit = {
    require(buckets >= 1, s"ImpactIndex.write: buckets must be >= 1, " +
      s"got $buckets")
    val spark = docs.sparkSession
    // the rebuild lifecycle is a rename-committed overwrite (see the
    // filesystem contract note above)
    val hConf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    requireStoreFsContract(
      p.getFileSystem(hConf), p, hConf, "ImpactIndex.write")
    val imp = TextRank.bm25Impacts(
        docs.select(col(idCol).cast("long").as("doc_id"), col(textCol)),
        "doc_id", textCol, k1, b, termGate = None)
      .withColumn("__bkt",
                  pmod(xxhash64(col("__term")), lit(buckets.toLong))
                    .cast("int"))
    ScaleHints.writeWidth(imp, col("__bkt"))
      .sortWithinPartitions("__bkt", "__term", "doc_id")
      .write.mode("overwrite").partitionBy("__bkt")
      .parquet(s"$dir/impacts")
    // per-term bound table off the at-rest bytes (no rebuild)
    spark.read.parquet(s"$dir/impacts")
      .groupBy("__term")
      .agg(count(lit(1)).as("__df"), max(col("__a")).as("__maxa"))
      .write.mode("overwrite").parquet(s"$dir/terms")
    import spark.implicits._
    Seq((buckets, k1, b)).toDF("buckets", "k1", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a store written by [[write]]. */
  def read(spark: SparkSession, dir: String): StoredImpacts = {
    val meta = spark.read.parquet(s"$dir/meta").collect() match {
      case Array(r) => r
      case other => throw new IllegalStateException(
        s"ImpactIndex.read: expected one meta row under $dir, " +
        s"got ${other.length}")
    }
    StoredImpacts(
      impacts = spark.read.parquet(s"$dir/impacts")
        .withColumn("__bkt", col("__bkt").cast("int"))
        .withColumn("doc_id", col("doc_id").cast("long")),
      terms = spark.read.parquet(s"$dir/terms"),
      buckets = meta.getAs[Int]("buckets"),
      k1 = meta.getAs[Double]("k1"),
      b = meta.getAs[Double]("b"))
  }

  private def ranked(scored: DataFrame, k: Int, idCol: String): DataFrame = {
    val top = scored
      .orderBy(col("__score").desc, col("doc_id").asc)
      .limit(k)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("__score").desc, col("doc_id").asc)).cast("long"))
      .select(col("rank"), col("doc_id").as(idCol), col("n_terms_hit"))
  }

  /** Exact BM25 top-`k` off the store — [[TextRank.bm25TopK]]'s output
    * contract (rank, idCol, n_terms_hit) served from the at-rest
    * addends: the scan reads only the query terms' buckets, and the sum
    * is bit-equal to the from-text kernel (one formula, one grid), so
    * the `text_bm25_topk` oracle certifies this row verbatim
    * (`text_bm25_stored`).
    */
  def bm25TopKStored(idx: StoredImpacts, queryTerms: Seq[String], k: Int,
                     idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty,
      "bm25TopKStored needs at least one query term")
    require(k > 0, s"k must be positive, got $k")
    val scored = idx.impactsFor(queryTerms)
      .groupBy(col("doc_id"))
      .agg(sum(col("__a")).as("__score"), count(lit(1)).as("n_terms_hit"))
    ranked(scored, k, idCol)
  }

  /** IMPACT-ORDERED pruned BM25 top-`k` (MaxScore essential-list
    * pruning; Turtle & Flood 1995 / the WAND family): only the
    * `essential` highest-max-impact query terms' postings generate
    * candidate documents; candidates are then scored EXACTLY over all
    * their query-term postings. A document containing only
    * NON-essential terms scores at most `neUpper = Σ __maxa(non-
    * essential)` — if `neUpper < θ` (the k-th candidate score,
    * STRICTLY, so doc-id tie-breaks cannot be usurped either), no
    * skipped document could enter the top-k and the pruned answer IS
    * the exact answer. That covering test runs IN-PLAN against the
    * materialized top-k and REFUSES (assert_true) when it fails —
    * under-pruning is an error, never a silently-degraded result (the
    * minhashBanding / rerank-budget contract). At 100 TB this is the
    * serve path for queries carrying stopword-adjacent terms: the
    * stopword's corpus-sized posting list never enters the
    * per-document aggregation — the candidate semi-join drops its
    * non-candidate rows before any shuffle, so the grouped/shuffled
    * volume is candidates × query terms, not Σ posting lengths
    * (ImpactIndexSpec pins the reduction on a skewed corpus). The
    * skipped term's bucket is still SCANNED once (columnar I/O, no
    * shuffle) — cutting that too would take doc-ordered postings with
    * candidate-range row-group stats, a layout trade this store does
    * not make (term-sorted files buy the serve-path term pruning
    * instead).
    *
    * Monotonicity (spec-pinned): any `essential` that passes the test
    * yields the identical output; larger `essential` only widens the
    * candidate pool toward [[bm25TopKStored]] (at |terms| they are the
    * same plan shape).
    */
  def bm25TopKPruned(idx: StoredImpacts, queryTerms: Seq[String], k: Int,
                     essential: Int, idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty,
      "bm25TopKPruned needs at least one query term")
    require(k > 0, s"k must be positive, got $k")
    require(essential >= 1,
      s"bm25TopKPruned: essential must be >= 1, got $essential")
    val distinctTerms = queryTerms.distinct
    // the per-term upper bounds: |queryTerms| rows off the summary table
    // — model-sized by the query-minibatch contract (the survivor-fetch
    // precedent); terms absent from the corpus have no postings and
    // cannot contribute to either the exact or the pruned answer
    val bounds = idx.terms
      .filter(col("__term").isin(distinctTerms: _*))
      .select(col("__term"), col("__maxa"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, ua) => (-ua, t) }
    if (bounds.isEmpty) {
      // no query term occurs in the corpus: the exact answer is empty
      return ranked(idx.impacts.limit(0)
        .select(col("doc_id"), col("__a").as("__score"),
                lit(0L).as("n_terms_hit")), k, idCol)
    }
    val ess = bounds.take(essential).map(_._1)
    val nonEss = bounds.drop(essential)
    val neUpper = nonEss.map(_._2).sum
    val cand = idx.impactsFor(ess).select(col("doc_id")).distinct()
    val scored = idx.impactsFor(distinctTerms)
      .join(ScaleHints.gated(cand), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sum(col("__a")).as("__score"), count(lit(1)).as("n_terms_hit"))
    if (neUpper == 0L) return ranked(scored, k, idCol) // nothing skipped
    // covering guard, in-plan: θ = k-th candidate score; need a FULL
    // top-k (cnt = k) and neUpper STRICTLY below θ (a skipped doc tying
    // θ with a smaller id would displace the k-th row). The guard stats
    // come from ONE unbounded window over the k-row limit output (already
    // SinglePartition after TakeOrderedAndProject, so no exchange and no
    // second computation of the candidate subtree — r15 cross-joined a
    // broadcast aggregate of a DUPLICATED top-k subtree, a ~2× fixed
    // cost on the serve path)
    val top = scored.orderBy(col("__score").desc, col("doc_id").asc).limit(k)
    val gw = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val checked = top
      .withColumn("__cnt", count(lit(1)).over(gw))
      .withColumn("__th", min(col("__score")).over(gw))
      .filter(assert_true(
        col("__cnt") >= k && lit(neUpper) < col("__th"),
        concat(lit(s"bm25TopKPruned: essential=$essential does not cover " +
                   s"k=$k — skipped-term upper bound $neUpper is not " +
                   "strictly below the k-th candidate score (got cnt="),
               col("__cnt"), lit(", theta="), col("__th"),
               lit("); raise essential — a silently non-exact top-k is " +
                   "refused"))).isNull)
      .select(col("doc_id"), col("__score"), col("n_terms_hit"))
    ranked(checked, k, idCol)
  }
}

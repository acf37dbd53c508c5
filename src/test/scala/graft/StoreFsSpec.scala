package graft

import org.apache.spark.sql.functions._

import graft.operators.ImpactIndex

/** The rename-committed [[ImpactIndex]] store's FILESYSTEM CONTRACT
  * (README): [[ImpactIndex.write]]'s overwrite lands through Spark's
  * rename-based file commit and trusts a consistent listing. These tests
  * pin that the gate refuses non-HDFS-semantics filesystems with the
  * documented reason, that reads stay ungated, and that the documented
  * `graft.ivf.store.fs.force` degraded mode runs write + serve end-to-end
  * (on a local FS masquerading as s3a). The manifest-committed stores
  * need no gate — ManifestStoreSpec runs them on the same mock scheme.
  */
class StoreFsSpec extends GraftFunSuite {

  private def withMockFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[graft.testfs.MockObjectStoreFs].getName)
    conf.set("fs.mockeventual.impl",
             classOf[graft.testfs.MockInconsistentListingFs].getName)
    conf.set("fs.mockdfs.impl", classOf[graft.testfs.MockUnknownFs].getName)
    try body
    finally {
      conf.unset("fs.s3a.impl")
      conf.unset("fs.mockeventual.impl")
      conf.unset("fs.mockdfs.impl")
      conf.unset(ImpactIndex.StoreFsForceKey)
      org.apache.hadoop.fs.FileSystem.closeAll()
    }
  }

  private def docs() = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private val terms = Seq("the", "data", "of")

  private def serve(dir: String) =
    ImpactIndex.bm25TopKStored(ImpactIndex.read(spark, dir), terms, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("store mutators refuse object-store / eventually-listed / unknown " +
       "filesystems with the documented reason; reads stay ungated") {
    withMockFs {
      val base = java.nio.file.Files.createTempDirectory("fs_contract").toString
      try {
        val cases = Seq(
          "s3a" -> "non-atomic copy+delete",
          "mockeventual" -> "inconsistent directory listing",
          "mockdfs" -> "known rename-atomic set")
        for ((scheme, reason) <- cases) {
          val dir = s"$scheme:$base/store_$scheme"
          val eW = intercept[ImpactIndex.StoreFsContractViolation] {
            ImpactIndex.write(docs(), dir, buckets = 8)
          }
          assert(eW.getMessage.contains(reason), s"$scheme: ${eW.getMessage}")
          assert(eW.getMessage.contains(ImpactIndex.StoreFsForceKey),
            "the refusal must name the documented override")
          assert(!new java.io.File(s"$base/store_$scheme").exists(),
            "a refused mutation must leave nothing behind")
        }
        // a local-FS store still writes freely (the allowlisted path)
        val localDir = s"$base/store_local"
        ImpactIndex.write(docs(), localDir, buckets = 8)
        // READS stay ungated: serve the same store THROUGH the s3a mock
        // scheme (an immutable snapshot on an object store is a
        // supported serving posture)
        val viaLocal = serve(localDir)
        val viaS3 = serve(s"s3a:$localDir")
        assert(viaS3 == viaLocal && viaS3.nonEmpty,
          s"read-only serving through the object-store scheme must work: " +
          s"s3=${viaS3.size} local=${viaLocal.size}")
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }

  test("the force flag is the documented degraded mode: the impact " +
       "store's write and serve run through a foreign scheme end-to-end") {
    withMockFs {
      val base = java.nio.file.Files.createTempDirectory("fs_forced").toString
      try {
        val localDir = s"$base/store_local"
        ImpactIndex.write(docs(), localDir, buckets = 8)
        spark.sparkContext.hadoopConfiguration
          .setBoolean(ImpactIndex.StoreFsForceKey, true)
        val dir = s"s3a:$base/store_forced"
        ImpactIndex.write(docs(), dir, buckets = 8)
        val viaForced = serve(dir)
        assert(viaForced == serve(localDir) && viaForced.nonEmpty,
          "forced mode must serve identically to the allowlisted store")
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base))
    }
  }
}

package graft.testfs

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only Hadoop filesystems for StoreFsSpec and ManifestStoreSpec:
  * each is the LOCAL filesystem wearing a different scheme, so the
  * rename-committed store's filesystem-contract gate can be exercised
  * against object-store / eventually-consistent / unknown schemes without
  * any real remote storage, and the manifest stores can run their whole
  * lifecycle through an object-store scheme. Registered per-test via
  * `fs.<scheme>.impl` in the Hadoop conf.
  *
  * File statuses are rebuilt with explicit permissions:
  * RawLocalFileSystem's deprecated lazy permission loader does
  * `new java.io.File(path.toUri)` and dies on any non-`file` scheme.
  */
abstract class SchemedLocalFs(scheme: String) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"$scheme:///")
  override def getScheme: String = scheme
  private def solid(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
                   st.getBlockSize, st.getModificationTime, st.getAccessTime,
                   new FsPermission("755"), "graft", "graft", st.getPath)
  override def getFileStatus(f: Path): FileStatus =
    solid(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(solid)
}

/** Local FS masquerading as an object store — must be refused by the
  * store's mutation gate as non-atomic-rename. */
class MockObjectStoreFs extends SchemedLocalFs("s3a")

/** An otherwise-unknown scheme that self-reports eventual listing via
  * Hadoop's `fs.capability.directory.listing.inconsistent` path
  * capability — must be refused regardless of scheme lists. */
class MockInconsistentListingFs extends SchemedLocalFs("mockeventual") {
  override def hasPathCapability(p: Path, capability: String): Boolean =
    capability == "fs.capability.directory.listing.inconsistent" ||
    super.hasPathCapability(p, capability)
}

/** An unknown scheme with default capabilities — neither allowlisted nor
  * a known object store; the gate must refuse it conservatively. */
class MockUnknownFs extends SchemedLocalFs("mockdfs")

package graft

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** A local filesystem registered under the NON-file scheme
  * `graftfs://` — the test twin of an object-store connector (s3a,
  * gs, abfs). Everything in the engine that touches storage resolves
  * its FileSystem from the PATH (`Path.getFileSystem(conf)`), so
  * pointing the same code at `graftfs://...` proves no component
  * shortcuts to `java.io.File` or assumes the `file:` scheme —
  * the s3a-readiness claim as a contract test instead of an
  * assertion. Reference behavior being modeled:
  * /root/reference/src/helper/s3.py:37-95 (boto3 list/get/put). */
class GraftTestFileSystem extends RawLocalFileSystem {
  private var myUri: URI = _

  override def getScheme: String = "graftfs"

  override def initialize(name: URI, conf: Configuration): Unit = {
    myUri = URI.create(name.getScheme + ":///")
    super.initialize(name, conf)
  }

  override def getUri: URI = if (myUri != null) myUri else URI.create("graftfs:///")

  /** Renames the test's fault hook picks fail with an IOException. */
  override def rename(src: Path, dst: Path): Boolean =
    if (GraftTestFileSystem.failRename(src, dst))
      throw new java.io.IOException(s"injected rename fault: $src -> $dst")
    else super.rename(src, dst)

  /** Deletes the test's fault hook picks fail with an IOException. */
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (GraftTestFileSystem.failDelete(p))
      throw new java.io.IOException(s"injected delete fault: $p")
    else super.delete(p, recursive)

  /** Accept only graftfs paths (and scheme-less relative ones). */
  override def checkPath(path: Path): Unit = {
    val scheme = path.toUri.getScheme
    if (scheme != null && scheme != "graftfs")
      throw new IllegalArgumentException(s"Wrong FS scheme: $path")
  }
}

object GraftTestFileSystem {
  /** Fault hook: a rename for which this returns true fails. Tests
    * that set it restore the default. */
  @volatile var failRename: (Path, Path) => Boolean = (_, _) => false
  /** Fault hook: a delete for which this returns true fails. */
  @volatile var failDelete: Path => Boolean = _ => false
}

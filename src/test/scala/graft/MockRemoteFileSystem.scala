package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}

/** A local-disk-backed Hadoop FileSystem registered under a remote-looking
  * scheme (`mocks3://`). The catalog layer claims to work over any Hadoop
  * FileSystem (`file://`/`hdfs://`/`s3a://`) because every file access goes
  * through the FS API — this fixture proves that claim end-to-end without
  * network access: paths resolve through the scheme → FileSystem → open /
  * listStatus / getFileStatus machinery exactly as `s3a://` would, but the
  * bytes come from local disk. */
class MockRemoteFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "mocks3"
  override def getUri: URI = URI.create("mocks3:///")
}

/** Local disk under the `countfs://` scheme behind a `FilterFileSystem`
  * that counts `getFileStatus` calls — on `s3a://` each one is a HEAD
  * request, so a spec can bound how many a catalog resolution makes. */
class CountingFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
}) {
  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.statCalls.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingFileSystem {
  val statCalls = new java.util.concurrent.atomic.AtomicLong
}

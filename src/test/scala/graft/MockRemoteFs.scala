package graft

/** LocalFileSystem re-registered under a NON-`file` scheme, so specs
  * can drive [[graft.sources.FsFast]]'s Hadoop fallback arm (and the
  * whole versioned-table protocol above it) without a real remote
  * store: every `localPath` dispatch sees scheme `mock` and takes the
  * `case None` Hadoop branch, while bytes still land on local disk
  * where assertions can reach them. The inner raw fs reports the mock
  * URI too (checkPath validates against it) and stays checksummed like
  * the real LocalFileSystem, so `.crc` hygiene stays observable. */
class MockRemoteFs extends org.apache.hadoop.fs.LocalFileSystem(
    new MockRawFs) {
  override def getScheme: String = "mock"
}

class MockRawFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission

  override def getUri: java.net.URI = MockRemoteFs.uri

  // RawLocal's DeprecatedRawLocalFileStatus lazy-loads permissions via
  // `new java.io.File(uri)`, which rejects non-file schemes — return
  // statuses with permissions preloaded so listings under mock:// work
  private def fixed(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault
      else FsPermission.getFileDefault, "mock", "mock", st.getPath)

  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(fixed)

  override def getFileStatus(p: Path): FileStatus =
    fixed(super.getFileStatus(p))

  // every create (FsFast.put, Spark's writers) reaches the raw fs here
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    MockRemoteFs.injectCreateFault(p)
    super.create(p, perm, overwrite, bufferSize, replication, blockSize,
      progress)
  }
}

object MockRemoteFs {
  val uri: java.net.URI = java.net.URI.create("mock:///")

  private val createFault =
    new java.util.concurrent.atomic.AtomicReference[(String, () => Unit)]()

  /** Fault hook: the next create of a file named `name` under a mock
    * path runs `before`, then fails once with an IOException. */
  def failNextCreate(name: String, before: () => Unit = () => ()): Unit =
    createFault.set((name, before))

  /** Drop a fault that never fired. */
  def clearFaults(): Unit = createFault.set(null)

  private[graft] def injectCreateFault(p: org.apache.hadoop.fs.Path): Unit = {
    val fault = createFault.get()
    if (fault != null && fault._1 == p.getName &&
        createFault.compareAndSet(fault, null)) {
      fault._2()
      throw new java.io.IOException(s"injected create failure: $p")
    }
  }
}

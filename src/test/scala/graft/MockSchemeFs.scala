package graft

/** A RawLocalFileSystem registered under a NON-file scheme — lets the
  * suite execute the WAP log's non-file branch
  * (`FileSystem.create(path, overwrite = false)` + no-overwrite
  * `rename` + `delete`) and full parquet publishes against a
  * scheme-qualified root, the wire the hdfs:// deployment uses,
  * without an HDFS cluster. Backed by the local disk; the point is
  * the scheme dispatch, not the storage.
  */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")

  /** HDFS's rename contract for files: false, and no change, when the
    * destination exists. RawLocalFileSystem's `File.renameTo` would
    * replace it on Linux; a hard link fails atomically instead.
    * Directories (Spark's output commit) keep the inherited rename.
    */
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val from = pathToFile(src).toPath
    if (!java.nio.file.Files.isRegularFile(from)) super.rename(src, dst)
    else
      try {
        java.nio.file.Files.createLink(pathToFile(dst).toPath, from)
        java.nio.file.Files.delete(from)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }
}

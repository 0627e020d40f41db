package graft

/** Verification gates: functions registered in
  * [[graft.SparkEntry.queries]] that run a whole table or
  * materialized-view lifecycle on a temp copy of the fixtures and
  * return one row for the DuckDB oracle. Engine modules never import
  * this package. */
package object gates {

  /** Run `body` over a fresh temp work dir named after `prefix`,
    * deleted afterwards. The returned frame must not read the work
    * dir lazily: gates return constants or materialized rows. */
  private[gates] def withWork[T](prefix: String)(
      body: java.nio.file.Path => T): T = {
    val work = java.nio.file.Files.createTempDirectory(prefix)
    try body(work)
    finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }
}

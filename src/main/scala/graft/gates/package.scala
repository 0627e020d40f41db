package graft

/** Verification gates: functions registered in
  * [[graft.SparkEntry.queries]] that run a whole table, index or
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

  /** What an export gate resolved: its named file lists (`data`, or an
    * index's head and pinned siblings) and, for the vector probes, the
    * unit query vector — each element the float-rounded component
    * widened to double, so the oracle probes with EXACTLY the
    * in-engine floats. */
  private[graft] final case class Export(files: Map[String, Seq[String]],
      query: Seq[Double] = Nil) {
    /** `part`'s files as a DuckDB `read_parquet` list literal. */
    def list(part: String): String =
      files(part).map(f => s"'$f'").mkString("[", ", ", "]")
  }

  private val exports =
    new java.util.concurrent.ConcurrentHashMap[String, Export]()

  /** The export the LAST run of query `name`'s gate resolved in this
    * JVM — SparkEntry.oracleSql embeds its files literally into that
    * query's DuckDB oracle. Verify dumps oracle SQL after running
    * every query, so a driver pass always sees it; a standalone dump
    * omits the entry (a rows-only check). The export dirs outlive the
    * JVM on purpose: the DuckDB pass reads the files after exit. */
  private[graft] def lastExport(name: String): Option[Export] =
    Option(exports.get(name))

  private[gates] def recordExport(name: String, e: Export): Unit =
    exports.put(name, e)
}

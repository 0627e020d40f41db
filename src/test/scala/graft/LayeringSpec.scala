package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level layering guard: verification gates (whole lifecycles
  * over fixture copies, one oracle row each) live in `graft.gates`,
  * the engine never depends on them, every view refresh reads the one
  * net-diff path ([[graft.sources.Versioned.netChanges]]), and the
  * persisted indexes share one tombstone sibling
  * ([[graft.operators.IndexTombs]]) and one pinned-sibling protocol
  * ([[graft.operators.IndexPins]]). */
class LayeringSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala/graft")

  private def text(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private def scalaFiles(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("Versioned and DerivedTable hold no gate and no fixture loader") {
    for (name <- Seq("Versioned.scala", "DerivedTable.scala")) {
      val src = text(main.resolve("sources").resolve(name))
      assert("""def \w*Gate""".r.findFirstIn(src).isEmpty,
        s"$name defines a gate")
      assert("""\bTables\.""".r.findFirstIn(src).isEmpty,
        s"$name references Tables")
      assert(!src.contains("FixturePool"), s"$name references FixturePool")
    }
  }

  test("DerivedTable refreshes from one net diff, never the " +
      "per-version changelog") {
    val src = text(main.resolve("sources").resolve("DerivedTable.scala"))
    assert(!src.contains("readChanges"),
      "DerivedTable.scala references readChanges")
  }

  test("engine packages never import graft.gates") {
    val engine = Seq("sources", "operators", "plans", "streaming",
      "functions").map(main.resolve)
    val offenders = engine.flatMap { dir =>
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => text(p).contains("graft.gates")).toList
      finally s.close()
    }
    assert(offenders.isEmpty, s"engine files import graft.gates: $offenders")
  }

  test("IndexTombs alone names, reads and resets an index's tombstone " +
      "sibling; Versioned holds no index-tombstone or key-walk helper") {
    val ops = main.resolve("operators")
    val s = Files.list(ops)
    val offenders =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(_.getFileName.toString != "IndexTombs.scala")
        .filter(p => """\.tombs\b|(?i)tombsDir""".r
          .findFirstIn(text(p)).nonEmpty).toList
      finally s.close()
    assert(offenders.isEmpty,
      s"operator files spell the tombstone sibling: $offenders")
    assert(text(ops.resolve("IndexTombs.scala")).contains(".tombs"))
    val versioned = text(main.resolve("sources").resolve("Versioned.scala"))
    for (name <- Seq("dropTombstones", "equalityDeleteKeys"))
      assert(!versioned.contains(s"def $name"),
        s"Versioned.scala defines $name")
  }

  test("operators define no gate and no export hand-off") {
    val offenders = scalaFiles(main.resolve("operators")).filter(p =>
      """def \w*Gate\b|last\w*Export""".r.findFirstIn(text(p)).nonEmpty)
    assert(offenders.isEmpty, s"operator files hold gates: $offenders")
  }

  test("IndexPins alone reads an index's note pins, builds a pin note " +
      "or names a pinned sibling") {
    val pinned = """notePin|commitNotes|headPins|\w=v(\$|"\s*\+)|""" +
      """\$\{?\w+\}?\.(sigs|stats|centroids|codebooks)\b|""" +
      """(?i)(sigs|stats|centroids|codebooks)Dir\b"""
    val offenders = (scalaFiles(main.resolve("operators")) ++
        scalaFiles(main.resolve("gates")))
      .filter(_.getFileName.toString != "IndexPins.scala")
      .filter(p => pinned.r.findFirstIn(text(p)).nonEmpty)
    assert(offenders.isEmpty, s"files bypass IndexPins: $offenders")
  }
}

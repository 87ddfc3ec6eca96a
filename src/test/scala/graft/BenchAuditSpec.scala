package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench record's pinned-threshold self-audit (round-5 verdict
  * #1): pins parsing and suspect flagging, including the real
  * checked-in BENCH_PINS.json. Also keeps the docs' `runMain` lines
  * in step with the mains that exist. */
class BenchAuditSpec extends AnyFunSuite {

  test("parsePins reads the real checked-in BENCH_PINS.json") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_PINS.json")), "UTF-8")
    val pins = Bench.parsePins(txt)
    // every pin is a gate query with a sane ceiling; wrapper keys
    // (_comment, sf) never parse as pins
    assert(pins.size === SparkEntry.queries.size,
      s"pins (${pins.size}) out of sync with queries (${SparkEntry.queries.size})")
    assert(pins.keySet === SparkEntry.queries.keySet)
    assert(pins.values.forall(v => v >= 2.0 && v < 60.0))
  }

  test("suspects flags only pinned queries whose best-of exceeds the pin") {
    val pins = Map("q01" -> 2.0, "q44" -> 10.0)
    val best = Seq(
      "q01" -> 1.5,   // under pin
      "q44" -> 23.97, // the round-5 contamination case — must flag
      "q02" -> 99.0,  // unpinned — never flags
      "q03" -> -1.0)  // failed — never flags
    assert(Bench.suspects(best, pins) === Seq("q44"))
  }

  test("malformed or missing pins degrade to an empty audit, never a crash") {
    assert(Bench.parsePins("not json at all") === Map.empty)
    assert(Bench.parsePins("") === Map.empty)
    assert(Bench.suspects(Seq("q44" -> 23.97), Map.empty) === Seq.empty)
  }

  test("the bench's JSON times keep a '.' decimal point under a comma-decimal locale") {
    import java.util.Locale
    val (saved, savedFormat) = (Locale.getDefault, Locale.getDefault(Locale.Category.FORMAT))
    try {
      Locale.setDefault(Locale.GERMANY)
      val json = Bench.timesJson(Seq("q01_agg" -> 1.234567, "q03" -> -1.0))
      assert(graft.config.ConfigTree.parse(json) === Map("q01_agg" -> 1.234567, "q03" -> -1.0))
    } finally {
      Locale.setDefault(saved)
      Locale.setDefault(Locale.Category.FORMAT, savedFormat)
    }
  }

  test("every runMain named in the docs resolves to an object with a main under src/") {
    def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val docs = Seq("README.md", "USAGE.md", "CLAUDE.md",
      ".claude/skills/verify/SKILL.md")
    val named = for {
      d <- docs
      m <- raw"runMain\s+([A-Za-z_][\w.]*\w)".r.findAllMatchIn(read(Paths.get(d)))
    } yield d -> m.group(1)
    assert(named.nonEmpty)
    val topLevel = raw"(?m)^(?:object|class|trait|case class)\s+(\w+)".r
    val mains = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = read(f)
        val pkg = raw"(?m)^package\s+([\w.]+)".r.findFirstMatchIn(src)
          .fold("")(_.group(1) + ".")
        val decls = topLevel.findAllMatchIn(src).toSeq
        decls.zipWithIndex.collect {
          case (m, i) if m.matched.startsWith("object") &&
              src.substring(m.start, decls.lift(i + 1).fold(src.length)(_.start))
                .contains("def main(") => pkg + m.group(1)
        }
      }.toSet
    val missing = named.filterNot { case (_, cls) => mains(cls) }
    assert(missing.isEmpty, s"docs name mains that do not exist: $missing")
  }
}

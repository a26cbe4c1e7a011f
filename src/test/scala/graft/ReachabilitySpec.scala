package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Unreferenced code is deleted: every top-level `object`, `class` or
  * `trait` declared in `src/main` must be named somewhere in `src/main`
  * besides its own declaration, or sit on the allowlist below with the
  * reason it stays. Comments are stripped first, so a scaladoc mention
  * does not count as a use; string literals are kept, so a class named
  * in a config string (a session extension) does.
  */
class ReachabilitySpec extends AnyFunSuite {

  /** Declarations that nothing else in `src/main` names, and why each stays. */
  private val allowlist: Map[String, String] = Map(
    "Bench" -> "main: the scored benchmark",
    "Verify" -> "main: the correctness dump",
    "PlanDump" -> "main: the plan dump",
    "Nightly" -> "spine entry point: stream2raw, raw2science, distribute",
    "SchemaRegistry" -> "reference feature: versioned alert schemas (SURVEY §1.3)",
    "StreamJoins" -> "reference feature: the ZTF×GCN stream join (ztf/mm_utils.py)",
    "RubinSchema" -> "reference feature: the Rubin alert packet schema",
    "AlertSchema" -> "reference feature: the ZTF alert schema and its fixture",
    "ArchiveIndex" -> "reference feature: archival index tables (bin/ztf/archive_index.py)",
    "Statistics" -> "reference feature: archival nightly statistics",
    "Tracklets" -> "reference feature: archival tracklet labels (ztf/tracklet_identification.py)",
    "Compaction" -> "reference feature: archival stats-driven compaction (common/partitioning.py)",
    "AvroFiles" -> "reference feature: Avro container-file scan (common/spark_utils.py)",
    "PlanAudit" -> "instrument: the typed plan pins the specs assert with",
    "QualityMonitor" -> "monitor kept for the spine's in-flight telemetry (ROADMAP.md)",
    "TopKMonitor" -> "monitor kept for the spine's in-flight telemetry (ROADMAP.md)",
    "RangeLayout" -> "reference feature: time-range lake layout (bin/ztf/merge.py:62-91, layout Y1)")

  private val mainRoot = Paths.get("src", "main", "scala")

  /** `src` without `//` and (nested) `/* */` comments; string and char
    * literals are copied through, so `"hdfs://"` is not a comment. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("//", i)) {
        val eol = src.indexOf('\n', i)
        i = if (eol < 0) n else eol
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src.charAt(j) == '"') j += 1
        out.append(src.substring(i, j))
        i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(src.substring(i, j))
        i = j
      } else if (src.startsWith("'\"'", i)) {
        out.append("'\"'")
        i += 3
      } else {
        out.append(src.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private lazy val sources: Map[Path, String] = {
    assert(Files.isDirectory(mainRoot), s"run from the checkout root: $mainRoot")
    Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
      .toMap
  }

  private val topLevel =
    ("""(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|""" +
      """abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)""").r

  private lazy val declared: Map[String, Seq[Path]] =
    sources.toSeq
      .flatMap { case (p, s) => topLevel.findAllMatchIn(s).map(_.group(1) -> p) }
      .groupMap(_._1)(_._2)

  /** Top-level names that no `src/main` code names outside a declaration. */
  private def unreferenced: Seq[String] = {
    val all = sources.values.mkString("\n")
    declared.keys.toSeq.sorted.filter { name =>
      val q = java.util.regex.Pattern.quote(name)
      val uses = s"\\b$q\\b".r.findAllMatchIn(all).size
      val decls = s"\\b(?:object|class|trait)\\s+$q\\b".r.findAllMatchIn(all).size
      uses <= decls
    }
  }

  test("comment stripping keeps strings and drops comments") {
    val src = "val a = \"x // y\" // Gone\n/* Gone /* nested */ still */ val b = '\"' /** Gone */"
    val got = stripComments(src)
    assert(!got.contains("Gone"), got)
    assert(got.contains("\"x // y\"") && got.contains("val b = '\"'"), got)
  }

  test("every top-level src/main definition is reached or allowlisted") {
    assert(declared.size > 100, s"declaration scan found only ${declared.size}")
    val orphans = unreferenced
    val unlisted = orphans.filterNot(allowlist.contains)
    assert(unlisted.isEmpty,
      "only specs reach these definitions; delete them or allowlist them with a reason: " +
        unlisted.map(o => s"$o (${declared(o).mkString(", ")})").mkString("; "))
    val stale = allowlist.keySet.diff(orphans.toSet)
    assert(stale.isEmpty, s"allowlist entries no longer needed: ${stale.toSeq.sorted}")
  }
}

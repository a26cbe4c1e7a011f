package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Unreferenced code is deleted, down to the member.
  *
  *  - Every top-level `object`, `class` or `trait` declared in `src/main`
  *    must be named somewhere in `src/main` besides its own declaration.
  *  - Every public or `private[pkg]` member of a top-level object must be
  *    named by its owner: `Owner.name` in `src/main` or in the benchmark's
  *    `perfbench/scala`, the bare name inside the owner's own file, or
  *    the bare name in a file that imports `Owner._` or `Owner.{name}`.
  *    A bare word elsewhere does not count, so a common name (`cluster`,
  *    `all`) cannot hide an orphan.
  *
  * Anything else sits on an allowlist with the reason it stays: an entry
  * point, or the reference feature it reproduces (a file:line of the
  * reference or a SURVEY.md inventory id). Comments are stripped first,
  * so a scaladoc mention does not count as a use; string literals are
  * kept, so a class named in a config string (a session extension) does.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  /** Top-level declarations that nothing else in `src/main` names, and
    * why each stays. */
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
    "QualityMonitor" -> "monitor kept for the spine's in-flight telemetry (ROADMAP.md)",
    "TopKMonitor" -> "monitor kept for the spine's in-flight telemetry (ROADMAP.md)")

  /** Object members that no owner-qualified name reaches, and why each
    * stays. */
  private val memberAllowlist: Map[String, String] = Map(
    // entry points
    "Bench.main" -> "entry point: the scored benchmark",
    "Verify.main" -> "entry point: the correctness dump",
    "PlanDump.main" -> "entry point: the plan dump",
    "SparkEntry.entry" -> "entry point: the driver's flagship smoke query",
    "Sources.kafkaStream" -> "S1: Kafka source (common/spark_utils.py:225-308)",
    "Sinks.kafkaSink" -> "K2: Kafka sink (common/distribution_utils.py:92-140)",
    "Resolvers.writeSsoResolver" -> "SSO resolver push (bin/ztf/archive_sso_resolver.py:78-238)",
    "Resolvers.writeTnsResolver" -> "TNS resolver push (bin/ztf/tns_resolver.py:40-71)",
    "Reports.exportCsv" -> "K6: report CSV export (common/spark_utils.py:126-155)",
    "Reports.exportServing" -> "K3: report serving push (common/hbase_utils.py:363-482)",
    "SchemaRegistry.register" -> "schema system (SURVEY §1.6, rubin/spark_utils.py:27-52)",
    "SchemaRegistry.latest" -> "schema system (SURVEY §1.6, rubin/spark_utils.py:27-52)",
    "SchemaRegistry.dispatch" -> "schema system (SURVEY §1.6, rubin/decoding_utils.py:120-126)",
    "SchemaRegistry.upgradeTo" -> "schema drift back-fill (SURVEY §1.6, common/hbase_utils.py:122-135)",
    // reference features that only the archival jobs and specs drive
    "AlertFunctions.locusCut" -> "F2: tracklet locus cut (ztf/tracklet_identification.py:60-80)",
    "AlertFunctions.maxHistoryTime" -> "A5: latest history time (rubin/hbase_utils.py:1124-1134)",
    "AlertFunctions.recentHistory" -> "X5: recent-history filter (rubin/hbase_utils.py:1136-1141)",
    "ArchiveIndex.all" -> "the night's index tables (bin/ztf/archive_index.py:47-300)",
    "AvroFiles.read" -> "S4: Avro file scan (common/spark_utils.py:449-487)",
    "AvroFiles.readSchema" -> "S4: Avro schema probe (common/spark_utils.py:449-487)",
    "AvroFiles.write" -> "K5: Avro static write (bin/ztf/generate_test_data.py:140-142)",
    "AvroFunctions.fromAvroFramed" -> "E3: framed wire decode (bin/ztf/stream2raw.py:112-115)",
    "AvroFunctions.fromAvroPermissive" -> "E1: decode that nulls corrupt payloads (common/spark_utils.py:44-79)",
    "Compaction.compact" -> "Y2: stats-driven compaction (common/partitioning.py:108-152)",
    "Crossmatch.nearestLabel" -> "J2: catalog label enrichment (ztf/science.py:100-154)",
    "RubinSchema.alertSchema" -> "Rubin alert packet (SURVEY §1.3, rubin/hbase_utils.py:285-293)",
    "ElasticcSchema.alertSchema" -> "ELAsTICC alert stream (SURVEY §1.3, bin/elasticc/distribute_elasticc.py)",
    "ElasticcSchema.registerClassFilters" -> "X2/F6: per-class ELAsTICC topics (bin/elasticc/distribute_elasticc.py:63)",
    "FilterRegistry.names" -> "F6: the registered filter set (bin/ztf/distribute.py:46-50)",
    "FilterRegistry.topicFor" -> "T5: per-filter topic names (bin/ztf/distribute.py:167-223)",
    "Flatten.flattenAll" -> "P3: schema-driven flatten (ztf/hbase_utils.py:395-489)",
    "Flatten.selectRelevant" -> "P4: fault-tolerant projection (common/hbase_utils.py:66-137)",
    "RowKeys.saltedRowKey" -> "Y4: salted row keys (common/hbase_utils.py:485-564)",
    "ServingTable.ingestBatched" -> "Y8: batched ingestion (rubin/hbase_utils.py:570-596)",
    "ServingTable.lookup" -> "S5: serving-table point lookup (common/hbase_utils.py:32-63)",
    "Sinks.csvCompleteSink" -> "K6: complete-mode CSV sink (common/spark_utils.py:126-155)",
    "Sinks.triggerOf" -> "T1: processing-time trigger (bin/ztf/stream2raw.py:169-175)",
    "Sources.staticLake" -> "S3: merged-schema static scan (common/spark_utils.py:420-446)",
    "SpatialFunctions.ang2pixMulti" -> "X12: multi-nside ang2pix_array (common/spark_utils.py:519-609)",
    "Statistics.classCounts" -> "A1: alerts per class (bin/ztf/archive_statistics.py:114)",
    "Statistics.nightlySummary" -> "A2-A4: night summary (bin/ztf/archive_statistics.py:121-141)",
    "StreamJoins.eventTimeJoin" -> "J3: ZTF×GCN stream join (ztf/mm_utils.py:207-219)",
    "Tracklets.attach" -> "J1: tracklet label join (bin/ztf/merge.py:81-83)",
    "Tracklets.detect" -> "A6: tracklet clustering (ztf/tracklet_identification.py:123-334)",
    // kept headroom and instruments, with the roadmap item that decides them
    "CurationStream.pipeline" -> "T7 headroom: the one streaming dedup (ROADMAP.md item 8)",
    "QualityMonitor.start" -> "monitor kept for the spine's in-flight telemetry (ROADMAP.md item 4)",
    "TopKMonitor.start" -> "monitor kept for the spine's in-flight telemetry (ROADMAP.md item 4)",
    // test hooks over private per-JVM state, which a spec cannot reach
    "DerivedTable.refreshFingerprints" -> "test hook: clears the fingerprint memo",
    "Tables.refreshTables" -> "test hook: clears the table-handle memo",
    "FilterRegistry.unregister" -> "test hook: the filter registry is JVM-global",
    "SimGraph.buildPairs" -> "test hook: the artifact's fresh recomputation")

  /** Spark types that scaladoc links may name without a `src/main`
    * declaration. */
  private val externalLinks = Set("Aggregator", "Expression")

  private val mainRoot = Paths.get("src", "main", "scala")
  private val benchRoot = Paths.get("perfbench", "scala")

  private def load(root: Path): Map[String, String] = {
    assert(Files.isDirectory(root), s"run from the checkout root: $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toMap
  }

  private lazy val rawSources = load(mainRoot)
  private lazy val sources = rawSources.map { case (p, s) => p -> stripComments(s) }
  private lazy val benchSources = load(benchRoot).map { case (p, s) => p -> stripComments(s) }

  private lazy val declared: Map[String, Seq[String]] =
    sources.toSeq
      .flatMap { case (p, s) => topDecl.findAllMatchIn(s).map(_.group(1) -> p) }
      .groupMap(_._1)(_._2)

  /** Top-level names that no `src/main` code names outside a declaration. */
  private def unreferenced: Seq[String] = {
    val all = sources.values.mkString("\n")
    declared.keys.toSeq.sorted.filter { name =>
      val q = Pattern.quote(name)
      val uses = s"\\b$q\\b".r.findAllMatchIn(all).size
      val decls = s"\\b(?:object|class|trait)\\s+$q\\b".r.findAllMatchIn(all).size
      uses <= decls
    }
  }

  private def checkAllowlist(orphans: Map[String, String], allow: Map[String, String]): Unit = {
    val unlisted = orphans.keys.toSeq.sorted.filterNot(allow.contains)
    assert(unlisted.isEmpty,
      "only specs reach these definitions; delete them or allowlist them with a reason: " +
        unlisted.map(o => s"$o (${orphans(o)})").mkString("; "))
    val stale = allow.keySet.diff(orphans.keySet)
    assert(stale.isEmpty, s"allowlist entries no longer needed: ${stale.toSeq.sorted}")
  }

  test("comment stripping keeps strings and drops comments") {
    val src = "val a = \"x // y\" // Gone\n/* Gone /* nested */ still */ val b = '\"' /** Gone */"
    val got = stripComments(src)
    assert(!got.contains("Gone"), got)
    assert(got.contains("\"x // y\"") && got.contains("val b = '\"'"), got)
    assert(stripComments("a\n/* one\ntwo */\nb").count(_ == '\n') === 3,
      "line numbers survive a block comment")
  }

  test("every top-level src/main definition is reached or allowlisted") {
    assert(declared.size > 100, s"declaration scan found only ${declared.size}")
    checkAllowlist(unreferenced.map(o => o -> declared(o).mkString(", ")).toMap, allowlist)
  }

  test("member resolution is by owner, and perfbench names count") {
    val main = Map(
      "Planted.scala" -> Seq(
        "object Planted {",
        "  def cluster(n: Int): Int = n",
        "  def benchOnly: Int = 1",
        "  def viaWildcard: Int = 2",
        "  private[graft] def viaBraces: Int = 3",
        "  def viaAlias: Int = 4",
        "  def apply(n: Int): Int = n",
        "  def selfUsed: Int = 5",
        "  def caller: Int = selfUsed",
        "  private def hidden: Int = 6",
        "  override def toString: String = \"p\"",
        "}").mkString("\n"),
      "Other.scala" -> Seq(
        "import x.Planted._",
        "object Other {",
        "  def cluster = 7",
        "  def a = viaWildcard + Planted(1)",
        "}").mkString("\n"),
      "Third.scala" -> Seq(
        "import x.Planted.{viaBraces, viaAlias => va}",
        "object Third {",
        "  def b = viaBraces + va + Other.cluster + Other.a + Third.b + cluster",
        "}").mkString("\n"))
    val bench = Map("Spine.scala" -> "object Spine { val n = Planted.benchOnly }")
    val orphans = unreachedMembers(main, bench).map(_.key)
    // `cluster` is used bare in Third, which does not import Planted._,
    // and Other's own `cluster` declaration does not count as a use
    assert(orphans.toSet === Set("Planted.cluster", "Planted.caller"))
    assert(unreachedMembers(main, Map.empty).map(_.key).contains("Planted.benchOnly"))
  }

  test("every public member of a top-level src/main object is reached or allowlisted") {
    val all = members(sources)
    assert(all.size > 300, s"member scan found only ${all.size}")
    checkAllowlist(
      unreachedMembers(sources, benchSources).map(m => m.key -> s"${m.file}:${m.line}").toMap,
      memberAllowlist)
  }

  test("scaladoc links name a src/main declaration") {
    val names = rawSources.values
      .flatMap(anyDecl.findAllMatchIn(_).map(_.group(1))).toSet
    val dangling = for {
      (p, s) <- rawSources.toSeq.sorted
      (line, i) <- s.split("\n", -1).zipWithIndex
      m <- docLink.findAllMatchIn(line)
      target = m.group(1).split('.').last
      if !names(target) && !externalLinks(target)
    } yield s"$p:${i + 1} [[${m.group(1)}]]"
    assert(dangling.isEmpty, dangling.mkString("; "))
  }
}

object ReachabilitySpec {

  /** A public or `private[pkg]` member of a top-level object. */
  final case class Member(owner: String, name: String, file: String, line: Int) {
    def key: String = s"$owner.$name"
  }

  /** `src` without `//` and (nested) `/* */` comments; string and char
    * literals are copied through, so `"hdfs://"` is not a comment. A
    * block comment keeps its line breaks, so line numbers hold. */
  def stripComments(src: String): String = {
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
          else {
            if (src.charAt(i) == '\n') out.append('\n')
            i += 1
          }
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

  private val modifiers = """(?:(?:private|protected)(?:\[\w+\])?|final|lazy|implicit|""" +
    """override|sealed|abstract|case)\s+"""
  private val topDecl = s"(?m)^(?:$modifiers)*(?:object|class|trait)\\s+(\\w+)".r
  private val topObject = s"^(?:$modifiers)*object\\s+(\\w+)".r
  private val memberDecl =
    s"^  ((?:$modifiers)*)(?:def|val|var|object|class|trait|type)\\s+(\\w+)".r
  /** Modifiers that take a member out of the scan: overrides and
    * implicits are reached through their interface, and `private`,
    * `protected` and `private[this]` members are out of reach. */
  private val unscanned =
    """\b(?:override|implicit)\b|\b(?:private|protected)\b(?!\[)|\[this\]""".r
  private val anyDecl = """\b(?:def|val|var|object|class|trait|type)\s+(\w+)""".r
  private val docLink = """\[\[([\w.]+)\]\]""".r
  /** An import clause; a brace group may span lines. */
  private val importClause = """(?m)^\s*import\s+([^\n{]*(?:\{[^}]*\})?)""".r

  /** Members of top-level objects, one file at a time: a member is a
    * declaration indented by two spaces between `object Name` at column
    * 0 and the closing brace at column 0. */
  def members(src: Map[String, String]): Seq[Member] =
    src.toSeq.sortBy(_._1).flatMap { case (file, s) =>
      var owner: Option[String] = None
      s.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
        if (line.startsWith("}")) { owner = None; None }
        else if (topDecl.findPrefixMatchOf(line).isDefined) {
          owner = topObject.findPrefixMatchOf(line).map(_.group(1))
          None
        } else owner.flatMap { o =>
          memberDecl.findPrefixMatchOf(line)
            .filter(m => unscanned.findFirstIn(m.group(1)).isEmpty)
            .map(m => Member(o, m.group(2), file, i + 1))
        }
      }
    }

  private def code(s: String): String = importClause.replaceAllIn(s, "")

  private def wordCount(text: String, name: String): Int =
    s"\\b${Pattern.quote(name)}\\b".r.findAllMatchIn(text).size

  /** Uses of a bare name, not counting declarations of that name. */
  private def bareUses(text: String, name: String): Int =
    wordCount(text, name) -
      s"\\b(?:def|val|var|object|class|trait|type)\\s+${Pattern.quote(name)}\\b".r
        .findAllMatchIn(text).size

  /** The local names under which `file` sees `owner.name`: the bare name
    * for `Owner._`, `Owner.{name}` or `Owner.name`, the alias for
    * `Owner.{name => alias}`. */
  private def importedAs(file: String, owner: String, name: String): Seq[String] = {
    val o = Pattern.quote(owner)
    importClause.findAllMatchIn(file).map(_.group(1)).toSeq.flatMap { spec =>
      val wildcard = s"\\b$o\\._\\s*$$".r.findFirstIn(spec).map(_ => name)
      val single = s"\\b$o\\.(\\w+)\\s*$$".r.findFirstMatchIn(spec)
        .map(_.group(1)).filter(_ == name)
      val braces = s"\\b$o\\.\\{([^}]*)\\}".r.findFirstMatchIn(spec).toSeq
        .flatMap(_.group(1).split(",").map(_.trim))
        .flatMap { sel =>
          sel.split("=>").map(_.trim) match {
            case Array(`name`) | Array("_") => Some(name)
            case Array(`name`, alias) => Some(alias)
            case _ => None
          }
        }
      wildcard.toSeq ++ single ++ braces
    }
  }

  /** Members of `main`'s top-level objects that neither `main` nor
    * `bench` names through their owner. Owners match by simple name, so
    * `jobs.Reports` and `queries.Reports` share qualified uses; their
    * member names are disjoint. */
  def unreachedMembers(main: Map[String, String], bench: Map[String, String]): Seq[Member] = {
    val files = main ++ bench
    val bodies = files.map { case (p, s) => p -> code(s) }
    members(main).filterNot { m =>
      val o = Pattern.quote(m.owner)
      val qualified = s"\\b$o\\s*\\.\\s*${Pattern.quote(m.name)}\\b".r
      val applied = s"\\b$o\\s*\\(".r
      bodies.values.exists(b => qualified.findFirstIn(b).isDefined ||
        (m.name == "apply" && applied.findFirstIn(b).isDefined)) ||
        bareUses(bodies(m.file), m.name) > 0 ||
        files.exists { case (p, s) =>
          importedAs(s, m.owner, m.name).exists(alias => bareUses(bodies(p), alias) > 0)
        }
    }
  }
}

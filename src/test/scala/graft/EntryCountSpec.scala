package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the suite's key counts so the scaladoc claim in SparkEntry can
  * never silently drift from the code again (round-10 verdict: the doc
  * said 185/174 while the code had 223/203 for two rounds). When a key
  * is added, this test fails until BOTH the constant here and the
  * SparkEntry doc are updated — the constants below are the single place
  * the claimed numbers live.
  */
class EntryCountSpec extends AnyFunSuite {
  val claimedQueries = 317
  val claimedOracles = 294

  test("no query or oracle key is defined in more than one ops module") {
    def dups[V](parts: Seq[Map[String, V]]): Seq[String] =
      parts.flatMap(_.keys).groupBy(identity).collect {
        case (k, ks) if ks.size > 1 => k
      }.toSeq.sorted
    assert(dups(SparkEntry.queryParts).isEmpty,
      s"query keys defined twice (the later ++ silently wins): " +
        s"${dups(SparkEntry.queryParts)}")
    assert(dups(SparkEntry.oracleParts).isEmpty,
      s"oracle keys defined twice: ${dups(SparkEntry.oracleParts)}")
  }

  test("queries.size matches the documented count") {
    assert(SparkEntry.queries.size == claimedQueries,
      s"SparkEntry.queries has ${SparkEntry.queries.size} keys; " +
        s"doc claims $claimedQueries — update SparkEntry's scaladoc AND this constant")
  }

  test("oracleSql.size matches the documented count") {
    assert(SparkEntry.oracleSql.size == claimedOracles,
      s"SparkEntry.oracleSql has ${SparkEntry.oracleSql.size} entries; " +
        s"doc claims $claimedOracles — update SparkEntry's scaladoc AND this constant")
  }

  private def mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq.sortBy(_._1)
    finally walk.close()
  }

  test("src/main holds exactly the six entry-point mains") {
    // r21/r22 left 13 one-off measurement mains in src/main that nothing
    // called; a new entry point has to be named here on purpose
    val objectLine = "^\\s*object\\s+(\\w+).*".r
    val mains = mainSources.flatMap { case (_, src) =>
      src.linesIterator.foldLeft((Option.empty[String], Seq.empty[String])) {
        case ((_, found), objectLine(name)) => (Some(name), found)
        case ((obj, found), l) if l.contains("def main(") =>
          (obj, found ++ obj)
        case (acc, _) => acc
      }._2
    }
    assert(mains.sorted == Seq("Bench", "ConfAB", "PlanDump", "QueryTrace",
      "Sf1Spike", "Verify"), s"objects defining main: $mains")
  }

  test("Bench.session is the only SparkSession builder in src/main") {
    val builders = mainSources.flatMap { case (path, src) =>
      Seq.fill(src.split(java.util.regex.Pattern.quote(
        "SparkSession.builder()"), -1).length - 1)(path)
    }
    assert(builders == Seq("graft/Bench.scala"),
      s"SparkSession.builder() call sites: $builders")
  }

  test("the append-version encoding is written at exactly one site in src/main") {
    // every door publishing a staged dir onto a chain goes through
    // GraftTable.publishStaged; a new door copying the encoding (the
    // append= marker, the table-relative stats merge) shows here
    def sites(needle: String): Seq[String] = mainSources.flatMap {
      case (path, src) => Seq.fill(src.split(java.util.regex.Pattern.quote(
        needle), -1).length - 1)(path)
    }
    val table = "graft/sources/GraftTable.scala"
    assert(sites("appendDir =") == Seq(table),
      s"appendDir = sites: ${sites("appendDir =")}")
    assert(sites("mergeAppendStats(") == Seq(table, table) &&
      sites("def mergeAppendStats(") == Seq(table),
      s"mergeAppendStats( sites (the definition and one call): " +
        s"${sites("mergeAppendStats(")}")
  }

  test("every oracle key has a query implementation") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without implementations: $orphans")
  }

  test("OPERATORS.md indexes exactly the implemented query keys") {
    // the release-audit reconciliation, pinned: the human-facing index
    // and the code can never drift apart silently again
    val src = scala.io.Source.fromFile("OPERATORS.md", "UTF-8")
    val indexed = try {
      val re = java.util.regex.Pattern.compile("^- `([a-z0-9_]+)` —")
      src.getLines().flatMap { l =>
        val m = re.matcher(l); if (m.find()) Some(m.group(1)) else None
      }.toSet
    } finally src.close()
    val keys = SparkEntry.queries.keySet
    assert(keys -- indexed == Set.empty,
      s"implemented but not indexed in OPERATORS.md: ${keys -- indexed}")
    assert(indexed -- keys == Set.empty,
      s"indexed in OPERATORS.md but not implemented: ${indexed -- keys}")
  }
}

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

  test("no data-dir prefix knob in src/main: no prefix: String parameter, " +
      "no \"prefix\" read option") {
    // a table's data dirs are named by its commit files, v<N>[_<id>]
    // otherwise; a settable prefix let one door read under a name
    // another door never wrote
    val knobs = mainSources.flatMap { case (path, src) =>
      Seq("prefix: String", "get(\"prefix\")").filter(src.contains)
        .map(k => s"$path: $k")
    }
    assert(knobs.isEmpty, s"data-dir prefix knobs: $knobs")
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
    assert(sites("\"append\" ->") == Seq(table),
      s"append= header sites: ${sites("\"append\" ->")}")
    assert(sites("mergeAppendStats(") == Seq(table, table) &&
      sites("def mergeAppendStats(") == Seq(table),
      s"mergeAppendStats( sites (the definition and one call): " +
        s"${sites("mergeAppendStats(")}")
  }

  test("commit takes its headers as one map: no per-header parameter") {
    // each door used to pass its headers as 17 separate Option
    // parameters and hand-copy the head's table-level ones
    val src = mainSources.toMap.apply("graft/sources/GraftTable.scala")
    val sig = src.substring(src.indexOf("  def commit(fs: FileSystem"))
    val params = sig.substring(sig.indexOf('(') + 1, sig.indexOf("): Unit"))
    val names = "(?:^|,)\\s*(\\w+)\\s*:".r.findAllMatchIn(params)
      .map(_.group(1)).toSeq
    assert(names == Seq("fs", "dir", "v", "metadata", "headers",
      "retain", "tsMs", "prevTs"), s"commit parameters: $names")
    assert(!params.contains("Option[String]") &&
      !params.contains("Option[TableStats]"), params)
  }

  test("the commit header key list is spelled once in src/main") {
    // one ordered list serves the writer and the parser; a header line
    // interpolated by hand (s"<key>=$…") would be a second order
    val keyList = "(?s)Seq\\(\\s*\"data=?\",[^)]*\\)".r
    val lists = mainSources.flatMap { case (path, src) =>
      keyList.findAllIn(src).map(path -> _) }
    assert(lists.map(_._1) == Seq("graft/sources/GraftTable.scala"),
      s"header key lists: $lists")
    val keys = "\"([a-z]+)\"".r.findAllMatchIn(lists.head._2)
      .map(_.group(1)).toSeq
    assert(keys.size == 18 && keys.distinct == keys && keys.contains("ts"),
      s"header keys: $keys")
    val written = ("s\"(" + keys.mkString("|") + ")=\\$").r
    val handWritten = mainSources.flatMap { case (path, src) =>
      written.findAllIn(src).map(m => s"$path: $m") }
    assert(handWritten.isEmpty, s"hand-written header lines: $handWritten")
  }

  test("src/main/scala/graft/plans makes no commitNextIsolated call") {
    // SQL UPDATE/DELETE copy-on-write and MERGE rewrite through
    // GraftTable.rewriteHead, which re-derives layout and index itself
    val calls = mainSources.collect { case (path, src)
        if path.startsWith("graft/plans/") &&
          src.contains("commitNextIsolated") => path }
    assert(calls.isEmpty, s"commitNextIsolated in plans/: $calls")
  }

  test("stats are declared one way: no statsCols identifier in src/main") {
    // every skipping index is declared through StatsEnc registry names
    // and recorded as statenc=; a caller lambda ordinal is code no
    // reader or rewrite could re-derive from the manifest
    val sites = mainSources.collect { case (path, src)
        if "\\bstatsCols\\b".r.findFirstIn(src).isDefined => path }
    assert(sites.isEmpty, s"statsCols in src/main: $sites")
  }

  test("src/main reads exactly four spark.graft.* conf keys") {
    // a session option that picks between two code paths doubles what
    // a reader must reason about; a new key has to be named here on
    // purpose
    val keys = mainSources.flatMap { case (_, src) =>
      "\"spark\\.graft\\.([A-Za-z.]+)".r.findAllMatchIn(src)
        .map(_.group(1))
    }.distinct.sorted
    assert(keys == Seq("dv.broadcastMaxKeys", "merge.allowMultipleMatches",
      "topk.maxKeysPerPartition", "update.replacementRowsPerTask"),
      s"spark.graft.* keys in src/main: $keys")
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

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Meta-test: one session factory and one extension path. Every session
  * is built by `Graft.session`, so the engine that tests and Verify
  * check is the one Bench measures, and the `GraftExtensions` class
  * (named by `Graft.configure`) is the only way the engine's functions,
  * rule and strategy reach a session. The production tree ships no dev
  * tools: its only mains are Bench and Verify. Parquet is read through
  * `Tables.parquet`, so no read runs a schema-inference job. Engine-owned
  * state (memos, build-once artifacts, scratch paths) is kept only by
  * `Caches`, and so is every pinned frame: src/main persists,
  * checkpoints and frees frames only through `Caches.pin`,
  * `Caches.checkpoint` and `Caches.release`, so `Caches.reset` frees
  * exactly what its session pinned. The ANN fits' seed order and
  * micro-unit rounding are written only in `Lloyd`, and the exact
  * cosine top-k only in `Cosine`. No layer below the queries reaches
  * back into `graft.queries`. Every doc block in src/main documents a
  * definition. The needles are concatenated so this file never matches
  * itself. */
class SessionHygieneSpec extends AnyFunSuite {

  private def assertNone(what: String, offenders: Seq[String], why: String): Unit =
    assert(offenders.isEmpty, s"$what found in $offenders — $why")

  test("sessions are built only in Graft.scala") {
    val call = "SparkSession." + "builder("
    assertNone(call, SourceTree.offenders(_.contains(call), Set("Graft.scala")),
      "build sessions with Graft.session")
  }

  test("no imperative extension registration") {
    Seq("GraftExtensions." + "install", "experimental." + "extraOptimizations",
      "experimental." + "extraStrategies").foreach { needle =>
      assertNone(needle, SourceTree.offenders(_.contains(needle)),
        "register through the GraftExtensions class, which Graft.configure names")
    }
  }

  test("nanosAsLong is set only in Graft.scala") {
    val setter = ("""(set|config)\(\s*"[^"]*nanos""" + "AsLong\"").r
    assertNone("a nanosAsLong setter",
      SourceTree.offenders(setter.findFirstIn(_).isDefined, Set("Graft.scala")),
      "Graft.configure sets it on every session")
  }

  private def mainOffenders(found: String => Boolean, exempt: Set[String] = Set.empty) =
    SourceTree.offenders(found, exempt).filter(_.startsWith("src/main"))

  test("src/main has no mains but Bench and Verify") {
    val needle = "def " + "main("
    assertNone(needle, mainOffenders(_.contains(needle), Set("Bench.scala", "Verify.scala")),
      "dev tools live in src/test/scala/graft/tools (sbt Test/runMain)")
  }

  test("src/main reads parquet only through Tables.parquet") {
    // a reader chain that reaches parquet without a schema runs Spark's
    // schema-inference job; Tables.parquet reads the footer instead
    val raw = ("""\.read(\s*\.options?\([^()]*\))*\s*\.""" +
      """(parquet\(|format\("parquet"\))""").r
    // s20_schema_evolution asks Spark to merge the schemas of its files
    val exempt = Set("SourceQueries.scala" ->
      (".read.option(\"mergeSchema\", \"true\")." + "parquet("))
    val found = for {
      (path, text) <- SourceTree.files
      name = path.getFileName.toString
      if path.startsWith("src/main") && name != "Tables.scala"
      m <- raw.findAllMatchIn(text) if !exempt(name -> m.matched)
    } yield s"$path:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    assertNone("a raw parquet read", found, "read through Tables.parquet")
  }

  test("src/main keeps engine state only in Caches.scala") {
    Seq("java.io." + "tmpdir", "hashCode." + "toHexString", "concurrent." + "TrieMap").foreach { needle =>
      assertNone(needle, mainOffenders(_.contains(needle), Set("Caches.scala")),
        "use Caches.memo, Caches.once and Caches.scratch")
    }
  }

  test("src/main pins and frees frames only in Caches.scala") {
    // a pin made anywhere else has its own release path, which a failed
    // fit skips, reset never reaches or a driver GC alone frees
    Seq(".cache" + "()", ".persist" + "(", "localCheckpoint" + "(", "unpersist" + "(",
      "clearCache" + "(").foreach { needle =>
      assertNone(needle, mainOffenders(_.contains(needle), Set("Caches.scala")),
        "use Caches.pin, Caches.checkpoint and Caches.release")
    }
  }

  test("src/main writes the Lloyd seed order and micro rounding only in Lloyd.scala") {
    // the oracles replay the ANN fits bit for bit only while both
    // engines share one copy of each; use Lloyd's Sql twins
    Seq("% 2147" + "483648", "1000000.0 + " + "0.5").foreach { needle =>
      assertNone(needle, mainOffenders(_.contains(needle), Set("Lloyd.scala")),
        "use Lloyd.seedOrderSql, Lloyd.microSql, Lloyd.quantSql or Lloyd.microCol")
    }
  }

  test("src/main writes the exact top-k's ordering only in Cosine.scala") {
    // one copy keeps every vector search on the tie-break its DuckDB
    // twin (Cosine.topkSql) replays
    val needle = "orderBy(desc(\"cos\"), " + "col(\"neighbor_id\"))"
    assertNone(needle, mainOffenders(_.contains(needle), Set("Cosine.scala")),
      "re-rank with Cosine.rank")
  }

  test("no layer below the queries depends on graft.queries") {
    // the registered queries compose operators, functions and sources;
    // a reference back makes an operator depend on its callers
    val lower = Seq("operators", "plans", "functions", "domain", "bdb", "ml", "serve",
      "sources", "streaming").map(d => s"src/main/scala/graft/$d/")
    val needle = "graft." + "queries"
    val found = for {
      (path, text) <- SourceTree.files
      if lower.exists(path.toString.startsWith) && text.contains(needle)
    } yield path.toString
    assertNone(needle, found, "move what the lower layer needs into it, as Cosine holds the cosine kernel")
  }

  test("src/main never reaches the private[spark] listener bus") {
    val needle = "listener" + "Bus"
    assertNone(needle, mainOffenders(_.contains(needle)),
      "listener-bus drains belong to the test-tree ScopedStageListener")
  }

  test("no doc block in src/main directly follows another") {
    // scaladoc keeps only the last of two adjacent doc blocks, so the
    // first one silently documents nothing
    val found = for {
      (path, text) <- SourceTree.files if path.startsWith("src/main")
      lines = text.split("\n", -1)
      i <- 1 until lines.length
      if lines(i - 1).trim.endsWith("*" + "/") && lines(i).trim.startsWith("/" + "**")
    } yield s"$path:${i + 1}"
    assertNone("a doc block right after another", found,
      "merge the two or move the first onto the definition it documents")
  }
}

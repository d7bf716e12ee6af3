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
}

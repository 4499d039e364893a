package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a throwing item counts as failed and is not timed") {
    val o = Harness.item("boom")(throw new IllegalStateException("no table"))(_ => None)
    assert(!o.ok)
    assert(o.seconds.isEmpty)
    assert(o.error.get.contains("no table"))
  }

  test("a wrong digest counts as failed and is not timed") {
    val e = Entry("q", "agg", 1, 0, 0.1, 0.2, digest = 42L, rows = 3L)
    val wrong = Harness.item("q")((41L, 3L))(Corpus.check(e))
    assert(!wrong.ok && wrong.seconds.isEmpty)
    val fewerRows = Harness.item("q")((42L, 2L))(Corpus.check(e))
    assert(!fewerRows.ok && fewerRows.seconds.isEmpty)
    val right = Harness.item("q")((42L, 3L))(Corpus.check(e))
    assert(right.ok && right.seconds.isDefined)
  }

  test("a check that throws fails the item") {
    val o = Harness.item("q")(1)(_ => throw new RuntimeException("bad read-back"))
    assert(!o.ok && o.seconds.isEmpty)
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    val cases = Seq(1 -> 50.0, 13 -> 50.0, 20 -> 50.0, 39 -> 50.0, 40 -> 75.0,
      99 -> 75.0, 100 -> 90.0, 199 -> 90.0, 200 -> 95.0, 999 -> 95.0, 1000 -> 99.0,
      9999 -> 99.0, 10000 -> 99.9)
    cases.foreach { case (n, p) => assert(Harness.tailPercentile(n) == p, s"n=$n") }
  }

  test("nearest-rank percentiles on small samples") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Harness.median(xs) == 3.0)
    assert(Harness.percentile(xs, 75.0) == 4.0)
    assert(Harness.percentile(Seq(7.0), 99.0) == 7.0)
    val forty = (1 to 40).map(_.toDouble)
    assert(Harness.percentile(forty, 75.0) == 30.0) // ten samples above it
  }

  test("the same seed gives the same ETL inputs and expected values") {
    val a = EtlInputs.generate(7)
    assert(a == EtlInputs.generate(7))
    assert(a != EtlInputs.generate(8))
    assert(a.docsCsv.linesIterator.size == EtlInputs.nDocs + 1)
    assert(a.plantedDuplicates > 0 && a.survivors > 0)
    assert(a.groupSums.values.map(_._1).sum == EtlInputs.nEvents)
  }

  test("command intervals and the covered-time union") {
    val e = Execution(0, 0L, 100L, Seq(
      10L -> "┏━━╸Executing command: read_docs (1 of 17) ━╴╴╶ ╶",
      11L -> "│ some line",
      30L -> "┏━━╸Executing command: count_csv (16 of 17) ━╴╴╶ ╶",
      90L -> "│ Done! \\o/"))
    assert(EtlJob.commandIntervals(e) == Seq(("read", 10L, 30L), ("subprocess", 30L, 90L)))
    assert(EtlJob.union(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
  }
}

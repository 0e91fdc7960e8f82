package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: names unique (a duplicate would silently
  * shadow a query in the Map), every oracle belongs to a defined query,
  * and the flagship entry is wired. */
class ContractSpec extends AnyFunSuite {

  test("query names are unique and well-formed") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), names.filterNot(_.matches("q\\d+_[a-z0-9_]+")))
  }

  test("every query has an oracle (rows-only checks are opt-in, not accidental)") {
    val missing = SparkEntry.allDefs.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("maps expose all defs") {
    assert(SparkEntry.queries.size == SparkEntry.allDefs.size)
    assert(SparkEntry.oracleSql.size ==
      SparkEntry.allDefs.count(_.oracle.isDefined))
  }

  test("bench stdout line fits the harness tail window at worst-case widths") {
    // The grading harness records only the last ~2000 chars of stdout; a line
    // longer than that loses its head and fails to parse. Worst case: every
    // query present, every timing at max plausible width (999.999s).
    val names = SparkEntry.queries.keys.toSeq.sorted
    // short keys must stay unique or timings silently merge
    assert(names.map(Bench.shortKey).distinct.size == names.size)
    val setups = SparkEntry.allDefs.filter(_.setup.isDefined).map(_.name -> 999.999)
    val line = Bench.renderShortLine(names.map(_ -> 999.999), setups, Nil, "sf0.1",
      shadow = Some(99999.999), hot = Some(99999.999), hotN = Some(12),
      retimed = Some(12))
    val n = line.getBytes("UTF-8").length
    assert(n <= Bench.MaxLineBytes, s"bench line is $n bytes > ${Bench.MaxLineBytes}")
    assert(line.startsWith("""{"metric":"total""""))
    assert(line.contains("\"shadow\":"), "shadow estimate must survive rendering")
    assert(line.contains("\"hot\":") && line.contains("\"hot_n\":") &&
      line.contains("\"retimed\":"),
      "both shadow directions + the retime count must survive rendering")
  }

  test("bench history parse: the re-time baseline round-trips renderLine") {
    // the outlier re-time reads last run's mins back from the bench's own
    // full-precision output; the parse must survive every field the writer
    // can emit (setup, failures, shadow/hot) and junk input
    val line = Bench.renderLine(
      Seq("q01_pricing_summary" -> 0.335211, "q187_dual_maintainers" -> 2.5),
      Seq("q187_dual_maintainers" -> 10.5),
      Seq("q99_broken" -> "IllegalStateException: \"queries\":{oops}"),
      "/root/testdata/sf0.1", 6,
      shadow = Some(0.0), hot = Some(1.5), hotN = Some(3), retimed = Some(2),
      retimedDetail = Seq(("q104_lsh_eval", 3.1, 0.9), ("q120_x", 2.21, 2.3)),
      historyFile = Some("/runs/a/BENCH_LAST.json"))
    // the file records which history armed the re-time guard
    assert(line.contains("\"history_file\":\"/runs/a/BENCH_LAST.json\""),
      line.takeRight(200))
    // the new retimed_queries group (full-precision file only) must not
    // confuse the history parse: it contains the substring `queries":{`
    assert(line.contains("\"retimed_queries\":{\"q104_lsh_eval\":[3.1,0.9]"),
      line.takeRight(200))
    val h = Bench.parseHistory(line)
    assert(h == Map("q01_pricing_summary" -> 0.335211,
      "q187_dual_maintainers" -> 2.5),
      s"history must be the queries map alone: $h")
    assert(Bench.parseHistory("") == Map.empty[String, Double])
    assert(Bench.parseHistory("not json at all") == Map.empty[String, Double])
  }

  test("headline value stays all-inclusive when the setup map is dropped") {
    // rounds 1-7 charged fixture cost inside query time; the setup split
    // must not shrink the comparable headline. When the stdout line drops
    // the setup MAP to fit the tail window, the setup SUM must remain in
    // `value`.
    def value(line: String): Double =
      """"value":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    val qs = (1 to 170).map(i => s"q$i" -> 9.87)
    val st = (1 to 20).map(i => s"q$i" -> 8.76)
    val line = Bench.renderShortLine(qs, st, Nil, "sf0.1")
    assert(!line.contains("\"setup\":{"),
      s"170 wide queries should force the setup-map drop: ${line.length} bytes")
    assert(math.abs(value(line) - (170 * 9.87 + 20 * 8.76)) < 1.5, line.take(120))
    // the dropped map leaves ONE aggregate behind: the artifact stays
    // decomposable (value = sum of queries + setup_total)
    val stotal = """"setup_total":([0-9.]+)""".r
      .findFirstMatchIn(line).map(_.group(1).toDouble)
    assert(stotal.exists(v => math.abs(v - 20 * 8.76) < 1.0),
      s"setup_total must survive the drop: ${line.take(160)}")
    // and when the map FITS, the value is identical
    val small = Bench.renderLine(qs.take(3), st.take(2), Nil, "sf0.1", 3)
    assert(math.abs(value(small) - (3 * 9.87 + 2 * 8.76)) < 0.01, small)
  }

  test("adaptive per-query rendering: decimals below threshold, never a bare 0") {
    // afmt is what buys per-query resolution back at 189 queries: 1
    // decimal under the threshold, integer above, 2 decimals under 0.1 s,
    // floored at 0.01 so a measured query can never render as the literal
    // 0 the round-13 comparator treated as "dropped from bench"
    assert(Bench.afmt(0.0, 1.0) == "0")
    assert(Bench.afmt(0.004, 1.0) == "0.01", "positive time must never render 0")
    assert(Bench.afmt(0.04, 1.0) == "0.04")
    assert(Bench.afmt(0.35, 1.0) == "0.4")
    assert(Bench.afmt(0.97, 1.0) == "1")
    assert(Bench.afmt(1.44, 2.0) == "1.4")
    assert(Bench.afmt(1.44, 1.0) == "1")
    assert(Bench.afmt(13.4, 2.0) == "13")
  }

  test("realistic 189-query line keeps sub-second decimals (round-13 item 3)") {
    // With round-13's real value distribution the stdout line must pick a
    // threshold tier, not collapse to integer seconds: every sub-second
    // query keeps a decimal and no positive value renders as 0.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val vals = names.zipWithIndex.map { case (n, i) =>
      n -> (i % 4 match {
        case 0 => 0.11 + (i % 7) * 0.1 // sub-second spread
        case 1 => 0.42
        case 2 => 1.0 + (i % 5) * 0.5  // the 1-3 s band
        case 3 => 0.07
      })
    }
    val setups = SparkEntry.allDefs.filter(_.setup.isDefined).map(_.name -> 2.5)
    val line = Bench.renderShortLine(vals, setups, Nil, "sf0.1",
      shadow = Some(0.2), hot = Some(3.0), hotN = Some(1))
    assert(line.getBytes("UTF-8").length <= Bench.MaxLineBytes)
    assert(!line.matches(""".*":0[,}].*"""),
      s"positive query times must not render as 0: ${line.take(200)}")
    assert(line.contains(":0.4"), "sub-second values must keep a decimal")
    assert(line.contains(":0.07"), "sub-0.1s values must keep two decimals")
  }

  test("bench line budget survives query failures (round-5 regression)") {
    // round 5: 7 failures × ~300-char messages overflowed the tail window
    // and the artifact recorded parsed:null. The stdout line must absorb
    // MANY long failure messages and still fit.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val (failed, timed) = names.splitAt(10)
    val failures = failed.map(_ -> ("x" * 300))
    val line = Bench.renderShortLine(timed.map(_ -> 999.999),
      SparkEntry.allDefs.filter(_.setup.isDefined).map(_.name -> 999.999), failures, "sf0.1")
    val n = line.getBytes("UTF-8").length
    assert(n <= Bench.MaxLineBytes, s"bench line with 10 failures is $n bytes")
    assert(line.startsWith("""{"metric":"total"""") && line.contains("\"failures\""))
    // every failing query is still NAMED on the line even if its message
    // degraded — a failure must never vanish from the artifact
    failed.map(Bench.shortKey).foreach(k => assert(line.contains("\"" + k + "\"")))
    // worst case: EVERY query fails with a long message
    val all = Bench.renderShortLine(Nil, Nil, names.map(_ -> ("y" * 300)), "sf0.1")
    assert(all.getBytes("UTF-8").length <= Bench.MaxLineBytes,
      s"all-failures line is ${all.getBytes("UTF-8").length} bytes")
  }
}

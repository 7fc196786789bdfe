package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout contract: the driver keeps only the LAST 2000
  * chars of stdout (BENCH_r03/r04 both tail-truncated mid-line → parsed:
  * null), so the compact line must stay comfortably under that even as
  * the query set grows. Asserted at the CURRENT query count plus 20
  * synthetic future queries, per the round-5 verdict.
  */
class BenchLineSpec extends AnyFunSuite {

  // the measured sf0.1 board shape (r13: 117/177 sub-second, 59 at 1-10 s,
  // 1 above 10 s) — the canary models the whole +20 board at this
  // distribution (two thirds sub-second, a third at 1-10 s, one in nine
  // above 10 s, which pessimizes the >10 s share 20-fold)
  private val realisticMins = Seq(0.3, 0.4, 0.5, 0.6, 0.8, 0.9, 1.2, 3.5, 11.0)

  private def syntheticStats(extra: Int): Seq[Bench.QStat] = {
    val current = SparkEntry.queries.keys.toSeq.sorted
    // future queries get realistically-long names
    val future = (0 until extra).map(i => f"z$i%02d_future_operator_name")
    (current ++ future).zipWithIndex.map { case (n, i) =>
      val v = realisticMins(i % realisticMins.length)
      Bench.QStat(n, v * 2, v, v * 9)
    }
  }

  test("compact stdout line stays under the fit budget at +20 queries and keeps per-query data") {
    val line = Bench.compactLine(syntheticStats(20), Map.empty, 3, "/root/testdata/sf0.1")
    assert(line.length <= Bench.fitBudget, s"compact line is ${line.length} chars:\n$line")
    // the precision ladder may degrade bands, but at +20 queries the
    // per-query map itself must survive (the floor's empty object would
    // read as 235 dropped queries)
    assert(line.contains(""""queries":{""") && !line.contains(""""queries":{}"""),
      s"per-query map must be non-empty: ${line.take(200)}")
  }

  test("stdout line is the DRIVER CONTRACT schema and parses as JSON") {
    val line = Bench.compactLine(syntheticStats(0), Map.empty, 3, "/root/testdata/sf0.1")
    // exact field set and order of the last driver-parsed-with-queries
    // line (round 13): metric, value, unit, queries, sf — and on a
    // healthy run the empty errors object is ELIDED so the shape matches
    // that line exactly (failures re-insert the digest before "sf")
    assert(line.startsWith("""{"metric":"total","value":"""), line.take(80))
    assert(line.contains(""""unit":"sec","queries":{"""), line.take(120))
    assert(!line.contains(""""errors""""), "empty errors object must be elided")
    assert(line.endsWith("""},"sf":"sf0.1"}"""), line.takeRight(40))
    // strict-JSON check with the same parser family the driver stack uses
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("unit").asText == "sec")
    assert(node.get("queries").size == SparkEntry.queries.size,
      "every declared query must appear in the stdout map")
    val it = node.get("queries").elements()
    while (it.hasNext) {
      val v = it.next().asDouble()
      assert(v > 0, "successful queries must render a positive value (no 0 landmine)")
    }
  }

  test("stdout keys are the round-13 driver-parsed short keys, verbatim and injective") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val key = Bench.shortKeys(names)
    assert(names.map(key).distinct.size == names.size, "bench keys must stay injective")
    // the contract forbids renaming existing `queries` entries: these are
    // keys the round-13 driver actually parsed — pinned verbatim
    assert(key("q54_stream_incremental_dedup") == "q54")
    assert(key("c10_registry_append") == "c10")
    assert(key("m17_tiff_decode") == "m17")
    assert(key("ooh_occupations") == "ooh_o")
    assert(key("ooh_report") == "ooh_r")
    for (n <- names)
      assert(n.startsWith(key(n)),
        s"short key must be a prefix of the full name: $n -> ${key(n)}")
  }

  test("compact line survives a multi-failure run without blowing the buffer") {
    val stats = syntheticStats(20)
    val errors = stats.take(10).map(s =>
      s.name -> ("x" * 500)).toMap // snippets must be truncated to 30 chars
    val line = Bench.compactLine(stats.map(s =>
      if (errors.contains(s.name)) s.copy(med = -1, min = -1, max = -1) else s),
      errors, 3, "/root/testdata/sf0.1")
    assert(line.length <= Bench.fitBudget, s"compact line is ${line.length} chars")
    assert(!line.contains("x" * 31), "error snippet not truncated to 30 chars")
  }

  test("compact line reports per-query MIN in seconds; file line keeps full precision") {
    val stats = Seq(Bench.QStat("q1_agg", 12.0, 1.5, 99.0),
      Bench.QStat("d7_clusters", 8.0, 7.5, 50.0),
      Bench.QStat("t3_quality_scores", 1.0, -1.0, 1.0),
      Bench.QStat("m17_tiny", 1.0, 0.04, 1.0))
    val line = Bench.compactLine(stats, Map.empty, 3, "sf")
    // a small board fits the full-1-dp band: per-query SECONDS at 0.1 s
    // resolution; the failure sentinel stays -1
    assert(line.contains(""""q1":1.5"""), line)
    assert(line.contains(""""d7":7.5"""), line)
    assert(line.contains(""""t3":-1"""), line)
    // the m17:0 landmine fix (round-20 verdict): a <0.05 s query floors
    // at 0.1, never 0
    assert(line.contains(""""m17":0.1"""), line)
    // the top-level total stays SECONDS (failures excluded from the sum)
    assert(line.contains(""""value":9.04"""), s"total must sum mins in seconds: $line")
    // min/med/max live in the FILE line under their own keys, in seconds
    val full = Bench.fullLine(stats, Map.empty, 3, "sf")
    assert(full.contains(""""min":""") && full.contains(""""max":"""),
      s"file line must carry the statistic breakdown: $full")
    assert(full.contains(""""q1_agg":12.0"""),
      s"file line must keep full-precision seconds: $full")
    // BASELINE POLICY (round 18): the committed denominator "queries" is
    // the per-query MIN over passes — the statistic box contention cannot
    // inflate — matching the stdout headline; median rides under "med"
    assert(full.contains(""""queries":{"q1_agg":1.5,"""),
      s"'queries' must publish the per-query min (the 2x-gate denominator): $full")
    assert(full.contains(""""med":{"q1_agg":12.0,"""),
      s"the median must stay visible under 'med': $full")
  }

  test("precision ladder: multi-second bands degrade to integer seconds, sub-second keeps 0.1s") {
    // the live query-name set with every min at 5.67 s except one
    // sub-second entry: the all-1-dp band cannot fit (215 × 4-char
    // values), so the ladder lands on an integer-second band for the
    // multi-second entries while the sub-second entry keeps 1-dp
    val names = SparkEntry.queries.keys.toSeq.sorted
    val stats = names.map { n =>
      if (n == "m17_tiff_decode") Bench.QStat(n, 0.5, 0.42, 0.9)
      else Bench.QStat(n, 6.0, 5.67, 9.0)
    }
    val line = Bench.compactLine(stats, Map.empty, 3, "sf")
    assert(line.length <= Bench.fitBudget, s"${line.length} chars")
    assert(line.contains(""""q54":6"""),
      s"multi-second values must degrade to integer seconds: ${line.take(150)}")
    assert(line.contains(""""m17":0.4"""),
      s"sub-second values must keep 0.1 s resolution: $line")
  }

  test("precision ladder: sub-second values keep 0.1 s down to the 1 s band; only the last band floors them") {
    // N sub-second queries: at 0.1 s resolution each entry is `"q100":0.4,`
    // (11 chars), so 170 fit the 1 s band and 200 do not
    def board(n: Int) = (0 until n).map(i => Bench.QStat(s"q${100 + i}_sub", 0.5, 0.42, 0.9))
    val fits = Bench.compactLine(board(170), Map.empty, 3, "sf")
    assert(fits.length <= Bench.fitBudget, s"${fits.length} chars")
    assert(fits.contains(""""q100":0.4,""") && fits.contains(""""q269":0.4}"""), fits.take(200))
    // the all-integer rail keeps every key but renders 0.42 s as 1; the
    // total still sums the true mins (200 x 0.42)
    val rail = Bench.compactLine(board(200), Map.empty, 3, "sf")
    assert(rail.length <= Bench.fitBudget, s"${rail.length} chars")
    assert(rail.contains(""""q100":1,""") && rail.contains(""""q299":1}"""), rail.take(200))
    assert(rail.contains(""""value":84,"""), rail.take(80))
  }

  test("file line carries the per-pass fixed-cost canary for box-drift attribution") {
    val stats = Seq(Bench.QStat("q1_agg", 12.0, 1.5, 99.0))
    // one canary sample per pass, full precision, stdout line untouched
    val full = Bench.fullLine(stats, Map.empty, 3, "sf", Seq(0.012, 0.01, 0.011),
      Seq(0.1, 0.09, 0.11), Seq(0.02, 0.018, 0.021))
    assert(full.contains(""""canary":[0.012,0.01,0.011]"""), full)
    // the shuffle canary rides beside it: the codegen canary is driver+
    // one-task only and cannot see drift living in shuffle overhead
    assert(full.contains(""""shuffleCanary":[0.1,0.09,0.11]"""), full)
    // and the small-file metadata canary beside both (round 20): a
    // measured +22% board epoch sat entirely in FS metadata work while
    // the CPU and shuffle canaries stayed at floor
    assert(full.contains(""""fsCanary":[0.02,0.018,0.021]"""), full)
    val compact = Bench.compactLine(stats, Map.empty, 3, "sf")
    assert(!compact.contains("canary"),
      "the canary must not spend stdout tail bytes")
    // absent canary (unit-test callers) renders an empty array, valid JSON
    assert(Bench.fullLine(stats, Map.empty, 3, "sf").contains(""""canary":[]"""))
    assert(Bench.fullLine(stats, Map.empty, 3, "sf").contains(""""shuffleCanary":[]"""))
    assert(Bench.fullLine(stats, Map.empty, 3, "sf").contains(""""fsCanary":[]"""))
  }

  test("a pathological all-slow board still emits a parseable contract line via the floor") {
    // every query at 1500 s — absurd for a healthy board (that bench run
    // takes days): 4-char integer values × 235 queries cannot fit the
    // tail, so the unconditional floor keeps the schema (empty queries
    // object), the total and a pointer at the file line
    val slow = syntheticStats(20).map(s => s.copy(min = 1500.0))
    val line = Bench.compactLine(slow, Map.empty, 3, "/root/testdata/sf0.1")
    assert(line.length <= Bench.fitBudget, s"pathological line is ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":352500,"unit":"sec""""), line.take(80))
    assert(line.contains(""""queries":{}""") && line.contains("BENCH_LOCAL"), line)
  }

  test("stdout errors object is capped with an (omitted) count") {
    val stats = syntheticStats(0)
    val errors = stats.take(Bench.maxStdoutErrors + 5)
      .map(s => s.name -> "boom").toMap
    val line = Bench.compactLine(stats, errors, 3, "sf")
    // the fit ladder may choose a lower error cap than maxStdoutErrors on
    // a big board; the invariant is shown + omitted == total, with at
    // least the ladder's smallest cap (3) of names surviving
    val shown = errors.keys.toSeq.sorted.count(k => line.contains(k))
    val omitted = """"\(omitted\)":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)
    assert(omitted.contains(errors.size - shown), s"shown=$shown line=$line")
    assert(shown >= 3, s"at least 3 error names must survive: $line")
    // the full file line keeps every error, uncapped
    val full = Bench.fullLine(stats, errors, 3, "sf")
    assert(errors.keys.forall(k => full.contains(k)))
    assert(!full.contains("(omitted)"))
  }

  test("natural pass order: d7 (label memo fill) runs before d10 (state reload)") {
    val names = Seq("d10_clusters_persisted", "d7_dup_clusters", "d8_keeper_quality",
      "d12_incremental_dedup", "d1_exact_dedup")
    val ordered = names.sortBy(Bench.naturalKey)
    assert(ordered == Seq("d1_exact_dedup", "d7_dup_clusters", "d8_keeper_quality",
      "d10_clusters_persisted", "d12_incremental_dedup"))
    // the attribution invariant itself: d7 strictly precedes d10 so the
    // SimHash+CC memo fill is timed in d7's sample on EVERY pass
    assert(Bench.naturalKey("d7_dup_clusters") < Bench.naturalKey("d10_clusters_persisted"))
  }

  test("naturalKey: digit runs longer than the old pad width still order numerically") {
    // 13+ digit runs degraded to lexicographic under the fixed-width pad
    // ("0" * negative is empty): 1000000000000 (13 digits) sorted before
    // 999999999999 (12 nines) would be wrong — (length, value) encoding
    assert(Bench.naturalKey("q999999999999") < Bench.naturalKey("q1000000000000"))
    assert(Bench.naturalKey("q7") < Bench.naturalKey("q1000000000000"))
    // leading zeros compare by value ("q007" == "q7" as keys; sort is stable)
    assert(Bench.naturalKey("q007") == Bench.naturalKey("q7"))
  }

  test("median: odd, even, empty") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Bench.median(Seq(5.0)) == 5.0)
    assert(Bench.median(Nil) == -1.0)
  }

  test("compact keys: unique prefixes shorten, colliders extend to the shortest unique prefix") {
    val short = Bench.shortKeys(Seq("q1_agg", "d7_clusters", "ooh_occupations", "ooh_report"))
    assert(short("q1_agg") == "q1")
    assert(short("d7_clusters") == "d7")
    assert(short("ooh_occupations") == "ooh_o")
    assert(short("ooh_report") == "ooh_r")
    // still injective when colliders share more than the underscore prefix
    val deep = Bench.shortKeys(Seq("ab_cd_one", "ab_cd_two"))
    assert(deep("ab_cd_one") == "ab_cd_o")
    assert(deep("ab_cd_two") == "ab_cd_t")
    assert(Set("q1_agg", "d7_clusters", "ooh_occupations", "ooh_report")
      .map(short).size == 4, "compact keys must stay injective")
  }

  test("sec2 renders 2-dp with trailing zeros stripped and -1 intact") {
    assert(Bench.sec2(1.234) == "1.23")
    assert(Bench.sec2(1.2) == "1.2")
    assert(Bench.sec2(12.0) == "12")
    assert(Bench.sec2(0.001) == "0")
    assert(Bench.sec2(-1.0) == "-1")
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The bench flag partition replayed over the COMMITTED r14 run
  * artifacts — the r14 verdict item 2's done-criterion as a permanent
  * machine check: under the gap-fixed window rule the r14 driver
  * run's warm2 t-region (t07–t18) and warm1 d-region file as
  * weather, the aging list keeps only the isolated shapes, and the
  * cross-run promotion moves a repeating name back to aging. */
class BenchFlagsSpec extends AnyFunSuite {

  private def load(path: String): (IndexedSeq[String], IndexedSeq[Double],
      IndexedSeq[Double], IndexedSeq[Double]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)))
    def m(field: String): Map[String, Double] =
      root.get(field).properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    val names = m("queries").keys.toIndexedSeq.sorted
    (names, names.map(m("queries")), names.map(m("queries_warm1")),
      names.map(m("queries_warm2")))
  }

  test("r14 driver run: t- and d-region windows file as weather, aging keeps the isolated shapes") {
    val (names, cold, w1, w2) = load("bench_queries_r14.json")
    val p = BenchFlags.partition(names, cold, w1, w2, prevFlagged = Set.empty)
    // the verdict's named split victims — previously filed as aging by
    // the gap — must now sit inside weather windows
    val mustBeWeather = Seq("t07_ngram_langid", "t09_deterministic_sample",
      "t10_shard_packing", "t11_bpe_tokens", "t16_mixture_sample",
      "t18_boilerplate", "d06_dup_clusters", "d07_embedding_lsh_pairs")
    mustBeWeather.foreach(n =>
      assert(p.weather.contains(n), s"$n should file as weather: $p"))
    // the isolated shape stays visible — nothing regional hides it
    assert(p.aging == Seq("p13_multi_epoch_postings"),
      s"aging must keep exactly the isolated shape: ${p.aging}")
  }

  test("retime runs: disjoint aging lists, nothing repeats by name") {
    val (n1, c1, a1, b1) = load("bench_queries_r14_retime_run1.json")
    val (n2, c2, a2, b2) = load("bench_queries_r14_retime_run2.json")
    val p1 = BenchFlags.partition(n1, c1, a1, b1, Set.empty)
    val p2 = BenchFlags.partition(n2, c2, a2, b2, Set.empty)
    assert(p1.aging.toSet.intersect(p2.aging.toSet).isEmpty,
      s"retime aging lists must be disjoint (weather, not regression): " +
        s"${p1.aging} vs ${p2.aging}")
    // and neither repeats the driver run's isolated flag
    assert(!p1.aging.contains("p13_multi_epoch_postings") &&
      !p2.aging.contains("p13_multi_epoch_postings"))
  }

  test("cross-run promotion: a weather-shaped flag repeating by name moves to aging") {
    val (names, cold, w1, w2) = load("bench_queries_r14.json")
    val base = BenchFlags.partition(names, cold, w1, w2, Set.empty)
    val repeat = base.weather.head
    val p = BenchFlags.partition(names, cold, w1, w2, prevFlagged = Set(repeat))
    assert(p.promoted == Seq(repeat))
    assert(p.aging.contains(repeat) && !p.weather.contains(repeat))
    assert((p.aging.toSet - repeat) == base.aging.toSet &&
      p.weather.toSet == base.weather.toSet - repeat,
      "promotion must move exactly the repeating name")
  }

  test("r15 history replay: the K=3 lookback names p12's every-other-run repeat") {
    // the committed r15 driver/builder runs (bench_history.jsonl lines
    // 1-5 at sf0.1; line 0 is the r14 driver run): p12 flagged in run
    // 1 AND run 3 — non-adjacent, so the old previous-run-only rule
    // never saw the repeat (the r15 verdict's finding 2). Replaying
    // run 3 with the union of the prior three recorded runs' flags
    // (Bench's widened lookback) must name p12 in promoted_repeats.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("bench_history.jsonl")).asScala
      .filter(_.trim.nonEmpty)
      .map(mapper.readTree)
      .filter(_.path("sf").asText() == "/root/testdata/sf0.1")
      .toIndexedSeq
    assume(lines.size >= 4, "needs the committed r15 history")
    def flags(i: Int): Set[String] =
      (lines(i).path("aging_violations").elements().asScala ++
        lines(i).path("weather_flags").elements().asScala).map(_.asText()).toSet
    // line 3 = the r15 run that re-flagged p12
    val run = lines(3)
    def m(field: String): Map[String, Double] =
      run.get(field).properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    val names = m("queries").keys.toIndexedSeq.sorted
    val lookback = flags(0) ++ flags(1) ++ flags(2)
    assert(lookback.contains("p12_nightly_pipeline"),
      "the committed history must carry p12's run-1 flag")
    val p = BenchFlags.partition(names, names.map(m("queries")),
      names.map(m("queries_warm1")), names.map(m("queries_warm2")), lookback)
    assert(p.promoted.contains("p12_nightly_pipeline"),
      s"the every-other-run flapper must be NAMED as a repeat: $p")
    assert(p.aging.contains("p12_nightly_pipeline"))
    // the run's genuinely-new isolated flags stay in aging untouched
    Seq("g08_multi_epoch_knn", "q14_promo_share", "t19_source_overlap")
      .foreach(n => assert(p.aging.contains(n), s"$n must stay in aging: $p"))
  }

  test("promotion is not self-perpetuating: a promoted entry is excluded from the organic lookback flags") {
    // run 2 promoted gate X off run 1's weather flag; its history line
    // records X under BOTH aging_violations and promoted_repeats. The
    // lookback must see run 2 as contributing NOTHING organic for X —
    // otherwise any later weather hit on X within the lookback window
    // re-promotes off the promotion record itself, forever (r16
    // advice: a weather-prone gate could never demote).
    val run2 = BenchFlags.organicFlags(
      aging = Set("x_gate"), weather = Set.empty, promoted = Set("x_gate"))
    assert(run2.isEmpty, s"promotion record leaked into organic flags: $run2")
    // a genuinely-isolated aging flag in the same run stays organic
    val mixed = BenchFlags.organicFlags(
      aging = Set("x_gate", "y_gate"), weather = Set("z_gate"),
      promoted = Set("x_gate"))
    assert(mixed == Set("y_gate", "z_gate"))
  }

  test("steadiness: the r16 driver miss (962→1082, g07 weather window, first occurrence) files as weather") {
    // the r16 driver artifact's exact inputs: overall p90 962→1082
    // (+12.5% against the +5% one-sided criterion), one weather window
    // (g07), no prior recorded miss — per-pool attribution sees the
    // dispatcher plateau shift (synthetic but shaped like thread_hist)
    val s = BenchFlags.steadiness(962, 1082,
      pools1 = Map("dispatcher-event-loop-#" -> 560, "shuffle-client-#" -> 180),
      pools2 = Map("dispatcher-event-loop-#" -> 660, "shuffle-client-#" -> 182),
      prevGrown = Set.empty, prevMiss = false,
      weatherFlags = Seq("g07_incremental_knn"))
    assert(!s.ok)
    assert(s.grown == Seq("dispatcher-event-loop-#"))
    assert(s.verdict == "weather",
      s"a first-occurrence miss in a weather run must file as weather: $s")
  }

  test("steadiness: a pool growing in two consecutive runs is a leak; clean runs reset; small pools never flag") {
    val grown1 = Map("pool-a-#" -> 40)
    val grown2 = Map("pool-a-#" -> 60)
    // repeat by pool name across consecutive runs → leak, weather or not
    val leak = BenchFlags.steadiness(900, 1000, grown1, grown2,
      prevGrown = Set("pool-a-#"), prevMiss = true,
      weatherFlags = Seq("g07_incremental_knn"))
    assert(leak.verdict == "leak")
    // same miss, different pool last time → not a leak; no weather → watch
    val watch = BenchFlags.steadiness(900, 1000, grown1, grown2,
      prevGrown = Set("pool-b-#"), prevMiss = true, weatherFlags = Nil)
    assert(watch.verdict == "watch")
    // diffuse miss (no pool past the floor) repeating → leak
    val diffuse = BenchFlags.steadiness(900, 1000,
      Map("a-#" -> 5, "b-#" -> 5), Map("a-#" -> 9, "b-#" -> 9),
      prevGrown = Set.empty, prevMiss = true, weatherFlags = Nil)
    assert(diffuse.grown.isEmpty && diffuse.verdict == "leak")
    // a 3→4 helper pool is noise: growth below the absolute floor
    val s = BenchFlags.steadiness(900, 920,
      Map("tiny-#" -> 3), Map("tiny-#" -> 7),
      prevGrown = Set.empty, prevMiss = false, weatherFlags = Nil)
    assert(s.ok && s.grown.isEmpty)
  }

  test("window mechanics: elevated gates extend a window without counting toward its 3 slow members") {
    // five gates: slow, ELEVATED (bridges), slow, slow, clean
    val mins = IndexedSeq(1.0, 0.5, 1.0, 1.0, 1.0)
    val pass = IndexedSeq(2.5, 0.95, 2.6, 2.7, 1.05)
    val w = BenchFlags.weatherIdx(pass, mins)
    assert(w == Set(0, 1, 2, 3), s"bridged window lost members: $w")
    // without the bridge (middle gate clean) the two-slow runs are NOT
    // a window
    val w2 = BenchFlags.weatherIdx(IndexedSeq(2.5, 0.55, 2.6, 2.7, 1.05), mins)
    assert(w2 == Set.empty, s"a clean gate must still break a window: $w2")
  }

  test("cost drift: only stable-both-sides signature changes flag; variance and coverage changes never do") {
    def sig(j: Long, s: Long): BenchFlags.CostSig = (j, s)
    val base = Map(
      "q01" -> (sig(4, 4), sig(4, 4)),    // stable at (4,4)
      "q02" -> (sig(6, 8), sig(6, 8)),    // stable at (6,8)
      "q03" -> (sig(5, 7), sig(5, 7)),    // stable at (5,7)
      "st9" -> (sig(11, 11), sig(12, 12)),// unstable in the baseline run
      "old" -> (sig(3, 3), sig(3, 3)))    // removed this round
    val cur = Map(
      "q01" -> (sig(5, 5), sig(5, 5)),    // job count moved 4→5   → DRIFT
      "q02" -> (sig(6, 9), sig(6, 9)),    // same jobs, stages 8→9 → DRIFT
      "q03" -> (sig(5, 7), sig(5, 7)),    // unchanged             → clean
      "st9" -> (sig(12, 12), sig(12, 12)),// stable now, baseline couldn't assert → skip
      "new" -> (sig(7, 7), sig(7, 7)))    // added this round      → skip
    assert(BenchFlags.costDrift(cur, base) == Seq("q01", "q02"))
    // a gate unstable in the CURRENT run never flags, even against a
    // stable baseline (the r16 count()-tax shape in reverse would
    // first show as instability, then repeat as stable drift)
    val wobbly = cur.updated("q01", (sig(5, 5), sig(6, 6)))
    assert(BenchFlags.costDrift(wobbly, base) == Seq("q02"))
    // identical runs → empty
    assert(BenchFlags.costDrift(base, base).isEmpty)
  }

  test("lookback: a subset run between full runs neither fills a full run's window nor reads full runs") {
    val sf = "sf0.1"
    def run(name: String, excluded: Set[String] = Set.empty, at: String = sf) =
      BenchFlags.HistRun(at, excluded, Set(name), Set.empty, steadyMiss = false)
    val subset = Set("p12_nightly_pipeline", "s19_range_search")
    // file order, oldest first: the subset run sits between full runs,
    // and one full run was made at another sf
    val history = Seq(run("full1"), run("full2"), run("sub1", subset), run("full3"),
      run("other_sf", at = "sf0.01"), run("sub2", subset), run("full4"))
    def names(rs: Seq[BenchFlags.HistRun]) = rs.flatMap(_.flags)
    // a full run reads the last three FULL runs at its sf, newest first
    assert(names(BenchFlags.lookback(history, sf, Set.empty, 3)) == Seq("full4", "full3", "full2"))
    // a subset run reads only runs over its own gate set
    assert(names(BenchFlags.lookback(history, sf, subset, 3)) == Seq("sub2", "sub1"))
    // a different exclusion set is a different gate set
    assert(BenchFlags.lookback(history, sf, Set("p12_nightly_pipeline"), 3).isEmpty)
  }

  test("lookback: committed history lines without an `excluded` field count as full runs") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val runs = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("bench_history.jsonl")).asScala
      .filter(_.trim.nonEmpty).map(mapper.readTree).map { n =>
        BenchFlags.HistRun(n.path("sf").asText(),
          n.path("excluded").elements().asScala.map(_.asText()).toSet,
          Set.empty, Set.empty, steadyMiss = false)
      }.toSeq
    assume(runs.nonEmpty, "needs the committed history")
    val sf = runs.last.sf
    val atSf = runs.filter(_.sf == sf)
    assume(atSf.size >= 3, "needs three committed runs at one sf")
    assert(BenchFlags.lookback(runs, sf, Set.empty, 3) == atSf.reverse.take(3))
  }
}

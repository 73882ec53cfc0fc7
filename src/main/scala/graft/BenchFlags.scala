package graft

/** The bench flag partition as a PURE function — extracted from
  * [[Bench]] so the weather-window rule, the aging criterion, and the
  * cross-run repeat promotion are unit-testable against the committed
  * per-gate run artifacts (BenchFlagsSpec replays the r14 driver run
  * and the two r13-set re-timings and pins the partition the r14
  * verdict asked for). Bench.main delegates here; all semantics
  * documented at the call site there. */
object BenchFlags {

  final case class Partition(aging: Seq[String], weather: Seq[String],
                             promoted: Seq[String])

  /** A history line's ORGANIC flags — what the cross-run repeat
    * lookback may consume. A PROMOTED entry is bookkeeping (the
    * partition moved it to aging *because* it repeated), not a fresh
    * observation: feeding it back into later lookbacks made promotion
    * self-perpetuating — a weather-prone gate flagged twice could
    * re-promote forever off its own promotion record and never demote
    * after clean runs (the r16 advice). Subtracting the promoted set
    * leaves exactly the flags the run observed first-hand. */
  def organicFlags(aging: Set[String], weather: Set[String],
                   promoted: Set[String]): Set[String] =
    (aging ++ weather) -- promoted

  /** One `bench_history.jsonl` line as the repeat lookback reads it:
    * the run's sf, the gates it left out (`SPARK_GRAFT_EXCLUDE`; empty
    * for a full run and for lines written before the field existed),
    * its ORGANIC flags and its recorded steadiness (grown pools + ok). */
  final case class HistRun(sf: String, excluded: Set[String], flags: Set[String],
                           steadyGrown: Set[String], steadyMiss: Boolean)

  /** The K-run repeat lookback: the newest `k` history runs (`runs` in
    * file order, oldest first; result newest first) made at `sf` over
    * the same gate set as the current run. A subset run's flags are
    * not comparable with a full run's: its gates ran in a different
    * order and company, and it says nothing about the gates it left
    * out, so letting it fill a lookback slot would push a full run's
    * observations out of the window. */
  def lookback(runs: Seq[HistRun], sf: String, excluded: Set[String], k: Int): Seq[HistRun] =
    runs.reverseIterator.filter(r => r.sf == sf && r.excluded == excluded).take(k).toSeq

  /** A gate's deterministic cost signature for one warm pass: Spark
    * job count + stage count. Jobs catch an extra action (the
    * count()-per-append class); stages catch a lost exchange reuse or
    * an extra shuffle at CONSTANT job count. Both are measured exactly
    * reproducible intra-run and cross-run on all 186 gates (two full
    * sf0.1 runs, zero diffs); byte counters are NOT in the signature —
    * compressed shuffle sizes wobble ≲1% with intra-partition row
    * order (11/186 gates differed cross-run, max 0.8%). */
  type CostSig = (Long, Long)

  /** Deterministic-cost drift: gates whose warm-pass cost signature
    * moved against the committed baseline receipt. Timing flags need
    * the weather partition above because the box's clock is noisy;
    * job and stage counts are not — for a deterministic gate on fixed
    * input they are identical every run, so any change is a plan
    * change by construction.
    *
    * Each side supplies (warm1 sig, warm2 sig) per gate. Only gates
    * that PROVE intra-run stability on BOTH sides (warm1 == warm2)
    * participate: a gate with intra-run variance — state-store
    * maintenance riding its own cadence through a streaming drive —
    * cannot assert a cross-run contract, and flagging it would
    * re-import exactly the noise this instrument exists to escape.
    * Gates present on one side only (added/removed this round) are
    * skipped — coverage changes are not drift. */
  def costDrift(current: Map[String, (CostSig, CostSig)],
                baseline: Map[String, (CostSig, CostSig)]): Seq[String] =
    current.toSeq.sortBy(_._1).collect {
      case (gate, (c1, c2)) if c1 == c2 &&
          baseline.get(gate).exists { case (b1, b2) => b1 == b2 && b1 != c1 } =>
        gate
    }

  final case class Steadiness(ok: Boolean, verdict: String, grown: Seq[String])

  /** Steadiness verdict with per-pool attribution and the same
    * repeat-by-name discipline as the per-gate flags (the r16 driver
    * run's `steady_ok: false` could not be attributed: the p90 thread
    * criterion names no pool, and a one-off miss in a weather window
    * is indistinguishable from a leak without a cross-run rule).
    *
    *  - overall criterion unchanged: warm2's p90 per-query thread
    *    count may grow at most 5% over warm1's (one-sided — a shrink
    *    is just idle reaping);
    *  - `grown` names the pools whose own p90 breaks the same 5%
    *    bound by at least [[PoolGrowthFloor]] threads (a 3→4 helper
    *    pool is scheduler noise, not a leak shape);
    *  - a miss is a LEAK only when it repeats: a named pool also in
    *    the previous run's grown set, or a diffuse miss (no pool
    *    crosses the floor) following a previous diffuse miss;
    *  - otherwise a one-off miss files as `weather` when the run
    *    carried weather windows, else `watch` (attribute next run —
    *    exactly the one-round detection delay the per-gate promotion
    *    already accepts). */
  val PoolGrowthFloor = 8

  def steadiness(w1p90: Int, w2p90: Int,
                 pools1: Map[String, Int], pools2: Map[String, Int],
                 prevGrown: Set[String], prevMiss: Boolean,
                 weatherFlags: Seq[String]): Steadiness = {
    val ok = w1p90 > 0 && w2p90 <= 1.05 * w1p90
    val grown = (pools1.keySet ++ pools2.keySet).toSeq.sorted.filter { p =>
      val a = pools1.getOrElse(p, 0); val b = pools2.getOrElse(p, 0)
      b > 1.05 * a && b - a >= PoolGrowthFloor
    }
    val verdict =
      if (ok) "ok"
      else if (grown.exists(prevGrown.contains) || (grown.isEmpty && prevMiss)) "leak"
      else if (weatherFlags.nonEmpty) "weather"
      else "watch"
    Steadiness(ok, verdict, grown)
  }

  /** Per-index cross-pass minimum of the positive durations (negative
    * marks an errored query; 0 when every pass errored). */
  def minOf(cold: IndexedSeq[Double], w1: IndexedSeq[Double],
            w2: IndexedSeq[Double]): IndexedSeq[Double] =
    cold.indices.map { i =>
      Seq(cold(i), w1(i), w2(i)).filter(_ > 0) match {
        case Seq() => 0.0
        case xs => xs.min
      }
    }

  /** Indices of `ps` inside a weather window: a maximal run of
    * consecutive ELEVATED queries (≥1.5× their cross-pass min, or
    * ≥0.4s over it) holding ≥3 SLOW members (≥1.5× AND ≥1s over).
    * Elevated members extend a run without counting toward the 3 —
    * the r15 gap fix (one borderline gate used to split a genuine
    * window and file its slow neighbors as aging).
    *
    * Known, accepted delay (r15 advice): a genuine first-occurrence
    * regression that happens to sit adjacent to ≥3 slow gates files
    * as weather on ITS FIRST run and is only caught on the next run,
    * when the cross-run promotion ([[partition]], now a 3-run
    * lookback) sees it repeat by name — a one-round detection delay
    * by design, traded for not flooding aging with whole weather
    * windows. */
  def weatherIdx(ps: IndexedSeq[Double], mins: IndexedSeq[Double]): Set[Int] = {
    def elevated(i: Int) = {
      val m = mins(i)
      m > 0 && ps(i) > 0 && (ps(i) >= 1.5 * m || ps(i) - m >= 0.4)
    }
    def slow(i: Int) = {
      val m = mins(i)
      m > 0 && ps(i) >= 1.5 * m && ps(i) - m >= 1.0
    }
    val out = scala.collection.mutable.Set.empty[Int]
    var i = 0
    while (i < ps.size) {
      if (!elevated(i)) i += 1
      else {
        var j = i
        while (j < ps.size && elevated(j)) j += 1
        if ((i until j).count(slow) >= 3) out ++= (i until j)
        i = j
      }
    }
    out.toSet
  }

  /** The aging criterion: any warm pass above 1.5× cold + 0.5s. */
  def violates(cold: Double, warm: Double): Boolean =
    cold > 0 && warm > 1.5 * cold + 0.5

  /** Full partition: violations split into aging (isolated shape) vs
    * weather (every violating pass inside a window), with ANY flag —
    * either shape — whose gate was also flagged within the caller's
    * lookback set PROMOTED to aging and named in `promoted` (weather
    * names a different victim each run; a regression repeats by
    * name). The r16 widening: promotion used to apply to
    * weather-shaped repeats only, so an isolated-shaped flag
    * flapping every OTHER run (r15's p12, flagged in runs 1 and 3)
    * was never NAMED as a repeat — now the repeat itself is surfaced
    * whatever the shape, and the caller passes the union of the last
    * K=3 recorded runs' flags instead of just the previous run's.
    * `names` must be the bench's sorted query order — windows are
    * alphabetical adjacency. */
  def partition(names: IndexedSeq[String], cold: IndexedSeq[Double],
                w1: IndexedSeq[Double], w2: IndexedSeq[Double],
                prevFlagged: Set[String]): Partition = {
    val mins = minOf(cold, w1, w2)
    val (wthW1, wthW2) = (weatherIdx(w1, mins), weatherIdx(w2, mins))
    val flagged = names.indices.flatMap { i =>
      val v1 = violates(cold(i), w1(i))
      val v2 = violates(cold(i), w2(i))
      if (!v1 && !v2) None
      else if ((!v1 || wthW1(i)) && (!v2 || wthW2(i))) Some(names(i) -> true)
      else Some(names(i) -> false)
    }
    val promoted = flagged.collect {
      case (n, _) if prevFlagged.contains(n) => n
    }.sorted
    Partition(
      aging = (flagged.collect { case (n, false) => n } ++ promoted).distinct.sorted,
      weather = flagged.collect {
        case (n, true) if !prevFlagged.contains(n) => n
      }.sorted,
      promoted = promoted)
  }
}

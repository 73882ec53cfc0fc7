package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** One gate run as the bench times it: its row count (or what it
    * threw), its cost, and the seconds it spent building fixtures. */
  final case class GateRun(rows: Either[Throwable, Long], cost: graft.core.Trace.Cost,
                           fixtureS: Double)

  /** Runs `gate`'s `count()` under [[graft.core.Trace.measure]], then
    * the between-gate cleanup, so that gates measured one after
    * another (the bench's passes, `graft.tools.Profile`) each start
    * from the same steady state. */
  def runGate(spark: SparkSession, gate: (SparkSession, String) => DataFrame,
              sfDir: String): GateRun = {
    // snapshot the persistent-RDD ids BEFORE the query so the sweep
    // below releases only blocks THIS query created — an RDD-backed
    // artifact memoized by an earlier query (none today: the
    // cross-query artifacts are all parquet paths or driver arrays,
    // but the sweep must not bake that in) keeps its only data copy
    val preIds = spark.sparkContext.getPersistentRDDs.keySet
    val fix0 = graft.core.FixtureClock.totalNanos
    val (rows, cost) = graft.core.Trace.measure(spark) {
      try Right(gate(spark, sfDir).count()) catch { case e: Throwable => Left(e) }
    }
    val fixtureS = (graft.core.FixtureClock.totalNanos - fix0) / 1e9
    // release the per-query cache so storage memory never leaks
    // across the run — BOTH the SQL cache and leftover
    // localCheckpoint RDD blocks (the iterative graph gates cut
    // lineage eagerly; their final cuts outlive the query and
    // would otherwise accumulate across 160+ queries × 2 passes)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!preIds.contains(id)) rdd.unpersist(false) }
    // unload state-store providers a streaming drive left loaded:
    // deactivated providers otherwise wait out the 60s maintenance
    // cadence holding their in-memory state maps. Sequential
    // queries ⇒ no active stream to disturb; reload is from the
    // checkpoint on next use.
    org.apache.spark.sql.graftdiag.StateShim.unloadAllProviders()
    GateRun(rows, cost, fixtureS)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark 4's per-query checkpoint-checksum pool never shuts down
      // (see EventStream.boundedDriveSession) — cover the root session's
      // own streams (the warmup MemoryStream) too
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: session init, parquet footers, codegen JIT —
    // so per-query timings measure the queries, not JVM startup
    Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
      try graft.analytics.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    try graft.analytics.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => () }
    // first-use machinery the count() warmups never touch, each of
    // which otherwise lands its one-time cost (classloading + JIT, can
    // be seconds) on whichever timed query hits it first:
    // text-column scan + regex split + window + hash agg + the custom
    // single-pass expressions, on a 256-doc slice
    try {
      import org.apache.spark.sql.functions._
      import graft.functions.WordShingles.word_shingles
      import graft.functions.CharTrigrams.char_trigrams
      import graft.functions.WinnowFingerprints.winnow_fingerprints
      import graft.functions.BigramStats.bigram_stats
      import graft.functions.GramHashes.gram_hashes
      import graft.functions.TrigramCounts.trigram_counts
      import graft.functions.BloomMightContain
      val warmBloom = BloomMightContain.serialize(
        org.apache.spark.util.sketch.BloomFilter.create(64, 0.01))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      graft.analytics.Tables.documents(spark, sfDir).limit(256)
        .withColumn("n", size(split(trim(col("text")), "\\s+")))
        .withColumn("sh", size(word_shingles(col("text"))))
        .withColumn("mh", size(graft.functions.MinHash64.minhash64(word_shingles(col("text")))))
        .withColumn("sim", graft.functions.SimHash64.simhash64(split(trim(col("text")), "\\s+")))
        .withColumn("tg", size(char_trigrams(col("text"))))
        .withColumn("wf", size(winnow_fingerprints(col("text"))))
        .withColumn("bg", bigram_stats(col("text")).getField("n_bigrams"))
        .withColumn("gh", size(gram_hashes(col("text"), 40)))
        .withColumn("tc", size(map_keys(trigram_counts(col("text")))))
        .withColumn("bm", BloomMightContain.bloom_might_contain(col("text"), warmBloom).cast("int"))
        .withColumn("rn", row_number().over(w))
        .groupBy("lang").agg(sum("n"), sum("sh"), sum("mh"), sum("sim"),
          sum("tg"), sum("wf"), sum("bg"), sum("gh"), sum("tc"), sum("bm")).count()
    } catch { case _: Throwable => () }
    // pair-generation machinery (the d01/d02/d05/d09/t19 shape):
    // hash-keyed postings (ObjectHashAggregate of collect_list),
    // posexplode+slice i<j expansion, running-max window + islands
    // groupBy, a forced sort-merge self-join, array set ops and a
    // zip_with lambda, and the d10 aggregate() fold — each class's
    // one-time classload + JIT otherwise lands on the first dedup
    // query that runs
    try {
      import org.apache.spark.sql.functions._
      import graft.functions.WordShingles.word_shingles
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("i").orderBy("pos")
      val sh = graft.analytics.Tables.documents(spark, sfDir).limit(256)
        .select(col("doc_id"), word_shingles(col("text")).as("s"))
      val inv = sh.select(col("doc_id"), posexplode(col("s")))
        .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("k"))
      val pairs = inv
        .groupBy("k").agg(sort_array(collect_list(struct(col("doc_id"), col("pos")))).as("docs"))
        .filter(size(col("docs")).between(2, 50))
        .select(col("docs"), posexplode(col("docs")).as(Seq("idx", "a")))
        .select(col("a.doc_id").as("i"), col("a.pos").as("pos"),
          explode(slice(col("docs"), col("idx") + lit(2), size(col("docs")))).as("b"))
      pairs
        .withColumn("pm", max(col("pos")).over(w.rowsBetween(W.unboundedPreceding, -1)))
        .withColumn("isl", sum(when(col("pm").isNull, 1).otherwise(0)).over(
          w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("i", "isl").agg(min("pos").as("s"), max("pos").as("e"))
        .count()
      sh.as("a").hint("merge").join(sh.as("b"), col("a.doc_id") === col("b.doc_id"))
        .select(size(array_intersect(col("a.s"), col("b.s"))).as("x"),
          size(array_union(col("a.s"), col("b.s"))).as("u"),
          size(filter(zip_with(col("a.s"), col("b.s"), (x, y) => x === y), b => b)).as("z"),
          aggregate(col("a.s"), lit(0), (acc, x) => acc + length(x)).as("f"))
        .agg(sum("x"), sum("u"), sum("z"), sum("f")).count()
    } catch { case _: Throwable => () }
    // vector expressions (array_dot) + the bounded top-k aggregate
    // (ObjectHashAggregate path) on an embeddings slice
    try {
      import org.apache.spark.sql.functions._
      import graft.functions.VectorFunctions.array_dot
      import graft.functions.BoundedTopK.top_k_by
      graft.analytics.Tables.table(spark, sfDir, "embeddings").limit(256)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), array_dot(col("v"), col("v")).as("d"))
        .groupBy((col("vec_id") % 4).as("g"))
        .agg(top_k_by(col("d"), col("vec_id"), 5).as("top"), sum("d"))
        .count()
    } catch { case _: Throwable => () }
    // store machinery: one TableStore put/flush/get/list round trip in
    // a temp dir (parquet append write, driver-side parquet point read,
    // newest-row window listing) — the classes and codegen the av*
    // store gates hit first otherwise
    try {
      val dir = graft.core.TempDirs.create("graft-bench-warm")
      val db = new graft.store.TableStore(spark, dir.toString)
      db.putMenu("""{"warm": 1}""", "p", "e")
      db.getMenu("p", "e")
      db.listAll()
      db.close()
    } catch { case _: Throwable => () }
    // javax.imageio plugin-registry init + one decode/encode round trip
    // through the engine's own heap-cached codec path (the gates never
    // touch ImageIO's default file-cache streams)
    try {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      graft.analytics.Multimodal.decodeImage(
        graft.analytics.Multimodal.encodePng(img))
    } catch { case _: Throwable => () }
    // k-means machinery (centroid-literal struct arrays, decimal
    // partial sums, cell self-join with array_dot): its one-time
    // classload/JIT otherwise lands on whichever of p02/s08/s09 runs
    // first — a 64-vector fit prices it out of every timed query
    try {
      import org.apache.spark.sql.functions._
      import graft.functions.VectorFunctions._
      val vecs = spark.range(64).selectExpr("id as vec_id",
        "transform(sequence(1, 8), k -> cast(id % 7 + k as double)) as v")
        .withColumn("norm", array_norm(col("v")))
      val (assigned, _, _) = graft.analytics.Similarity.kmeansFit(vecs, k = 4, iters = 2)
      val nz = assigned.filter(col("norm") > 0)
      nz.as("a").join(nz.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select((array_dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm"))).as("c"))
        .agg(sum("c")).count()
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }
    // incremental-execution stack (state store, microbatch planner)
    try {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      ms.addData(1L, 2L)
      val q = ms.toDS().groupBy().count().writeStream
        .outputMode("complete").format("memory")
        .queryName("bench_warmup_stream").start()
      q.processAllAvailable(); q.stop()
    } catch { case _: Throwable => () }
    // deterministic per-gate cost (graft.core.Trace): the
    // weather-immune twin of the timing maps, with each gate's wall
    // time split into planning, jobs and driver gaps beside it
    val passCosts = scala.collection.mutable.Map.empty[
      String, scala.collection.mutable.LinkedHashMap[String, graft.core.Trace.Cost]]
    // per-query aging diagnostics (heap/metaspace/threads/listeners/
    // state providers/GC/JIT) — the evidence trail that the driver
    // reaches a steady state instead of degrading across passes (the
    // r11 warm-pass regression was a +32-threads-per-streaming-drive
    // checkpoint-checksum pool leak, visible only in these counters)
    val diags = scala.collection.mutable.ArrayBuffer.empty[String]
    // isolation knob for round-over-round comparisons: skip named
    // gates so a prior round's exact gate set can be re-timed on the
    // current build (e.g. SPARK_GRAFT_EXCLUDE=p12_nightly_pipeline,
    // s19_range_search,g08_multi_epoch_knn re-creates the r12 set)
    val exclude = sys.env.getOrElse("SPARK_GRAFT_EXCLUDE", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // untimed sync at pass boundaries: the layout-writing gates leave
    // dirty pages behind, and on a VM with slow flush the kernel's
    // write-back threshold can land a stall on a LATER query. Flushing
    // between passes keeps one pass's debt off the next pass's
    // timings; within-pass flushes stay part of the measured cost (a
    // per-query sync was tried and rejected — it hides each gate's own
    // write cost and did nothing against the ~1-minute box-weather
    // windows the "t" timestamps now make attributable)
    def flush(): Unit =
      try { new ProcessBuilder("sync").start().waitFor(); () }
      catch { case _: Throwable => () }
    // per-pass thread counts (one sample per query end) for the
    // steadiness criterion below — a distribution, not a point sample
    val passThreads =
      scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    // per-pass, per-query POOL samples (root ThreadGroup enumerate —
    // no stack dumps, so it is cheap enough to take per query): the
    // overall p90 criterion says WHETHER the driver is steady; the
    // per-pool p90s say WHICH pool moved when it is not — the r16
    // driver run's steady_ok:false was unattributable because the
    // only pool data was a pass-end point histogram
    val passPools = scala.collection.mutable
      .Map.empty[String, scala.collection.mutable.ArrayBuffer[Map[String, Int]]]
    def poolSample(): Map[String, Int] = {
      var g = Thread.currentThread().getThreadGroup
      while (g.getParent != null) g = g.getParent
      val arr = new Array[Thread](g.activeCount() + 64)
      val n = g.enumerate(arr, true)
      (0 until math.min(n, arr.length)).flatMap(i => Option(arr(i)))
        .map(_.getName.replaceAll("[0-9a-f-]{8,}|[0-9]+", "#"))
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    // per-pass FIXTURE time (graft.core.FixtureClock): wall clock the
    // pass spent building once-per-JVM rebuild twins / seed stores /
    // synthetic corpora inside memoized builders — check-and-fixture
    // cost, not engine cost. Reported separately on the metric line
    // (cold_engine vs cold_fixtures — the r15 item 3 split: m13's
    // decode twin alone was 43.8s of the 576.8s cold headline); the
    // per-query "fix" field in the aging diags attributes it.
    val passFixtures = scala.collection.mutable.Map.empty[String, Double]
    def pass(tag: String): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (name, _) => exclude.contains(name) }
        .map { case (name, fn) =>
        val GateRun(rows, cost, fixDt) = runGate(spark, fn, sfDir)
        val (ok, dt) = (rows.isRight, cost.wallS)
        passCosts.getOrElseUpdate(tag,
          scala.collection.mutable.LinkedHashMap.empty[String, graft.core.Trace.Cost])(name) = cost
        // successful queries only, like `total` below — an errored
        // gate's whole duration is excluded from the pass total, so
        // counting its fixture time would subtract it from OTHER
        // gates' engine share and break the decomposition's additivity
        if (ok) passFixtures(tag) = passFixtures.getOrElse(tag, 0.0) + fixDt
        val snap = graft.core.Diag.snap(spark)
        // "t" (epoch seconds) lets a consumer correlate flagged
        // queries to a shared wall-clock window: a box-weather event
        // (CPU steal, I/O throttling — observed as ~1-minute windows
        // where 5-6 CONSECUTIVE queries run 3-5× slow) is provable
        // from the artifact alone, vs a per-query defect which names
        // the same query across runs
        diags += s"""{"pass":"$tag","query":"$name","sec":${(dt * 1000).round / 1000.0},"fix":${(fixDt * 1000).round / 1000.0},"t":${System.currentTimeMillis / 1000},"cost":${cost.json},"diag":${snap.json}}"""
        passThreads.getOrElseUpdate(tag,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += snap.threads
        passPools.getOrElseUpdate(tag,
          scala.collection.mutable.ArrayBuffer.empty[Map[String, Int]]) += poolSample()
        // a NEGATIVE duration marks an errored query — loud in the
        // JSON instead of masquerading as a normal timing
        name -> (if (ok) dt else -dt)
      }
    // pass 1 (reported as "queries"/"value", comparable with earlier
    // rounds): first-run timings, which still carry each query's
    // residual JIT/classloading. passes 2+3 ("queries_warm"/
    // "total_warm" = per-query MIN of the two): steady-state cost — on
    // a long-lived cluster JIT is a one-time cost, and warm numbers are
    // what a 100 TB run would see per-query. Taking the min of two warm
    // runs keeps one GC/JIT storm from masquerading as a family
    // regression (both raw passes are preserved in the per-query file).
    val results = pass("cold")
    flush()
    val warm1 = pass("warm1")
    flush()
    val warm2 = pass("warm2")
    // pool-name histogram at warm-pass end (digits/hashes stripped →
    // pool prefixes): the thread COUNT on the metric line says whether
    // the driver is steady; this names the pools the count lives in,
    // so a plateau (or a leak) is attributable without a rerun
    val threadHist = Thread.getAllStackTraces.keySet()
      .toArray(Array.empty[Thread])
      .map(_.getName.replaceAll("[0-9a-f-]{8,}|[0-9]+", "#"))
      .groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (n, c) => (-c, n) }.take(20)
      .map { case (n, c) =>
        // strip control chars too — a thread name containing e.g. a
        // newline must not emit an invalid JSON line
        val safe = n.replace("\\", "\\\\").replace("\"", "\\\"")
          .filter(_ >= ' ')
        s"""{"pool":"$safe","n":$c}""" }
      .mkString("[", ",", "]")
    // min-of-warm per query; an error (negative) in either pass stays
    // negative so it can never read as a fast query
    val warm = warm1.zip(warm2).map { case ((n, a), (_, b)) =>
      n -> (if (a < 0 || b < 0) -math.max(a.abs, b.abs) else math.min(a, b))
    }
    // EVERY-pass aging criterion (the r13 p12 stall hid behind the
    // min-of-two convention: warm1 88s, warm2 9s read as steady): a
    // query is flagged when ANY warm pass exceeds 1.5× its cold time
    // plus a 0.5s absolute slack (sub-second queries flip on scheduler
    // noise alone). Violations are NAMED on the metric line — a masked
    // stall can never again read as a clean round.
    //
    // Flags are PARTITIONED by shape: a violation inside a WEATHER
    // WINDOW — ≥3 consecutive queries of the same pass each ≥1.5×
    // (and ≥1s over) their own cross-pass minimum — is machine
    // weather (CPU steal / I/O throttling windows on a shared VM slow
    // a whole alphabetical region at once; the same absolute hit
    // trips only the small-cold gates' ratio), reported as
    // `weather_flags`. An ISOLATED violation (the r13 p12 class: one
    // gate 9.7×, neighbors at 1.1-1.4×) stays in `aging_violations`.
    // Both lists are on the metric line; nothing is dropped — a
    // genuine family-wide regression would repeat in the same region
    // across runs and is visible either way.
    // The partition itself is the PURE function BenchFlags.partition
    // (weather-window rule incl. the r15 gap fix — elevated gates
    // extend a window without counting toward its ≥3 slow members —
    // and the cross-run repeat promotion), unit-tested by
    // BenchFlagsSpec against the COMMITTED r14 run artifacts: the
    // warm2 t-region and warm1 d-region must file as weather, the
    // aging list must keep only the isolated shapes. Prior runs'
    // flags come from bench_history.jsonl (appended below, committed
    // per round): weather names a different victim each run, a
    // regression repeats by name — ANY flag, either shape, whose gate
    // was also flagged within the LOOKBACK set is promoted to
    // aging_violations and named in `promoted_repeats`. The lookback
    // is the union of the last 3 recorded runs at the same sf over the
    // same gate set (the r16 widening: r15's p12 flapped in runs 1 and
    // 3, and a previous-run-only rule never saw the repeat; a
    // SPARK_GRAFT_EXCLUDE subset run records its `excluded` gates and
    // only joins lookbacks of runs excluding the same). Parsing is real
    // JSON (Jackson, per-line, loud on failure) against a repo-root-
    // resolved path — a malformed line or a foreign CWD used to
    // silently disable promotion.
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO", System.getProperty("user.dir"))
    val histPath = java.nio.file.Paths.get(repoRoot, "bench_history.jsonl")
    val HistLookback = 3
    // per history line: ORGANIC flags (aging ∪ weather minus that
    // run's promoted repeats — BenchFlags.organicFlags: feeding a
    // promotion record back into later lookbacks made promotion
    // self-perpetuating, the r16 advice) plus the run's recorded
    // steadiness (grown pools + ok) for the steadiness repeat rule;
    // BenchFlags.lookback keeps the runs at this sf over this gate set
    val histRuns: Seq[BenchFlags.HistRun] =
      if (!java.nio.file.Files.exists(histPath)) Nil
      else try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        import scala.jdk.CollectionConverters._
        def runOf(line: String): Option[BenchFlags.HistRun] =
          try {
            val n = om.readTree(line)
            def set(node: com.fasterxml.jackson.databind.JsonNode) =
              node.elements().asScala.map(_.asText()).toSet
            val flags = BenchFlags.organicFlags(
              set(n.path("aging_violations")), set(n.path("weather_flags")),
              set(n.path("promoted_repeats")))
            val st = n.path("steady")
            Some(BenchFlags.HistRun(n.path("sf").asText(), set(n.path("excluded")), flags,
              set(st.path("grown")),
              steadyMiss = st.has("ok") && !st.path("ok").asBoolean(true)))
          } catch {
            case e: Throwable =>
              System.err.println("[bench] unparseable bench_history.jsonl line " +
                s"(${e.getMessage}); skipping it for the repeat lookback")
              None
          }
        BenchFlags.lookback(java.nio.file.Files.readAllLines(histPath).asScala
          .filter(_.trim.nonEmpty).flatMap(runOf).toSeq, sfDir, exclude, HistLookback)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] cannot read $histPath (${e.getMessage}); " +
            "cross-run repeat promotion disabled for this run")
          Nil
      }
    val prevFlagged: Set[String] = histRuns.flatMap(_.flags).toSet
    val part = BenchFlags.partition(
      results.map(_._1).toIndexedSeq, results.map(_._2).toIndexedSeq,
      warm1.map(_._2).toIndexedSeq, warm2.map(_._2).toIndexedSeq, prevFlagged)
    val promotedRepeats = part.promoted
    val agingViolations = part.aging
    val weatherFlags = part.weather
    def fmt(rs: Seq[(String, Double)], dec: Int) =
      rs.map { case (k, v) =>
        s"\"" + k + "\":" + BigDecimal(v).setScale(dec, BigDecimal.RoundingMode.HALF_UP)
      }.mkString("{", ",", "}")
    // totals sum SUCCESSFUL queries only: adding an errored query's
    // negative marker would make a failing round read FASTER than a
    // clean one; the errors list below carries the failures
    val total = results.collect { case (_, t) if t > 0 => t }.sum
    val totalWarm = warm.collect { case (_, t) if t > 0 => t }.sum
    // the r15 item-3 split: cold decomposes into engine work vs
    // once-per-JVM fixture/twin construction (FixtureClock), so the
    // cold headline tracks the engine; warm fixture time should be ~0
    // (memoized) and is reported as its own receipt of that
    val coldFixtures = passFixtures.getOrElse("cold", 0.0)
    val warmFixtures =
      passFixtures.getOrElse("warm1", 0.0) + passFixtures.getOrElse("warm2", 0.0)
    val coldEngine = math.max(0.0, total - coldFixtures)
    // errored queries (negative durations) ALSO listed by name, so a
    // consumer skimming the JSON can never read a failure as a fast
    // query; the union covers both passes
    val errors = (results ++ warm).filter(_._2 < 0).map(_._1).distinct.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // the consumer of the stdout line keeps only a ~2000-char tail, so
    // the metric line carries ONLY totals + per-family subtotals +
    // errors; the full per-query cold+warm maps (which at 119 queries
    // run ~5 KB and were getting truncated) go to a JSON file instead
    // per-family (gate-prefix) subtotals of successful queries: small
    // enough to survive the tail window, coarse enough to localize a
    // regression to dedup vs streaming vs ANN vs text without the file
    def family(name: String) = name.takeWhile(c => !c.isDigit)
    def famTotals(rs: Seq[(String, Double)]) =
      rs.collect { case (n, t) if t > 0 => family(n) -> t }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val sc3 = (v: Double) => BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val fams = famTotals(results)
      .map { case (f, t) => s"\"$f\":${sc3(t)}" }.mkString("{", ",", "}")
    val famsWarm = famTotals(warm)
      .map { case (f, t) => s"\"$f\":${sc3(t)}" }.mkString("{", ",", "}")
    // steady-state digest on the metric line itself: thread count at
    // the end of each warm pass. Warm numbers only mean something if
    // the driver is steady — flat thread counts here are the receipt
    // (the r11 regression read ~1.4k and climbing); full counters per
    // query live in the file's "aging" array.
    val endSnap = graft.core.Diag.snap(spark)
    val w1Thr = diags.lift(2 * results.size - 1)
      .flatMap("\"threads\":(\\d+)".r.findFirstMatchIn(_)).map(_.group(1)).getOrElse("-1")
    // quantitative steadiness criterion (replaces the qualitative
    // "flat-or-shrinking", which Spark's idle-reaped global cached
    // pools — named in thread_hist — oscillate around depending on
    // which family ran last): warm2's p90 per-query thread count
    // grows at most 5% over warm1's p90. A DISTRIBUTION statistic,
    // not the pass-end point sample the r14 rule used: one r15 run
    // had a >60s weather stall land near warm1's END, the keep-alive
    // pools idle-reaped through it (557 at the sample point against
    // an ~870 plateau), and warm2's perfectly normal plateau then
    // read as +47% "growth" — a false leak alarm from a deflated
    // baseline. p90 ignores reap dips while still catching what the
    // criterion hunts: a leak is monotone growth of the PLATEAU (the
    // r11 checkpoint-pool leak moved every sample, not the tail).
    // Still ONE-SIDED — a shrink only means the pools idle-reaped.
    def p90(xs: Seq[Int]): Int =
      if (xs.isEmpty) -1 else xs.sorted.apply(((xs.size - 1) * 0.9).toInt)
    val w1p90 = p90(passThreads.getOrElse("warm1", Nil).toSeq)
    val w2p90 = p90(passThreads.getOrElse("warm2", Nil).toSeq)
    // per-pool p90s across the pass's per-query samples (a pool absent
    // from a sample counts 0 there), so a miss is ATTRIBUTABLE: the
    // verdict names the grown pool(s) and applies the repeat-by-name
    // rule against the previous recorded run — BenchFlags.steadiness
    // (a one-off miss inside a weather run files as weather; only a
    // repeat is a leak). The r16 driver miss (962→1082 with a g07
    // weather window, first occurrence) files as weather under this
    // rule — BenchFlagsSpec replays it.
    def poolP90(tag: String): Map[String, Int] = {
      val samples = passPools.getOrElse(tag, Nil).toSeq
      if (samples.isEmpty) Map.empty
      else samples.flatMap(_.keys).toSet.iterator
        .map((p: String) => p -> p90(samples.map(_.getOrElse(p, 0)))).toMap
    }
    val pools1 = poolP90("warm1")
    val pools2 = poolP90("warm2")
    val prevSteady = histRuns.headOption
    val steadyRes = BenchFlags.steadiness(w1p90, w2p90, pools1, pools2,
      prevGrown = prevSteady.map(_.steadyGrown).getOrElse(Set.empty),
      prevMiss = prevSteady.exists(_.steadyMiss),
      weatherFlags = weatherFlags)
    val steadyOk = steadyRes.ok
    def jsonStr(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").filter(_ >= ' ') + "\""
    val grownJson = steadyRes.grown.map(jsonStr).mkString("[", ",", "]")
    // pass-end point samples stay on the line for continuity with
    // earlier rounds' artifacts; the full per-pool p90 maps go to the
    // per-query file (the metric line lives inside a ~2000-char tail)
    val steady = s"""{"threads_warm1":$w1Thr,"threads_warm2":${endSnap.threads},"threads_warm1_p90":$w1p90,"threads_warm2_p90":$w2p90,"steady_ok":$steadyOk,"verdict":${jsonStr(steadyRes.verdict)},"grown":$grownJson}"""
    def poolsJson(m: Map[String, Int]) =
      m.toSeq.sortBy { case (n, c) => (-c, n) }.take(16)
        .map { case (n, c) => s"${jsonStr(n)}:$c" }.mkString("{", ",", "}")
    // the full per-query maps + per-pool p90s (which at 119+ queries
    // and ~30 pools outgrow the consumer's ~2000-char stdout tail) go
    // to a JSON file; the metric line carries totals + verdicts only
    // deterministic cost receipt: per gate, the cold/warm1/warm2
    // job/stage/task/byte deltas and wall-time breakdown (Trace.Cost)
    // plus the intra-run stability verdict
    // (warm1 jobs == warm2 jobs). Written fresh each run; a round
    // commits it under receipts/bench_costs_r{N}.json, and the NEXT
    // runs diff their stable warm job counts against the latest
    // committed receipt — BenchFlags.costDrift, the weather-immune
    // regression gate
    val costGates: Seq[String] = passCosts.get("warm1")
      .map(_.keys.toSeq).getOrElse(Nil)
    def costOf(tag: String, gate: String) =
      passCosts.get(tag).flatMap(_.get(gate))
    val costsJson = costGates.map { g =>
      val w1 = costOf("warm1", g)
      val w2 = costOf("warm2", g)
      // stability = identical (jobs, stages) signature across the two
      // warm passes — what BenchFlags.costDrift asserts cross-run
      val stable = (w1, w2) match {
        case (Some(a), Some(b)) => a.jobs == b.jobs && a.stages == b.stages
        case _ => false
      }
      def j(o: Option[graft.core.Trace.Cost]) =
        o.map(_.json).getOrElse("null")
      s"""${jsonStr(g)}:{"cold":${j(costOf("cold", g))},"warm1":${j(w1)},""" +
        s""""warm2":${j(w2)},"stable":$stable}"""
    }.mkString("{", ",", "}")
    val costsFile = java.nio.file.Paths.get("target", "bench_costs.json")
    java.nio.file.Files.createDirectories(costsFile.getParent)
    java.nio.file.Files.write(costsFile,
      (s"""{"sf":"$sfDir","t":${System.currentTimeMillis / 1000},""" +
        s""""gates":$costsJson}""" + "\n").getBytes("UTF-8"))
    // diff against the latest committed receipt (same sf only): gates
    // stable in both runs whose job count moved. Loud on parse
    // failure, silent when no receipt exists yet (first round)
    val costDrift: Seq[String] = try {
      val rdir = java.nio.file.Paths.get(repoRoot, "receipts")
      val latest: Option[java.nio.file.Path] =
        if (!java.nio.file.Files.isDirectory(rdir)) None
        else {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(rdir).iterator().asScala
            .filter(_.getFileName.toString.matches("bench_costs_r\\d+\\.json"))
            .toSeq.sortBy(p => p.getFileName.toString
              .replaceAll("\\D", "").toInt).lastOption
        }
      latest match {
        case None => Nil
        case Some(p) =>
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val n = om.readTree(java.nio.file.Files.readString(p))
          if (n.path("sf").asText() != sfDir) Nil
          else {
            import scala.jdk.CollectionConverters._
            def sigPair(node: com.fasterxml.jackson.databind.JsonNode) = {
              def sig(p: com.fasterxml.jackson.databind.JsonNode) = {
                val j = p.path("jobs"); val s = p.path("stages")
                if (j.isNumber && s.isNumber) Some((j.asLong(), s.asLong()))
                else None
              }
              for (a <- sig(node.path("warm1")); b <- sig(node.path("warm2")))
                yield (a, b)
            }
            val base = n.path("gates").properties().asScala
              .flatMap(e => sigPair(e.getValue).map(e.getKey -> _)).toMap
            val cur = costGates.flatMap { g =>
              for (a <- costOf("warm1", g); b <- costOf("warm2", g))
                yield g -> ((a.jobs, a.stages), (b.jobs, b.stages))
            }.toMap
            BenchFlags.costDrift(cur, base)
          }
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] cost-receipt diff failed (${e.getMessage}); " +
          "cost_drift disabled for this run")
        Nil
    }
    val costDriftJson = costDrift.map(jsonStr).mkString("[", ",", "]")
    val perQueryFile = java.nio.file.Paths.get("target", "bench_queries.json")
    java.nio.file.Files.createDirectories(perQueryFile.getParent)
    java.nio.file.Files.write(perQueryFile,
      (s"""{"sf":"$sfDir","n":${results.size},""" +
        s""""queries":${fmt(results, 9)},""" +
        s""""queries_warm":${fmt(warm, 9)},""" +
        s""""queries_warm1":${fmt(warm1, 9)},""" +
        s""""queries_warm2":${fmt(warm2, 9)},""" +
        s""""errors":$errors,""" +
        s""""aging_violations":${agingViolations.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""weather_flags":${weatherFlags.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""cost_drift":$costDriftJson,""" +
        s""""thread_hist":$threadHist,""" +
        s""""steady":$steady,""" +
        s""""pools_warm1_p90":${poolsJson(pools1)},""" +
        s""""pools_warm2_p90":${poolsJson(pools2)},""" +
        s""""aging":[${diags.mkString(",")}]}""" + "\n").getBytes("UTF-8"))
    val violJson = agingViolations.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wthJson = weatherFlags.map("\"" + _ + "\"").mkString("[", ",", "]")
    val promJson = promotedRepeats.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-gate CROSS-ROUND history: one self-contained line per run,
    // appended to a COMMITTED file — the r14 verdict's item 1: the
    // per-query map was overwritten each run, so an av/d-family drift
    // could not be attributed gate-by-gate against the prior round
    try {
      // the recorded steady object is what the NEXT run's lookback
      // parses ("ok"/"grown" — the steadiness repeat-by-name rule)
      val histSteady = s"""{"ok":$steadyOk,"verdict":${jsonStr(steadyRes.verdict)},""" +
        s""""grown":$grownJson,"w1p90":$w1p90,"w2p90":$w2p90}"""
      val excludedJson = exclude.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")
      val hist = s"""{"t":${System.currentTimeMillis / 1000},"sf":"$sfDir","n":${results.size},""" +
        s""""excluded":$excludedJson,""" +
        s""""value":${sc3(total)},"total_warm":${sc3(totalWarm)},""" +
        s""""cold_engine":${sc3(coldEngine)},"cold_fixtures":${sc3(coldFixtures)},""" +
        s""""queries":${fmt(results, 3)},"queries_warm1":${fmt(warm1, 3)},""" +
        s""""queries_warm2":${fmt(warm2, 3)},""" +
        s""""aging_violations":$violJson,"weather_flags":$wthJson,""" +
        s""""promoted_repeats":$promJson,"steady":$histSteady,"errors":$errors}""" + "\n"
      java.nio.file.Files.writeString(histPath, hist,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Throwable => () }
    // "queries" inline: the driver contract's one-line JSON carries
    // the per-gate map itself ({"metric",...,"queries":{name: sec},
    // "sf"}) — it had drifted into the per-query FILE only, which was
    // invisible while the driver never parsed the line (r01–r17,
    // `parsed: null`) but breaks the contract the moment it does.
    // Same values as the history line's map (cold-pass seconds, the
    // field every round's history carried), plus the warm-min map the
    // round-over-round comparisons actually read. Additive only.
    val metricLine = s"""{"metric":"total","value":${sc3(total)},"unit":"sec","queries":${fmt(results, 3)},"queries_warm":${fmt(warm, 3)},"total_warm":${sc3(totalWarm)},"cold_engine":${sc3(coldEngine)},"cold_fixtures":${sc3(coldFixtures)},"warm_fixtures":${sc3(warmFixtures)},"n_queries":${results.size},"families":$fams,"families_warm":$famsWarm,"steady":$steady,"aging_violations":$violJson,"weather_flags":$wthJson,"promoted_repeats":$promJson,"cost_drift":$costDriftJson,"errors":$errors,"per_query_file":"$perQueryFile","costs_file":"$costsFile","history_file":"$histPath","sf":"$sfDir"}"""
    // the driver↔bench metric contract (the r17 verdict's item 2:
    // `parsed: null` in every BENCH artifact r01–r17 because the line
    // only ever reached the consumer through sbt's `[info] `-prefixed
    // logger): ALSO persist the metric JSON at a fixed path the driver
    // can read, and print it as the run's LAST stdout line — build.sbt
    // now sets `run / outputStrategy := StdoutOutput`, so the forked
    // JVM's stdout passes through raw instead of via the logger
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "bench_metric.json"),
      (metricLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] cannot write target/bench_metric.json: $e") }
    // printed after spark.stop() so no late WARN line can land between
    // the metric and EOF, and in a finally so a throwing stop() cannot
    // drop it; flush explicitly — the JVM is about to exit
    try spark.stop()
    finally {
      System.out.println(metricLine)
      System.out.flush()
    }
  }
}

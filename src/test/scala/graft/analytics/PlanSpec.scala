package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.store.SparkTestSession

/** Physical-plan contracts — the properties the 100 TB story depends
  * on, locked in as assertions so a refactor cannot silently regress
  * them:
  *  - filters and column pruning reach the parquet scan;
  *  - prediction-side t07 is one narrow pass (exactly two exchanges:
  *    confusion-matrix aggregation + final sort);
  *  - no query hints a broadcast on a join side that grows with the
  *    data (corpus- or candidate-bounded sides are AQE's call).
  */
class PlanSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = {
    val s = SparkTestSession.spark
    // several pins match scans by layout path suffix (".../corpus",
    // "_refine") in the PRINTED plan; the default 100-char metadata
    // truncation cuts those suffixes off now that temp layouts live
    // under the longer per-process /tmp/graft-tmp/<pid> root
    s.conf.set("spark.sql.maxMetadataStringLength", "400")
    s
  }

  test("q01: filter pushdown and column pruning reach the lineitem scan") {
    val plan = Relational.q01PricingSummary(spark, dir)
      .queryExecution.executedPlan.toString
    // directional, format-tolerant: the shipdate predicate appears in
    // SOME pushed-filter list, and the scan never reads a column the
    // query doesn't touch
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(plan).isDefined,
      s"shipdate filter not pushed:\n$plan")
    assert(plan.contains("l_shipdate") && !plan.contains("l_partkey"),
      "scan reads columns the query never touches")
  }

  test("t07 predict side is a single narrow pass") {
    val qe = LangId.t07NgramLangId(spark, dir).queryExecution
    val plan = qe.executedPlan.toString
    // directional bound (agg + sort), not an exact count, so plan-string
    // formatting or an extra AQE wrapper can't produce a false failure
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"predict pass gained a shuffle, got $exchanges:\n$plan")
    assert(!plan.contains("Generate"), "predict must not explode occurrences")
    assert(!plan.toLowerCase.contains("broadcasthashjoin"), "predict must not join")
  }

  private def hintedRelations(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h.child.toString
    }

  test("growing-side joins carry no broadcast hint (d02, m02)") {
    // analyzed plans retain ResolvedHint nodes; corpus/candidate-bounded
    // sides must have none so AQE can fall back to a shuffle join
    assert(hintedRelations(Dedup.d02MinHashPairs(spark, dir)).isEmpty,
      "d02 hints a growing side")
    assert(hintedRelations(Multimodal.m02FrameStats(spark, dir)).isEmpty,
      "m02 hints a growing side")
  }

  test("IVF cell layout: a probe reads only its nProbe partition directories") {
    // the s03 scale story: store the corpus partitioned by cell, and a
    // query's probe scan prunes to nProbe of K directories — proven at
    // the plan level, like the TableStore point-read pruning. Uses the
    // production writer (s09's layout), not an ad-hoc write.
    val tmp = graft.core.TempDirs.create("graft-ivf-layout")
    Similarity.writeIvfCorpus(spark, dir, s"$tmp/corpus")
    val stored = spark.read.parquet(s"$tmp/corpus")
    val cells = stored.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.take(4)
    assert(cells.length == 4, s"expected >=4 populated cells, got ${cells.length}")
    val probed = stored.filter(org.apache.spark.sql.functions.col("cell").isin(cells.map(Integer.valueOf): _*))
    val scanned = probed.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }
    assert(scanned == Seq(4), s"probe must scan exactly its 4 cells, got $scanned")
  }

  test("s09 stored-corpus probe scan carries PartitionFilters for exactly its probed cells") {
    // the end-to-end contract the 100 TB claim rests on: ivfStoredTopK's
    // corpus scan must be partition-pruned to the query's nProbe cells —
    // not filtered post-scan, not a full-layout read
    import org.apache.spark.sql.functions.col
    val tmp = graft.core.TempDirs.create("graft-ivf-stored-plan")
    val out = s"$tmp/corpus"
    Similarity.writeIvfCorpus(spark, dir, out)
    // one query vector, supplied as a LOCAL frame so the ONLY scan of
    // the stored layout in the plan is the probe scan itself
    val one = spark.read.parquet(out).orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("v"), col("norm")).collect().head
    val spark2 = spark
    import spark2.implicits._
    val queries = Seq((one.getLong(0), one.getSeq[Double](1), one.getDouble(2)))
      .toDF("query_id", "qv", "qnorm")
    val df = Similarity.ivfStoredTopK(spark, out, queries, k = 5, nProbe = 2)
    // the probe plan is adaptive (joins + aggregates), and
    // AdaptiveSparkPlanExec is a leaf — inspect the printed tree, the
    // same contract style as the rest of this suite
    val plan = df.queryExecution.executedPlan.toString
    val corpusScans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("corpus")).toList
    assert(corpusScans.length == 1,
      s"expected exactly one stored-corpus scan, got ${corpusScans.length}:\n$plan")
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(corpusScans.head).map(_.group(1)).toList
    assert(partFilters.length == 1 && partFilters.head.contains("cell") &&
        partFilters.head.contains("IN"),
      s"stored-corpus scan lost its cell PartitionFilters — the probe would " +
        s"read every cell directory: ${corpusScans.head}")
    // and the pruning is real, not just printed: the pruned frame alone
    // (no AQE wrapper) must select exactly the probed directories
    val probedCells = "IN \\(([^)]*)\\)".r.findFirstMatchIn(partFilters.head)
      .map(_.group(1).split(",").map(_.trim.toInt).toSeq).getOrElse(Seq.empty)
    assert(probedCells.length == 2, s"nProbe=2 probe must carry 2 cells, got $probedCells")
    val pruned = spark.read.parquet(out)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }
    assert(scanned == Seq(2), s"probed cells must select exactly 2 directories, got $scanned")
  }

  test("gen-scoped stored probe (p15's path) keeps its cell PartitionFilters") {
    // the gen-scoped live view (the tombstone anti-join on the stored
    // `gen` column) rides ON TOP of the pruned scan — it must not cost
    // the probe its partition pruning
    import org.apache.spark.sql.functions.col
    val tmp = graft.core.TempDirs.create("graft-ivf-genscoped-plan")
    val out = s"$tmp/corpus"
    Similarity.writeIvfCorpus(spark, dir, out)
    val cents = Similarity.readIvfCodebook(out)
    Similarity.appendIvfCorpusWith(cents, out,
      Tables.embeddings(spark, dir).limit(8)
        .select(col("vec_id") + 1000000L as "vec_id", col("embedding")),
      spark.read.parquet(out).columns.toSet, gen = 1L)
    Similarity.deleteFromIvfCorpus(spark, out,
      spark.read.parquet(out).select("vec_id").limit(2), uptoGen = 0L)
    val one = spark.read.parquet(out).orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("v"), col("norm")).collect().head
    val spark2 = spark
    import spark2.implicits._
    val queries = Seq((one.getLong(0), one.getSeq[Double](1), one.getDouble(2)))
      .toDF("query_id", "qv", "qnorm")
    val df = Similarity.ivfStoredTopK(spark, out, queries, k = 5, nProbe = 2)
    val plan = df.queryExecution.executedPlan.toString
    val corpusScans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("corpus")
        && !l.contains("_tombstones")).toList
    assert(corpusScans.nonEmpty, s"no stored-corpus scan found:\n$plan")
    corpusScans.foreach { scan =>
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
        s"gen-scoped probe lost its cell PartitionFilters: $scan")
    }
  }

  test("ANN ranking never shuffles scored rows into per-query partitions (s02/s03/s04)") {
    // the ranking step must be the bounded top-k aggregate (partial
    // map-side reduction → query-sized exchange), never a row_number
    // window (corpus-sized exchange into |queries| partitions)
    for ((name, df) <- Seq(
        ("s02", Similarity.s02LshTopK(spark, dir)),
        ("s03", Similarity.s03IvfTopK(spark, dir)),
        ("s04", Similarity.s04IvfPqTopK(spark, dir)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name ranks through a window — corpus-sized shuffle:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$name lost the bounded top-k aggregate:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("low-cardinality-group ranking (q04, q12) is the bounded aggregate, not a window") {
    for ((name, df) <- Seq(
        ("q04", Relational.q04CustomerRank(spark, dir)),
        ("q12", Relational.q12TopUsersPerType(spark, dir)))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name ranks through a window — every row shuffles into a handful of reducers:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$name lost the bounded top-k aggregate:\n$plan")
    }
  }

  test("s04 ADC scan is cell-pruned: the probe join is an equi join on cell") {
    val plan = Similarity.s04IvfPqTopK(spark, dir)
      .queryExecution.executedPlan.toString
    // the IVF stage: encoded corpus ⋈ broadcast probes keyed on cell —
    // a non-equi (vec_id <> query_id) BroadcastNestedLoopJoin here
    // would mean the flat corpus×queries ADC scan is back
    assert("BroadcastHashJoin \\[cell".r.findFirstIn(plan).isDefined,
      s"ADC join is not keyed on cell:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"flat corpus×queries ADC scan:\n$plan")
    spark.catalog.clearCache()
  }

  test("fixed-size dims stay hint-broadcast in the star join (q02)") {
    // hint SET is exactly {nation, region}: matched on the hinted
    // subtrees' source files, not on node counts in a plan string
    val hinted = hintedRelations(Relational.q02RevenueByNation(spark, dir))
    assert(hinted.exists(_.contains("nation")) && hinted.exists(_.contains("region")),
      s"nation+region must keep their broadcast hints, got:\n${hinted.mkString("\n")}")
    assert(hinted.forall(h => h.contains("nation") || h.contains("region")),
      s"a growing table is hint-broadcast:\n${hinted.mkString("\n")}")
  }

  test("t14 probes the benchmark shingles with a semi join") {
    // the corpus side must never materialize matched benchmark rows —
    // LEFT SEMI keeps the probe one-sided at any corpus size
    val plan = TextOps.t14Decontamination(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
  }

  test("t15 scans only the columns the rule battery touches") {
    val plan = TextOps.t15QualityFilter(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("n_chars") && !plan.contains("doc_id"),
      s"documents scan reads untouched columns:\n$plan")
  }

  test("q28 range join is an equi join on the bucket key, never a nested loop") {
    val plan = RangeJoin.q28RangeJoin(spark, dir)
      .queryExecution.executedPlan.toString
    // the whole point of the operator: the interval predicate must ride
    // an equi join keyed on (user_id, __bucket) — a BroadcastNestedLoop
    // (or an equi join on user_id alone) would re-create the per-key
    // cross product the bucketing exists to prevent
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a nested loop:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[user_id[^\\]]*__bucket".r
      .findFirstIn(plan).isDefined,
      s"range join is not keyed on (user_id, __bucket):\n$plan")
  }

  test("d09 keep-first marking is a partial-aggregating equi join on the gram, never a window") {
    val plan = Dedup.d09ExactSubstr(spark, dir).queryExecution.executedPlan.toString
    // the gram-keyed min/count must map-side combine (a hot boilerplate
    // gram ships one partial per partition, not its occurrence list) …
    assert(plan.contains("partial_min"),
      s"keep-first aggregation is not partial: \n$plan")
    // … and the mark-back must be an equi join on the gram so AQE can
    // skew-split it — a per-gram Window would pin each gram to one
    // unsplittable partition
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"d09 fell back to a nested loop:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[gram".r
      .findFirstIn(plan).isDefined,
      s"keep-first mark-back is not an equi join on gram:\n$plan")
    // the only Windows are the per-document island merges
    assert(!"Window \\[[^\\]]*partitionby=\\[gram".r.findFirstIn(plan.toLowerCase).isDefined,
      s"a window partitions by gram:\n$plan")
  }

  test("d09/t21 gram tables come from the single-pass expressions, never substr explosion") {
    // d09 keys grams on gram_hashes' 8-byte rolling hash; t21 tf rows
    // come pre-counted from trigram_counts — neither plan may
    // materialize per-occurrence gram/trigram STRINGS via substring
    val d09 = Dedup.d09ExactSubstr(spark, dir).queryExecution.executedPlan.toString
    assert(d09.contains("gram_hashes"), s"d09 lost the rolling-hash expression:\n$d09")
    assert(!d09.toLowerCase.contains("substring"), s"d09 materializes gram strings:\n$d09")
    // materialize = false keeps the gate's lineage cuts out of the
    // plan (the production checkpoints hide the expression behind a
    // Scan ExistingRDD); the construction code is shared, so the
    // inspected plan can't drift from the gate's
    val t21 = TextOps.t21Build(spark, dir, materialize = false)
      .queryExecution.executedPlan.toString
    assert(t21.contains("trigram_counts"), s"t21 lost the counts expression:\n$t21")
    assert(!t21.toLowerCase.contains("substring"), s"t21 materializes trigram strings:\n$t21")
  }

  test("t20 probes the Bloom filter below the exact semi join") {
    val plan = TextOps.t20BloomDecontam(spark, dir).queryExecution.executedPlan.toString
    val bloomAt = plan.indexOf("bloom_might_contain")
    val joinAt = plan.indexOf("LeftSemi")
    assert(bloomAt >= 0, s"no bloom probe in plan:\n$plan")
    assert(joinAt >= 0, s"no exact semi join in plan:\n$plan")
    // executedPlan prints top-down: the filter must sit BELOW (after)
    // the join so only probable hits are shuffled into it
    assert(bloomAt > joinAt,
      s"bloom probe is not below the semi join:\n$plan")
  }

  test("d11 survivor argmax is a partial aggregate, not a per-cluster window") {
    val plan = Dedup.d11ClusterSurvivors(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"d11 ranks through a window — single-partition-per-cluster shuffle:\n$plan")
  }

  test("t22 vocabulary cut is TakeOrderedAndProject; coverage window sits above it") {
    val plan = TextOps.t22VocabCoverage(spark, dir)
      .queryExecution.executedPlan.toString
    val cutAt = plan.indexOf("TakeOrderedAndProject")
    assert(cutAt >= 0, s"top-k cut lost TakeOrderedAndProject (full vocab sort?):\n$plan")
    // executedPlan prints top-down: the k-row coverage window must sit
    // ABOVE the cut, so it runs over k rows, never the vocabulary
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0 && winAt < cutAt,
      s"coverage window is not above the top-k cut:\n$plan")
  }

  test("s13 stored filtered probe: one scan carries cell PartitionFilters AND the pushed lang predicate") {
    // the filter column is denormalized into the layout, so the probe
    // pays partition pruning and row-group predicate pushdown on the
    // SAME parquet scan — the 100 TB filtered-search story at the plan
    // level
    val tmp = graft.core.TempDirs.create("graft-ivf-filtered-plan")
      .resolve("corpus").toString
    val corpus = Dedup.normalizedVectors(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(org.apache.spark.sql.functions.col("doc_id").as("vec_id"),
          org.apache.spark.sql.functions.col("lang")), "vec_id")
    Similarity.writeIvfLayout(corpus, tmp, k = 8, iters = 3)
    import org.apache.spark.sql.functions.col
    val stored = spark.read.parquet(tmp)
    val queries = stored.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val plan = Similarity.ivfStoredTopK(spark, tmp, queries, k = 5, nProbe = 2,
        where = Some(col("lang") === "en"))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"filtered probe lost its cell PartitionFilters:\n$plan")
    assert("PushedFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
      s"lang predicate not pushed into the probe scan:\n$plan")
  }

  test("s14 PQ stored probe: code scan AND refine scan carry cell PartitionFilters") {
    // the PQ index on disk: the ADC pass reads the nibble-packed code
    // layout pruned to the probed cells, and the exact-refine pass
    // reads the raw-vector sidecar pruned to the SAME cells — both
    // scans partition-pruned, neither ever a full-layout read
    import org.apache.spark.sql.functions.col
    val tmp = graft.core.TempDirs.create("graft-ivfpq-plan")
      .resolve("corpus").toString
    Similarity.writeIvfPqLayout(Dedup.normalizedVectors(spark, dir), tmp, k = 8, iters = 3)
    // one query vector as a LOCAL frame, so the only scans in the plan
    // are the probe's own code + refine scans (the s09 test's trick)
    val one = spark.read.parquet(s"$tmp/_refine").orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("v"), col("norm")).collect().head
    val spark2 = spark
    import spark2.implicits._
    val queries = Seq((one.getLong(0), one.getSeq[Double](1), one.getDouble(2)))
      .toDF("query_id", "qv", "qnorm")
    val plan = Similarity.ivfPqStoredTopK(spark, tmp, queries, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("corpus")).toList
    val (refineScans, codeScans) = scans.partition(_.contains("_refine"))
    assert(codeScans.length == 1,
      s"expected exactly one code scan, got ${codeScans.length}:\n$plan")
    assert(refineScans.length == 1,
      s"expected exactly one refine scan, got ${refineScans.length}:\n$plan")
    for ((scan, label) <- Seq((codeScans.head, "code"), (refineScans.head, "refine")))
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
        s"$label scan lost its cell PartitionFilters:\n$scan")
    // the hot index reads codes, never raw vectors: the code scan's
    // schema must not contain the vector column
    assert("ReadSchema: [^\\n]*code".r.findFirstIn(codeScans.head).isDefined &&
        !codeScans.head.matches("(?s).*ReadSchema: [^\\n]*\\bv\\b.*"),
      s"code scan must read codes only, not raw vectors:\n${codeScans.head}")
  }

  test("t26 gram cut is TakeOrderedAndProject over partial aggregates; no count-distinct shuffle") {
    val plan = TextOps.t26TopkNgrams(spark, dir)
      .queryExecution.executedPlan.toString
    val cutAt = plan.indexOf("TakeOrderedAndProject")
    assert(cutAt >= 0, s"top-k cut lost TakeOrderedAndProject (full gram-table sort?):\n$plan")
    val winAt = plan.indexOf("Window")
    assert(winAt >= 0 && winAt < cutAt,
      s"rank window is not above the top-k cut:\n$plan")
    // doc_freq must come from the two-stage (doc,gram)→gram aggregate,
    // never a corpus-wide count(DISTINCT doc_id) expand
    assert(!plan.contains("Expand"), s"count-distinct expand crept in:\n$plan")
  }

  test("st12 anomaly rollup: profile side is hint-broadcast, scoring adds no extra shuffle") {
    // batch twin of the streaming frame — same plan shape the stream
    // runs per microbatch: one broadcast probe + one bounded aggregate
    val df = graft.streaming.EventStream.anomalyRollup(
      Tables.events(spark, dir),
      graft.streaming.EventStream.eventStats(spark, dir), 2.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("broadcasthashjoin"),
      s"profile join is not broadcast:\n$plan")
    // events-side scoring must not shuffle below the rollup aggregate:
    // exchanges = profile fit (1) + rollup (1) + broadcast distribution
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 3, s"scoring path gained a shuffle, got $exchanges:\n$plan")
  }

  test("p01 exact dedup is a partial aggregate, never a window over fp") {
    // the curation pipeline's exact tier must share t06's min_by
    // groupBy shape: map-side combine on the fingerprint, no
    // row_number window shuffling full rows into per-fp partitions
    val plan = Pipeline.p01CurationPipeline(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"p01 dedups through a window over fp:\n$plan")
    assert(plan.contains("min_by") || plan.contains("ObjectHashAggregate"),
      s"p01 lost the min_by partial aggregate:\n$plan")
  }

  test("s08 k-means gate is one narrow assignment pass — no join, no window") {
    // assignment is a centroid-literal map; the gate plan must be
    // scan → project → partial agg → exchange → final agg, nothing else
    val plan = Similarity.s08KmeansClusters(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"s08 gained a join:\n$plan")
    assert(!plan.contains("Window"), s"s08 gained a window:\n$plan")
    spark.catalog.clearCache()
  }

  test("semdedup within-cluster pairs ride an equi join on cell, never a nested loop") {
    // the end-to-end curate() plan hides this join (the hybrid CC
    // collects the output-sized pair list eagerly), so assert on the
    // pair stage itself
    val (assigned, _, _) =
      Similarity.kmeansFit(Dedup.normalizedVectors(spark, dir), k = 8, iters = 2)
    val plan = Pipeline.semdedupPairs(assigned, 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"semdedup pair generation is a cross product:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(plan).isDefined,
      s"semdedup pairs are not keyed on the cluster id:\n$plan")
    spark.catalog.clearCache()
  }

  test("d07/t16 broadcast hints are all cardinality-bounded (never a raw corpus scan)") {
    // hyperplane literals (d07) and per-lang aggregates (t16) may be
    // hinted; a hint directly on a parquet relation would be a
    // corpus-sized broadcast waiting to OOM the driver at scale
    (hintedRelations(Dedup.d07EmbeddingLshPairs(spark, dir)) ++
      hintedRelations(TextOps.t16MixtureSample(spark, dir))).foreach { h =>
      assert(!h.contains("Relation") || h.contains("Aggregate") || h.contains("LocalRelation"),
        s"hinted subtree looks corpus-sized:\n$h")
    }
  }

  test("t25 scores with vocab-bounded aggregates — no window, no global sort below the output") {
    // DSIR selection is a LOCAL zero-threshold predicate; a top-N% cut
    // would need a corpus-wide sort or quantile window. The ratio join
    // is left unhinted so AQE broadcasts the vocab side only when it
    // actually fits.
    val df = TextOps.t25DsirWeights(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"t25 gained a window:\n$plan")
    assert(hintedRelations(df).isEmpty, "t25 hints a growing side")
  }

  test("p04 scoring broadcasts only the bounded query set; windows are candidate-sized") {
    // the passage corpus must never be the broadcast side; the dedup
    // and ranking windows partition by query_id (bounded by the query
    // set), never by anything corpus-sized
    val df = Rag.p04RagRetrieval(spark, dir)
    hintedRelations(df).foreach { h =>
      assert(h.contains("vec_id") && !h.contains("documents"),
        s"hinted subtree is not the query set:\n$h")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"p04 scoring degenerated to a cartesian product:\n$plan")
  }

  test("m06 video pair generation is an equi join on the fingerprint, never a nested loop") {
    val fh = Multimodal.videoFrameHashes(Multimodal.syntheticVideos(spark, dir))
    val plan = Multimodal.videoDupPairs(fh)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"m06 pair generation is a cross product:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[fhash".r
      .findFirstIn(plan).isDefined,
      s"m06 pairs are not keyed on the fingerprint:\n$plan")
  }

  test("t28 feature pass is narrow and each training iteration is one aggregate job") {
    // the gradient reduce must be a plain aggregate over the feature
    // scan — a join or window in this plan would multiply per-iteration
    // cost at scale
    val plan = QualityModel.features(spark, dir)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"t28 features gained a join:\n$plan")
    assert(!plan.contains("Window"), s"t28 features gained a window:\n$plan")
  }

  test("q33 double-correlated EXISTS/NOT EXISTS decorrelates to keyed joins") {
    val plan = Relational.q33SoleFailedSupplier(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"correlation survived as a nested loop:\n$plan")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"EXISTS/NOT EXISTS not rewritten to semi/anti joins:\n$plan")
  }

  test("s15 moment pass is ONE aggregate scan: no join, no window, no explode") {
    // the whole point of the mergeable moments buffer — a Generate
    // (posexplode of the outer product) or a join here would multiply
    // the corpus by d² before the exchange
    import graft.functions.VectorMoments.vector_moments
    val qe = Dedup.normalizedVectors(spark, dir)
      .agg(vector_moments(org.apache.spark.sql.functions.col("v")))
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"s15 moments gained a join:\n$plan")
    assert(!plan.contains("Generate"), s"s15 moments explodes the vector:\n$plan")
    assert(!plan.contains("Window"), s"s15 moments gained a window:\n$plan")
    // exactly the partial->final aggregate exchange, nothing else
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"s15 moments gained a shuffle:\n$plan")
  }

  test("s15 projection is a narrow map over the corpus (no shuffle, no join)") {
    val vecs = Dedup.normalizedVectors(spark, dir)
    val m = Pca.fit(vecs, 4)
    val plan = m.project(vecs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.toLowerCase.contains("join"),
      s"s15 projection is not a narrow map:\n$plan")
  }

  test("s16 greedy stage shuffles candidates, never the corpus") {
    // the MMR plan may shuffle the n-bounded candidate lists into
    // per-query groups, but the corpus-side candidate generation must
    // stay the bounded map-side top-k (no corpus-wide window, no
    // cartesian)
    val plan = Similarity.s16MmrRerank(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("vec_id#"), // the corpus×query scorer is an inequality join by design
      s"unexpected cross product:\n$plan")
    assert(!plan.contains("Window"), s"s16 gained a corpus-wide window:\n$plan")
  }

  test("kNN pruned admission: survivors join admitted pairs as an equi hash join ON CELL") {
    // the pruned tier's whole point is replacing the exact tier's
    // survivors × newVecs nested loop (N·|diff| pair work) with a
    // broadcast EQUI join on the cell key, bounded by the admitted
    // (cell, new-vector) pairs — pin the join shape so a refactor
    // can't silently fall back to the corpus-wide nested loop for
    // the full-list rows (the short-list semi join is allowed to be
    // a bounded nested loop: its probe side is one row)
    val a = Dedup.normalizedVectors(spark, dir)
    val b = Graph.vectorSnapshotB(a)
    // materialize = false: the production path's leak-free checkpoint
    // discipline cuts lineage, which would hide the join behind a
    // Scan ExistingRDD — the lazy twin shares the construction code
    val plan = Graph.knnRecomputeIds(a, Similarity.s05KnnGraph(spark, dir), b,
        Graph.g07DirtyOld(a), Graph.g07NewIds(b),
        cents = Some(Similarity.ivfCentroids(spark, dir)), admission = "pruned",
        materialize = false)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[cell".r.findFirstIn(plan).isDefined,
      s"pruned admission lost its cell equi join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pruned admission gained a cross product:\n$plan")
  }

  test("segmented-store live view: the tombstone anti-join is broadcast, keyed on the store key") {
    // the between-compactions read-amp story (g07/g08/p13/p14/p15/
    // st26): tombstones are diff-bounded, so the live view's anti-join
    // must BROADCAST them against the stored scan — a sort-merge here
    // would shuffle the full layout just to subtract a diff
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val out = graft.core.TempDirs.create("graft-live-plan").resolve("edges").toString
    graft.core.SegmentedIndex.appendSegment(
      (1L to 50L).map(i => (i, i % 7)).toDF("id", "payload"), out, gen = 0L)
    graft.core.SegmentedIndex.tombstone(Seq(1L, 2L, 3L).toDF("id"), out, "id",
      uptoGen = 0L)
    val plan = graft.core.SegmentedIndex.live(spark,
        spark.read.parquet(out), out, keyCol = "id", genCol = "gen")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[id".r.findFirstIn(plan).isDefined &&
        plan.contains("LeftAnti"),
      s"live view lost its broadcast anti-join on the key:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"tombstone subtraction shuffles the layout:\n$plan")
  }

  test("m13 newest-per-key resolution is ONE exchange + ONE window") {
    // the append-log family's read path: resolveNewest must cost
    // exactly one hash-partition exchange feeding one window — a
    // second exchange (or a join) here multiplies every log read
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val log = graft.core.TempDirs.create("graft-resolve-plan").resolve("log").toString
    (1L to 40L).map(i => (i % 10, i, if (i % 9 == 0) "rm" else "put", i * 31))
      .toDF("doc_id", "gen", "op", "ahash").write.parquet(log)
    val plan = graft.core.SegmentedIndex.resolveNewest(
        spark.read.parquet(log), "doc_id", "gen", "op")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"newest-per-key resolution gained a shuffle:\n$plan")
    assert("Window \\[".r.findAllIn(plan).length == 1,
      s"expected exactly the one resolution window:\n$plan")
    // and the rank-1 cut must pre-reduce MAP-SIDE (WindowGroupLimit
    // Partial below the exchange): only each partition's newest row
    // per key ships, never the whole log
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"resolution lost its map-side group-limit pre-reduction:\n$plan")
    assert(!plan.toLowerCase.contains("join"),
      s"resolution gained a join:\n$plan")
  }

  test("m07 alignment is one scan + one equi join, no shuffle beyond agg-free sort") {
    val plan = Multimodal.m07ClipAlign(spark, dir)
      .queryExecution.executedPlan.toString
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findFirstIn(plan).isDefined,
      s"m07 lost its equi join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"m07 pair table is a cross product:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Generate"),
      s"m07 gained a window/explode:\n$plan")
  }
}

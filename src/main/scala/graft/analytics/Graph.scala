package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ParquetRows

/** Graph centrality over the corpus similarity graph — the
  * representativeness signal behind coreset selection and
  * graph-based quality propagation (a document whose neighborhood
  * keeps pointing back at it is central to its region of embedding
  * space; isolated or peripheral documents score low).
  *
  * PageRank as iterated DataFrame joins (Pregel-lite):
  *  - edges = the kNN graph (the exact s05 tier here; the s06 IVF
  *    tier is the same swap every similarity gate makes at 100 TB),
  *    out-degree joined ON once — kNN edges give every node
  *    out-degree k, no dangling mass;
  *  - each iteration is ONE shuffle: contributions r/deg flow along
  *    edges, in-contributions aggregate per node, ranks update as
  *    (1−d)/n + d·Σ. The rank state is one (id, r) row per node,
  *    `localCheckpoint`ed eagerly every iteration (the BPE rule:
  *    materialize AND truncate lineage so iteration k never replans
  *    its k predecessors).
  *
  * Determinism without decimals: per-node in-contributions are
  * collected, SORTED, then folded — `aggregate(array_sort(...))` —
  * so the double sum has ONE order whatever the partitioning or
  * merge schedule. The collected list is bounded by in-degree, and
  * that bound is ENFORCED: [[pagerank]] measures max in-degree once
  * up front and refuses graphs past [[Graph.MaxFoldInDegree]] (a kNN
  * graph keeps in-degree near k; a celebrity hub past the bound needs
  * a two-level sorted merge, and failing loudly beats OOMing an
  * executor mid-iteration). The update arithmetic is then pure IEEE
  * on identical inputs — which is what lets Verify demand EXACT
  * parity with a single-node power iteration over the same edge list
  * (`g01_parity_singlenode`). */
object Graph {

  val Damping = 0.85
  val Iters = 10
  val TopN = 25

  /** Lineage-truncation cadence: checkpointing EVERY iteration costs
    * one materializing job each (10 jobs of 3 stages — measured
    * overhead-dominated at test scale); letting several iterations
    * chain into one multi-stage job amortizes scheduling while the
    * periodic cut still keeps plan depth bounded (the BPE rule,
    * relaxed to a cadence because each level here adds a constant
    * handful of operators, not a vocab recompute). */
  private val CheckpointEvery = 5

  /** Beyond this seed-set size, seed membership is a broadcast join
    * against a seed frame instead of literal `isin` predicates — a
    * thousand-literal `In` bloats every iteration's plan (and its
    * codegen) linearly in |seeds|, while the broadcast flag column is
    * O(1) plan size at any seed count. Below it, literals stay cheaper
    * (no join at all). */
  private[analytics] val SeedLiteralMax = 256

  /** Seed-membership flag (1.0 / 0.0) on `idCol`: literal `isin` for
    * small seed sets, broadcast left-join above [[SeedLiteralMax]]. */
  private def withSeedFlag(df: DataFrame, idCol: String,
                           seeds: Seq[Long], flagName: String): DataFrame =
    if (seeds.length <= SeedLiteralMax)
      df.withColumn(flagName,
        when(col(idCol).isin(seeds: _*), lit(1.0)).otherwise(lit(0.0)))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val sf = broadcast(seeds.toDF(idCol).withColumn("_seed1", lit(1.0)))
      df.join(sf, Seq(idCol), "left")
        .withColumn(flagName, coalesce(col("_seed1"), lit(0.0)))
        .drop("_seed1")
    }

  /** Enforced ceiling on the per-node sorted fold: in-contributions
    * are collected into ONE array per node, so a hub's in-degree is a
    * real memory bound (16 B/entry → ~1.6 MB at the limit), not a
    * worst-case footnote. kNN construction keeps in-degree near k in
    * practice; a graph that trips this needs a two-level sorted-merge
    * (per-partition sorted partials, then a sorted merge of partials)
    * before PageRank — fail loudly rather than OOM an executor. */
  val MaxFoldInDegree = 100000L

  /** One PageRank power iteration step's rank table, after `iters`
    * rounds over the given (src, dst) edges. `seeds` personalizes the
    * teleport: mass restarts uniformly over the seed set instead of
    * all nodes (PPR — the graph-augmented-retrieval move: scores
    * concentrate in the seeds' neighborhood). The teleport vector is a
    * 1.0/0.0 seed flag carried on the node frame ([[withSeedFlag]] —
    * literals when small, broadcast join when large) times a scalar,
    * so the per-iteration arithmetic is IDENTICAL either way
    * (1.0·x = x, 0.0·x = 0.0 exactly) and single-node parity is
    * representation-independent. */
  private[analytics] def pagerank(edges: DataFrame, iters: Int = Iters,
                                  damping: Double = Damping,
                                  seeds: Option[Seq[Long]] = None): DataFrame = {
    // Iteration-co-partitioning note (guide §2.2, the r17 deferred
    // plan): pre-pinning edges to hash(src) and nodes to hash(id) was
    // built and MEASURED in r18 — it does not pay here. Under AQE the
    // checkpoint boundary erases the carried partitioning
    // (AdaptiveSparkPlanExec reports UnknownPartitioning, so the
    // LogicalRDD the next query sees has none), while at RUNTIME the
    // repeated per-iteration exchanges of the checkpointed node/edge
    // tables are canonically identical and AQE's exchange reuse
    // already dedupes them into one shuffle each — the explicit
    // repartitions only added two real exchanges of their own
    // (g01 warm in-job 1.15 s → 1.97 s, jobs 37 → 37). The one
    // exchange per iteration that remains live is the in-contribution
    // aggregation — fundamental mass movement along edges.
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(outDeg, "src").localCheckpoint(true)
    // max over zero groups is one row holding null — an empty edge
    // set must keep returning an empty rank frame, not NPE here
    val maxInRow = withDeg.groupBy("dst").agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("m")).first()
    val maxIn = if (maxInRow.isNullAt(0)) 0L else maxInRow.getLong(0)
    require(maxIn <= MaxFoldInDegree,
      s"max in-degree $maxIn exceeds the sorted-fold bound $MaxFoldInDegree — " +
        "use a two-level sorted merge for hub nodes")
    val nodes0 = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    val nodes = seeds.fold(nodes0.withColumn("tw", lit(1.0)))(s =>
      withSeedFlag(nodes0, "id", s, "tw")).localCheckpoint(true)
    val n = nodes.count()
    val denom = seeds.fold(n)(_.length.toLong)
    def teleport(of: Double) = col("tw") * lit(of / denom)
    val base = teleport(1.0 - damping)
    var ranks = nodes.select(col("id"), teleport(1.0).as("r"))
    var lastCut: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contribs = withDeg.join(ranks, col("src") === col("id")).drop("id")
        .select(col("dst").as("id"), (col("r") / col("deg")).as("c"))
      val inSum = contribs.groupBy("id").agg(
        expr("aggregate(array_sort(collect_list(c)), cast(0.0 as double), (acc, x) -> acc + x)")
          .as("csum"))
      ranks = nodes.join(inSum, Seq("id"), "left")
        .select(col("id"),
          (base + lit(damping) * coalesce(col("csum"), lit(0.0))).as("r"))
      if (i % CheckpointEvery == 0 && i < iters) {
        val cut = ranks.localCheckpoint(true)
        lastCut.foreach(_.unpersist())
        lastCut = Some(cut)
        ranks = cut
      }
    }
    ranks
  }

  /** Single-node reference with bit-identical arithmetic: same sorted
    * fold, same update expression — the parity oracle. */
  private[graft] def referencePagerank(edges: Seq[(Long, Long)], iters: Int = Iters,
                                       damping: Double = Damping,
                                       seeds: Option[Seq[Long]] = None): Map[Long, Double] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.length
    val seedSet = seeds.map(_.toSet)
    def teleport(of: Double)(id: Long): Double = seedSet match {
      case Some(s) => if (s(id)) of / s.size else 0.0
      case None => of / n
    }
    var r = nodes.map(id => id -> teleport(1.0)(id)).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        val cs = es.map { case (src, _) => r(src) / deg(src) }.sorted
        dst -> cs.foldLeft(0.0)(_ + _)
      }
      r = nodes.map(id =>
        id -> (teleport(1.0 - damping)(id) + damping * in.getOrElse(id, 0.0))).toMap
    }
    r
  }

  /** g01 gate: PageRank over the exact kNN similarity graph (k = 5),
    * top-[[TopN]] most central vectors. Rows-only (iterated graph
    * algebra isn't SQL); Verify re-runs the single-node reference over
    * the dumped s05 edge list and requires exact equality. */
  def g01KnnPagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.knnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    pagerank(edges)
      .select(col("id").as("vec_id"), Det.dround(col("r"), 8).as("rank"))
      .orderBy(col("rank").desc, col("vec_id").asc)
      .limit(TopN)
  }

  /** g02 gate: personalized PageRank from the retrieval query set —
    * the graph-augmented-retrieval move (GraphRAG-style): teleport
    * mass restarts at the query vectors, so high scores mark the
    * queries' JOINT graph neighborhood (documents reachable from many
    * queries through strong similarity paths), surfacing context the
    * per-query top-k lists miss. Same iteration engine and exact
    * single-node parity as g01; the seed set is the (bounded) s01
    * query rule. Output marks seeds so consumers can drop them. */
  def g02PprRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 100 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val edges = Similarity.knnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    withSeedFlag(pagerank(edges, seeds = Some(seeds)), "id", seeds, "sf")
      .select(col("id").as("vec_id"), Det.dround(col("r"), 8).as("rank"),
        col("sf").cast("long").as("is_seed"))
      .orderBy(col("rank").desc, col("vec_id").asc)
      .limit(TopN)
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected edge set, by DEGREE-ORDERED wedge closure — the scan
    * discipline that makes triangle counting survive skew: every edge
    * is oriented from its lower-(degree, id) endpoint to the higher,
    * so wedge generation fans out from each node's LOWER-degree
    * incidences only (max fanout O(√|E|) per node instead of deg² at
    * hubs), and each triangle is generated exactly once. Two shuffles:
    * the wedge self-join on the pivot and the closure semi join on the
    * oriented edge set.
    *
    * Input `edges` may be directed (a kNN graph is); it is
    * symmetrized and de-duplicated here. */
  /** Canonical undirected edge set from a (src, dst) frame: endpoints
    * ordered (a < b), self-loops dropped, duplicates (including the
    * reverse orientation) collapsed — shared by every operator that
    * treats the directed kNN graph as undirected. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  private[analytics] def triangleCoeff(edges: DataFrame): DataFrame = {
    val und = undirected(edges).localCheckpoint(true)
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): u -> v iff (deg(u), u) < (deg(v), v)
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).localCheckpoint(true)
    // wedges at the pivot u: arm pair (v, w) keyed v < w by id, so each
    // unordered pair appears once; the closing edge {v, w} is oriented
    // by (deg, id) — not necessarily by id — so the semi join probes
    // both orientations
    val wedges = oriented.as("x").join(oriented.as("y"), col("x.u") === col("y.u"))
      .filter(col("x.v") < col("y.v"))
      .select(col("x.u").as("t1"), col("x.v").as("t2"), col("y.v").as("t3"))
    val closedBoth = wedges.join(
        oriented.select(col("u").as("t2"), col("v").as("t3"))
          .union(oriented.select(col("v").as("t2"), col("u").as("t3"))),
        Seq("t2", "t3"), "left_semi")
    val perNode = closedBoth.select(explode(array(col("t1"), col("t2"), col("t3"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff",
        when(col("deg") < 2, lit(0.0))
          .otherwise(Det.dround(col("n_tri") * 2.0 / (col("deg") * (col("deg") - 1L)), 6)))
  }

  /** Single-node twin: same symmetrization, same counting rule. */
  private[graft] def referenceClusteringCoeff(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] = {
    val und = edges.flatMap { case (a, b) => if (a == b) Nil else Seq((a min b, a max b)) }.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    adj.map { case (id, ns) =>
      val deg = ns.size.toLong
      val tri = ns.toSeq.map(v => ns.count(w => v < w && adj(v)(w))).sum.toLong
      val coeff = if (deg < 2) 0.0 else Det.droundD(tri * 2.0 / (deg * (deg - 1)), 6)
      id -> (deg, tri, coeff)
    }
  }

  /** g03 gate: local clustering coefficient over the kNN similarity
    * graph, top-[[TopN]] most clustered vectors — the cohesion signal
    * (a node whose neighbors all know each other sits inside a tight
    * semantic cluster; a hub bridging unrelated regions scores low).
    * Rows-only (wedge closure isn't reasonable SQL); Verify re-counts
    * on the dumped s05 edge list single-node and demands exact
    * equality (`g03_parity_singlenode`). */
  def g03ClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.knnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    triangleCoeff(edges)
      .select(col("id").as("vec_id"), col("deg"), col("n_tri"), col("coeff"))
      .orderBy(col("coeff").desc, col("vec_id").asc)
      .limit(TopN)
  }

  val CoreK = 4

  /** The k-core: iteratively peel nodes of degree < k until fixpoint —
    * the densest stable backbone of the similarity graph (a document
    * in the 4-core has ≥4 neighbors that EACH keep ≥4 neighbors inside
    * the core: the dense-region signal coreset selection and
    * graph-quality propagation want, robust where raw degree is not).
    * Each round is two bounded shuffles (degree count + edge semi
    * join), rounds are `localCheckpoint`ed so round r never replans
    * rounds 1..r−1, and the loop's only driver state is one count per
    * round. Round count is the peeling depth — worst-case O(N) on a
    * path, small on similarity graphs (≤5 at every tested SF; the
    * bound is logged by the spec). */
  private[analytics] def kCore(edges: DataFrame, k: Int): DataFrame = {
    def degrees(und: DataFrame) =
      und.select(col("a").as("id")).union(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    var und = undirected(edges).localCheckpoint(true)
    var nEdges = und.count()
    var changed = nEdges > 0
    while (changed) {
      val keep = degrees(und).filter(col("deg") >= k)
        .select("id").localCheckpoint(true)
      val prev = und
      und = und.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .localCheckpoint(true)
      val n = und.count()
      changed = n != nEdges
      nEdges = n
      prev.unpersist()
      keep.unpersist()
    }
    degrees(und)
  }

  /** Single-node twin: same peeling rule. */
  private[graft] def referenceKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a min b, a max b)) }.distinct
    var changed = und.nonEmpty
    while (changed) {
      val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
        .view.mapValues(_.size).toMap
      val next = und.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      changed = next.size != und.size
      und = next
    }
    (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .map { case (id, xs) => id -> xs.size.toLong }
  }

  /** g04 gate: the [[CoreK]]-core of the kNN similarity graph —
    * top-[[TopN]] core members by in-core degree. Rows-only; Verify
    * re-peels the dumped s05 edges single-node and demands exact
    * equality (`g04_parity_singlenode`). */
  def g04KCore(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.knnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    kCore(edges, CoreK)
      .select(col("id").as("vec_id"), col("deg").as("core_deg"))
      .orderBy(col("core_deg").desc, col("vec_id").asc)
      .limit(TopN)
  }

  val LpaIters = 10

  /** Synchronous label propagation — community detection over the
    * similarity graph: every node starts as its own label; each round,
    * every node adopts its neighborhood's MOST FREQUENT label
    * simultaneously (ties break to the smallest label, so the update
    * is a pure function of the previous round — deterministic under
    * any partitioning, unlike asynchronous LPA whose result depends
    * on visit order). Fixed [[LpaIters]] rounds (sync LPA can
    * oscillate on bipartite structures; a fixed horizon makes the
    * output well-defined and lets Verify demand exact single-node
    * parity). Each round is two bounded shuffles: neighbor-label
    * counts keyed (node, label) — cardinality ≤ Σdeg — and the
    * per-node argmax as a partial aggregate `max(struct(cnt, -label))`,
    * never a per-node window. */
  private[analytics] def labelPropagation(edges: DataFrame, iters: Int = LpaIters): DataFrame = {
    // (pre-pinning sym/nodes partitioning was measured in r18 and does
    // not pay — see the [[pagerank]] co-partitioning note: checkpoints
    // erase partitioning under AQE and runtime exchange reuse already
    // dedupes the repeated identical exchanges)
    val und = undirected(edges)
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    val nodes = sym.select(col("u").as("id")).distinct().localCheckpoint(true)
    var labels = nodes.select(col("id"), col("id").as("label"))
    var lastCut: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // ONE aggregation for the round's update: `mode(label,
      // deterministic = true)` IS "most frequent label, ties to the
      // smallest" — the r17 shape spelled the same argmax as
      // count-per-(node, label) THEN max(struct(cnt, −label)), paying
      // a second exchange per round for the intermediate keying
      val next = sym.join(labels, sym("v") === labels("id"))
        .groupBy(col("u"))
        .agg(mode(col("label"), deterministic = true).as("label"))
        .select(col("u").as("id"), col("label"))
      // isolated nodes (none in a kNN graph, but the operator should
      // not lose them) keep their label
      labels = nodes.join(next, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      if (i % 5 == 0 && i < iters) {
        val cut = labels.localCheckpoint(true)
        lastCut.foreach(_.unpersist())
        lastCut = Some(cut)
        labels = cut
      }
    }
    labels
  }

  /** Single-node twin: same synchronous update, same tie-break. */
  private[graft] def referenceLabelPropagation(edges: Seq[(Long, Long)],
                                               iters: Int = LpaIters): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) =>
      if (a == b) Nil else Seq((a min b, a max b)) }.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet
    var labels = nodes.map(id => id -> id).toMap
    for (_ <- 1 to iters) {
      labels = nodes.map { id =>
        val counts = adj(id).groupBy(labels).view.mapValues(_.size).toMap
        val bestCnt = counts.values.max
        id -> counts.filter(_._2 == bestCnt).keys.min
      }.toMap
    }
    labels
  }

  /** Edge threshold for g05: LPA over the RAW kNN graph collapses to
    * one giant community (a connected small-world graph has no
    * boundaries for labels to stop at — measured at every SF); the
    * similarity threshold keeps only strong edges, so the graph
    * fragments along real semantic boundaries and the communities
    * mean something. cos_sim is the gate's 4-decimal rounded score,
    * so the edge set is identical cross-engine. */
  val LpaCosMin = 0.33

  /** g05 gate: the top-[[TopN]] communities by size after [[LpaIters]]
    * synchronous LPA rounds over the THRESHOLDED similarity graph —
    * community id (the converged label), member count, and smallest
    * member. Rows-only; Verify re-runs the single-node twin on the
    * dumped s05 edges (same threshold) and demands exact equality
    * (`g05_parity_singlenode`). */
  def g05LpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.knnEdges(spark, dir)
      .filter(col("cos_sim") >= LpaCosMin)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    labelPropagation(edges)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_member"))
      .orderBy(col("n_members").desc, col("community").asc)
      .limit(TopN)
  }

  /** Blend weight for [[g06QualityPropagation]]: how much of a node's
    * score is its own vs its neighborhood's mean. */
  val PropAlpha = 0.5

  /** g06 gate: graph-based QUALITY PROPAGATION — smooth each
    * document's quality signal over the similarity graph (two rounds
    * of score' = α·own + (1−α)·mean(kNN out-neighbors)): a low-scoring
    * doc inside a high-quality semantic region is rescued, an outlier
    * coasting on surface features is pulled down — the label-smoothing
    * move graph-based curation uses on top of pointwise scores.
    *
    * Per-round arithmetic is cross-engine exact: the raw score (TTR,
    * 4-decimal grid) and each round's output live on the 4-decimal
    * grid, neighbor means sum as EXACT decimals before one double
    * division, and the blend is fixed-operand-order IEEE — so this is
    * a fully ORACLE-CHECKED graph gate (the kNN edge set is s05's,
    * itself SQL-expressible). Docs without vectors keep their raw
    * score (left join + coalesce). Scale shape: two join+aggregate
    * rounds over the shared kNN edge ARTIFACT ([[Similarity
    * .knnEdges]]) — edge-linear, no new graph build. */
  def g06QualityPropagation(spark: SparkSession, dir: String): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val q0 = Tables.documents(spark, dir)
      .select(col("doc_id"),
        Det.dround(size(array_distinct(t)).cast("double") / size(t), 4).as("q"))
      .localCheckpoint(true)
    val edges = Similarity.knnEdges(spark, dir)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    def smooth(q: DataFrame): DataFrame = {
      val nbr = edges.join(q.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg((sum(col("q").cast("decimal(18,4)")).cast("double") / count(lit(1)))
          .as("nbr_avg"))
      q.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          Det.dround(lit(PropAlpha) * col("q") +
            lit(1.0 - PropAlpha) * coalesce(col("nbr_avg"), col("q")), 4).as("q"))
    }
    val q2 = smooth(smooth(q0))
    q0.withColumnRenamed("q", "q_raw")
      .join(q2.withColumnRenamed("q", "q_prop"), "doc_id")
      .orderBy(col("q_prop").desc, col("doc_id").asc)
      .limit(TopN)
      .select(col("doc_id"), col("q_raw"), col("q_prop"))
      .orderBy(col("q_prop").desc, col("doc_id").asc)
  }

  // ---- g07: incremental kNN-edge maintenance under CDC ----

  /** Derived vector snapshot B — the d14 CDC convention moved to the
    * embedding corpus: `vec_id % 10 == 7` deleted, `% 10 == 3`
    * re-embedded (vector rotated one position: deterministic,
    * norm-preserving, and it genuinely MOVES in cosine space), and one
    * new vector `-(vec_id+1)` per `% 10 == 0` row (rotation by two).
    * Input/output shape is [[Dedup.normalizedVectors]]'s
    * (vec_id, v, norm). */
  private[analytics] def vectorSnapshotB(a: DataFrame): DataFrame = {
    def rot(shift: Int) = expr(
      s"transform(sequence(1, size(v)), k -> v[(k - 1 + $shift) % size(v)])")
    a.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 3)
      .select(col("vec_id"), col("v"), col("norm"))
      .unionByName(a.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), rot(1).as("v"), col("norm")))
      .unionByName(a.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") * -1 - 1).as("vec_id"), rot(2).as("v"), col("norm")))
  }

  /** Exact top-k neighbor lists for a SUBSET of query rows against the
    * full corpus — |queries|·N pair work, the diff-bounded recompute
    * primitive (never the N² self-join). */
  private def knnForQueries(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val scored = queries
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Det.dround(array_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 4)
          .as("cos_sim"))
    Similarity.rankTopK(scored, k).withColumnRenamed("query_id", "vec_id")
  }

  /** g07 gate: INCREMENTAL maintenance of the kNN-edge artifact under
    * a CDC diff — the graph-family twin of p08's index loop. Starting
    * from snapshot A's stored edges ([[Similarity.knnEdges]]), apply
    * [[vectorSnapshotB]]'s diff by recomputing ONLY the rows the diff
    * can touch:
    *
    *  1. rows whose list references a deleted/changed neighbor (their
    *     list loses or moves a member);
    *  2. surviving rows some new/changed vector scores AT OR ABOVE
    *     their current 5th-best rounded similarity (the only way a
    *     new vector can enter a list; ties recompute conservatively
    *     because the id tie-break could go either way);
    *  3. the new/changed vectors themselves (fresh lists).
    *
    * Everything else keeps its stored edges verbatim — vectors on both
    * ends are unchanged and no admissible candidate appeared, so the
    * rebuilt list is provably identical. Verify pins the contract as
    * `g07_eq_fullrebuild`: this union must EQUAL a from-scratch exact
    * rebuild over snapshot B, row for row.
    *
    * Scale shape: admission scoring is one corpus scan against the
    * BROADCAST diff (N·|diff| pair work); the recompute is
    * |touched|·N — cost ∝ diff size, never the N² rebuild. (This
    * fixture's diff deliberately touches 30 % of ids, so ~2/3 of
    * lists recompute here; a production 0.1 % diff touches ~0.5 % of
    * lists.) Rows-only gate (k-NN has a SQL oracle but the point is
    * the maintenance path; equality to the rebuilt twin IS the check). */
  def g07IncrementalKnn(spark: SparkSession, dir: String): DataFrame = {
    val a = Dedup.normalizedVectors(spark, dir)
    val b = vectorSnapshotB(a)
    // The artifact is a g07-OWNED SEGMENTED layout (never the shared
    // snapshot-A `knnEdges` — g01–g05/p06's oracles and parity twins
    // are pinned to it), seeded once per (JVM, dataset) with snapshot
    // A's edges as generation 0. Each application writes O(|touched|·k)
    // rows — a gen-scoped tombstone for every list the diff touches
    // plus the recomputed lists as a fresh segment — instead of
    // rewriting the 5N-row artifact (the r12 verdict's one weak plan);
    // a policy-driven compaction folds tombstones physically once they
    // cover half the stored rows. Re-applying the same diff is
    // IDEMPOTENT in the live view: the higher-generation re-append
    // supersedes the prior epoch's rows via the gen-scoped tombstones.
    val store = g07StoreDir(spark, dir)
    // single-maintainer within the JVM (parallel spec suites): the
    // tombstone/append/compact sequence and the gate's own read-back
    // serialize per store; the read-back materializes eagerly (5N
    // rows) so no lazy scan can straddle a later application
    g07Lock.synchronized {
      // RESET to the snapshot-A seed first: the gate models ONE
      // nightly application (yesterday's artifact + tonight's diff),
      // and the fixture diff is the same every invocation — letting
      // generations/tombstones pile up across invocations made pass
      // N's state leak into pass N+1's timing (the r13 verdict's
      // cross-pass confounder) without modeling anything real. The
      // seed re-copy is one bounded file copy of the memoized
      // snapshot-A edges; genuine multi-epoch accumulation (distinct
      // successive diffs, policy compaction firing mid-chain) is
      // g08's gate, not this one's.
      val root = java.nio.file.Paths.get(store)
      graft.core.DirSwap.deleteTree(root)
      graft.core.DirSwap.copyTree(
        java.nio.file.Paths.get(Similarity.knnEdgesPath(spark, dir)),
        root.resolve("gen=0"))
      // re-opt into the O(1) row-count sidecar AFTER the reset (the
      // deleteTree above wipes it with the store); the seed count is
      // memoized — one driver-side footer walk per (JVM, dataset),
      // not per invocation, and never a Spark job
      graft.core.SegmentedIndex.writeRowCount(store,
        g07SeedCounts.computeIfAbsent(dir, _ => graft.core.SegmentedIndex
          .footerRowCountOf(java.nio.file.Paths.get(store, "gen=0"))))
      val gen = 1L
      val live = graft.core.SegmentedIndex.live(spark,
        ParquetRows.frame(spark, store), store,
        keyCol = "vec_id", genCol = "gen").drop("gen")
      applyKnnDiffToStore(a, live, b, g07DirtyOld(a), g07NewIds(b), store, gen,
        cents = Some(Similarity.ivfCentroids(spark, dir)),
        pureNewIds = Some(b.filter(col("vec_id") < 0).select("vec_id")),
        survivorsBound = Some(corpusCount(spark, dir)))
      // compact on policy, not per epoch: rewrite only once tombstones
      // cover CompactThreshold of stored rows (read-amp ≤ ~2× between
      // compactions), carrying live rows into the epoch's one segment.
      // The measurement is the metadata-cheap instance estimate — k
      // edge rows per tombstoned (node, generation), exact for this
      // store (see coveredFractionEstimate)
      graft.core.SegmentedIndex.maybeCompact(store,
        rowsPerInstance = Similarity.KnnEdgeK.toDouble) { tmp =>
        graft.core.SegmentedIndex.live(spark, ParquetRows.frame(spark, store), store,
            keyCol = "vec_id", genCol = "gen").drop("gen")
          .write.parquet(s"$tmp/gen=$gen")
      }
      g07StoredEdges(spark, dir).localCheckpoint(true)
    }
  }

  /** Memoized snapshot-A corpus row count per (JVM, dataset) — a
    * fixture constant (the g07SeedCounts convention). Used only as the
    * survivor-count UPPER bound for [[gainersPruned]]'s early-exit
    * test, so the per-application `survivors.count()` job disappears;
    * the CDC snapshots never grow past 2× the base corpus (deletions
    * match or exceed additions per epoch), hence the factor at the
    * g08 call site. */
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def corpusCount(spark: SparkSession, dir: String): Long =
    graft.core.FixtureClock.memo(corpusCounts, dir)({ _ =>
      Dedup.normalizedVectors(spark, dir).count()
    })

  /** g07's single-maintainer monitor: the reset/apply/compact
    * sequence and the read-back serialize on it within the JVM. */
  private val g07Lock = new Object

  /** The stored location of the maintained kNN artifact — one
    * segmented layout per (JVM, dataset), seeded with snapshot A's
    * edges at generation 0 (the build is the one corpus-proportional
    * write; every application after it is diff-proportional). */
  private def g07StoreDir(spark: SparkSession, dir: String): String =
    graft.core.FixtureClock.staged("g07-store", dir) { store =>
      graft.core.DirSwap.copyTree(
        java.nio.file.Paths.get(Similarity.knnEdgesPath(spark, dir)),
        java.nio.file.Paths.get(store, "gen=0"))
      // no _rowcount here: the gate's per-invocation reset wipes and
      // re-seeds the store, writing the sidecar there (memoized count)
    }

  /** Footer row count of the memoized snapshot-A edge seed, counted
    * once per (JVM, dataset) — g07's per-invocation reset re-writes
    * the `_rowcount` sidecar from this instead of re-counting. */
  private val g07SeedCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The live view of the maintained artifact (what a post-diff
    * consumer sees: stored segments minus gen-scoped tombstones).
    * Verify pins `g07_store_eq_rebuild`: this must equal the
    * from-scratch snapshot-B rebuild. */
  private[graft] def g07StoredEdges(spark: SparkSession, dir: String): DataFrame = {
    val store = g07StoreDir(spark, dir)
    graft.core.SegmentedIndex.live(spark, ParquetRows.frame(spark, store), store,
        keyCol = "vec_id", genCol = "gen")
      .select("vec_id", "rnk", "neighbor_id", "cos_sim")
      .orderBy("vec_id", "rnk")
  }

  /** The fixture diff's old-side dirty ids (deleted + re-embedded). */
  private[analytics] def g07DirtyOld(a: DataFrame): DataFrame =
    a.filter(col("vec_id") % 10 === 7 || col("vec_id") % 10 === 3)
      .select("vec_id")

  /** The fixture diff's new-side ids (re-embedded + added). */
  private[analytics] def g07NewIds(b: DataFrame): DataFrame =
    b.filter(col("vec_id") % 10 === 3 || col("vec_id") < 0).select("vec_id")

  /** User-facing diff-driven kNN-edge maintenance: given snapshot A's
    * vectors (`a`) and stored edges (`edgesA`), snapshot B's vectors
    * (`b`), and the diff as two bounded id frames — `dirtyOld` (A ids
    * whose vectors left or moved) and `newIds` (B ids that are new or
    * re-embedded) — recompute only the lists the diff can touch and
    * keep every other stored list verbatim. Steps (1)–(3) above;
    * all diff joins broadcast the (bounded) id frames. `cents` switches
    * the admission test to the IVF-cell-pruned tier (same decisions,
    * a fraction of the pair work — see [[gainersPruned]]). */
  private[analytics] def maintainKnnEdges(a: DataFrame, edgesA: DataFrame,
                                          b: DataFrame, dirtyOld: DataFrame,
                                          newIds: DataFrame, k: Int = 5,
                                          cents: Option[Array[(Int, Array[Double])]] = None,
                                          admission: String = "auto")
      : DataFrame = {
    val recomputeIds = knnRecomputeIds(a, edgesA, b, dirtyOld, newIds, k, cents,
      admission)
    val recomputed = knnForQueries(
      b.join(recomputeIds, Seq("vec_id"), "left_semi"), b, k)
    val kept = edgesA
      .join(recomputeIds, Seq("vec_id"), "left_anti")
      .join(broadcast(dirtyOld), Seq("vec_id"), "left_anti")
    kept.unionByName(recomputed).orderBy("vec_id", "rnk")
  }

  /** The set of lists the diff can touch — steps (1)–(3) above.
    * Exposed so GraphSpec can pin that it stays a strict subset of
    * the surviving corpus and shrinks with the diff (the maintenance
    * is genuinely incremental). `cents` enables the cell-pruned
    * admission tier; GraphSpec pins that both tiers produce the SAME
    * id set (the prune is an upper-bound argument, not a heuristic).
    * `admission`: `"auto"` (cost-based choice per application — the
    * gates' setting), `"pruned"` (force the cell join; specs/probes),
    * anything else falls back to exact. */
  private[analytics] def knnRecomputeIds(a: DataFrame, edgesA: DataFrame,
                                         b: DataFrame, dirtyOld: DataFrame,
                                         newIds: DataFrame, k: Int = 5,
                                         cents: Option[Array[(Int, Array[Double])]] = None,
                                         admission: String = "auto",
                                         materialize: Boolean = true,
                                         survivorsBound: Option[Long] = None)
      : DataFrame =
    knnRecomputeIdsImpl(a, edgesA, b, dirtyOld, newIds, k, cents, admission,
      materialize, survivorsBound)._1

  /** [[knnRecomputeIds]] plus the set's cardinality when materialized
    * (known for free from the driver-local materialization — no count
    * job). `materialize = false` (PlanSpec only) keeps the full lazy
    * lineage and returns no count. */
  private def knnRecomputeIdsImpl(a: DataFrame, edgesA: DataFrame,
                                  b: DataFrame, dirtyOld: DataFrame,
                                  newIds: DataFrame, k: Int = 5,
                                  cents: Option[Array[(Int, Array[Double])]] = None,
                                  admission: String = "auto",
                                  materialize: Boolean = true,
                                  survivorsBound: Option[Long] = None)
      : (DataFrame, Option[Long]) = {
    // (1) lists referencing a dirty (deleted|changed) neighbor
    val refRecompute = edgesA
      .join(broadcast(dirtyOld.withColumnRenamed("vec_id", "neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .select("vec_id").distinct()
    // the diff's new side: re-embedded vectors + additions — BOUNDED,
    // and consumed by three subplans (admission probes, the short-row
    // semi join, the recompute union), so materialize the |diff| rows
    // once as a driver-local relation: every later broadcast of it
    // builds with zero jobs, and its cardinality is free
    // `materialize = false` (PlanSpec only) keeps the full lineage so
    // the admission join shape stays inspectable — the production
    // materialization below would hide it behind a local scan
    val newVecsRaw = b.join(broadcast(newIds), Seq("vec_id"), "left_semi")
      .select("vec_id", "v", "norm")
    val newVecsL =
      if (materialize) Some(graft.core.Bounded.localize(newVecsRaw)) else None
    val newVecs = newVecsL.fold(newVecsRaw)(_.df)
    val kth = edgesA.groupBy("vec_id")
      .agg(min(col("cos_sim")).as("kth"), count(lit(1)).as("n_edges"))
    val survivors = a.join(broadcast(dirtyOld), Seq("vec_id"), "left_anti")
    val gainers = cents.fold(gainersExact(survivors, newVecs, kth, k))(cs =>
      gainersPruned(survivors, newVecs, kth, k, cs, admission, materialize,
        survivorsBound, newCount = newVecsL.map(_.count)))
    // (3) + union; deleted ids fall out via the semi join against B.
    val ids = refRecompute
      .unionByName(gainers)
      .unionByName(newVecs.select("vec_id"))
      .distinct()
    if (materialize) {
      // driver-local: consumers broadcast it joblessly, the caller's
      // |set| needs no count job, and nothing lingers in the block
      // manager (the r16 shape checkpointed + counted + re-collected
      // the same bounded set once per consuming action)
      val cut = graft.core.Bounded.localize(ids)
      newVecsL.foreach(_.release())
      (cut.df, Some(cut.count))
    } else (ids, None)
  }

  /** (2) admission test, exact tier: per-row k-th-best threshold vs
    * every new vector — one corpus scan × broadcast diff (N·|diff|
    * pair work). A row whose stored list is SHORT (fewer than k edges
    * — a tiny corpus) has no real threshold: any new vector is
    * admissible, so it recomputes whenever the diff adds anything
    * (left join: a survivor with no stored list at all counts as
    * short, not as unreachable). */
  private def gainersExact(survivors: DataFrame, newVecs: DataFrame,
                           kth: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    survivors
      .join(broadcast(newVecs.select(col("vec_id").as("nid"),
        col("v").as("nv"), col("norm").as("nnorm"))), col("vec_id") =!= col("nid"))
      .select(col("vec_id"),
        Det.dround(array_dot(col("v"), col("nv")) / (col("norm") * col("nnorm")), 4)
          .as("sim"))
      .join(kth, Seq("vec_id"), "left")
      .filter(col("kth").isNull || col("n_edges") < k || col("sim") >= col("kth"))
      .select("vec_id").distinct()
  }

  /** Past this admitted-work fraction of the exact scan's pair work,
    * the cell prune isn't buying enough to repay its own join
    * machinery — run the plain broadcast scan instead. */
  private val PrunedWorkCutoff = 0.5

  /** Below this many survivor×new-vector pairs the exact scan is
    * sub-second on any executor count, so the decision profile scan
    * (2K dots/row + a kth join) can never pay for itself — skip
    * straight to exact. Two cheap counts decide. */
  private val PrunedMinPairWork = 100000000L

  /** (2) admission test, IVF-CELL-PRUNED tier — the same admission
    * DECISIONS as [[gainersExact]] at a fraction of the pair work,
    * by the angular triangle inequality: for a survivor r in cell c
    * and a new vector n, angle(r,n) ≥ angle(n,μ_c) − angle(r,μ_c) ≥
    * θ_cn − δ_c where δ_c is the cell's widest member angle, so
    * cos(r,n) ≤ cos(max(0, θ_cn − δ_c)) — a TRUE upper bound, never a
    * heuristic. A (cell, new-vector) pair whose bound can't reach the
    * cell's weakest stored threshold min_kth is skipped wholesale;
    * admitted pairs still run the exact per-row test, so the gainer
    * set is IDENTICAL to the exact tier's (GraphSpec pins set
    * equality). Pair work drops from N·|diff| to Σ_admitted |cell|
    * per admitted vector — the s06 cell-prune move applied to
    * maintenance admission. The 1e-4 slack absorbs the stored sims'
    * 4-decimal rounding (rounded ≥ kth ⟹ true ≥ kth − 5e-5) plus
    * acos/cos noise; loose only costs pruning, never a missed gainer.
    *
    * The prune only pays when cells are TIGHT relative to the stored
    * thresholds (clustered embeddings; or a matured index whose kth
    * floors are high). On wide cells it admits everything and the
    * cell join just re-spells the exact scan with extra machinery —
    * measured 2× slower on the uniform fixture. So `"auto"` decides
    * PER APPLICATION from the K-row cell profile it already computed:
    * admitted work = Σ over admitted pairs of the cell's member
    * count, vs the exact scan's |full|·|newVecs|; the pruned join
    * runs only below [[PrunedWorkCutoff]]. The decision costs one
    * narrow profile scan (2K dots/row) + a |diff|·K-row probe — the
    * bound computations the pruned join needs anyway. */
  private def gainersPruned(survivors: DataFrame, newVecs: DataFrame,
                            kth: DataFrame, k: Int,
                            cents: Array[(Int, Array[Double])],
                            admission: String,
                            materialize: Boolean = true,
                            survivorsBound: Option[Long] = None,
                            newCount: Option[Long] = None): DataFrame = {
    import graft.functions.VectorFunctions._
    require(cents.zipWithIndex.forall { case ((c, _), i) => c == i },
      "pruned admission requires contiguous 0-based cell ids")
    // counted once: the early-exit product and the exact-work estimate
    // below share it; callers that localized newVecs pass the
    // cardinality in, so no count job runs at all
    val nNew = math.max(1L, newCount.getOrElse(newVecs.count()))
    // callers with a driver-side survivor-count UPPER bound (a tracked
    // store's `_rowcount` sidecar, a memoized fixture count) skip the
    // survivors count JOB: bound·|new| under the cutoff implies the
    // true product is too — decision-equivalent below the threshold,
    // and above it the per-application profile scan decides as before
    val nSurv = survivorsBound.getOrElse(survivors.count())
    if (admission != "pruned" && nSurv * nNew < PrunedMinPairWork)
      return gainersExact(survivors, newVecs, kth, k)
    def angle(c: Column) = acos(greatest(lit(-1.0), least(lit(1.0), c)))
    val assigned = survivors
      .withColumn("cell", Similarity.cellOf(cents, col("v"), col("norm")))
      .withColumn("self_angle",
        angle(element_at(Similarity.cosToCentroids(cents, col("v"), col("norm")), col("cell") + 1)))
      .join(kth, Seq("vec_id"), "left")
    // short lists have no threshold: they recompute whenever the diff
    // adds any OTHER vector (same ≠-id rule as the exact tier's join)
    val short = assigned.filter(col("kth").isNull || col("n_edges") < k)
      .join(broadcast(newVecs.select(col("vec_id").as("nid"))),
        col("vec_id") =!= col("nid"), "left_semi")
      .select("vec_id")
    val full = assigned.filter(col("kth").isNotNull && col("n_edges") >= k)
    // K-row cell profile: widest member angle, weakest threshold,
    // member count — collected once (bounded), reused as literals by
    // the probe, the work estimate, and the pruned join
    val statsRows = full.groupBy("cell").agg(
        max(col("self_angle")).as("delta"), min(col("kth")).as("min_kth"),
        count(lit(1)).as("n_c"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val spark2 = survivors.sparkSession
    import spark2.implicits._
    val statsDf = broadcast(
      statsRows.toSeq.toDF("cell", "delta", "min_kth", "n_c"))
    // each new vector probes all K cells; keep pairs the bound admits
    // (|diff|·K rows in, bounded out — materialized driver-locally:
    // the work estimate reads it without a job and the pruned join
    // broadcasts it without a job)
    val admittedRaw = newVecs
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("norm").as("nnorm"))
      .withColumn("cos_arr", Similarity.cosToCentroids(cents, col("nv"), col("nnorm")))
      .select(col("nid"), col("nv"), col("nnorm"),
        posexplode(col("cos_arr")).as(Seq("cell", "cos_cn")))
      .join(statsDf, "cell")
      .filter(cos(greatest(lit(0.0), angle(col("cos_cn")) - col("delta")))
        >= col("min_kth") - lit(1e-4))
      .select(col("cell"), col("nid"), col("nv"), col("nnorm"), col("n_c"))
    val admittedL =
      if (materialize) Some(graft.core.Bounded.localize(admittedRaw)) else None
    val admitted = admittedL.fold(admittedRaw)(_.df)
    val usePruned = admission match {
      case "pruned" => true
      case _ =>
        // the work estimate is a fold over the (bounded) admitted pairs
        // — driver-side when they were just collected anyway, one agg
        // job only on the lazy (PlanSpec) or over-cap path
        val admittedWork = admittedL.filter(_.local) match {
          case Some(l) =>
            val i = l.df.schema.fieldIndex("n_c")
            l.rows.iterator.map(_.getLong(i)).sum
          case None => admitted.agg(sum(col("n_c"))).first() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }
        }
        val exactWork = statsRows.map(_._4).sum * nNew
        admittedWork < PrunedWorkCutoff * exactWork
    }
    val fullGainers =
      if (usePruned)
        // exact per-row test, restricted to the admitted (cell, n) pairs
        full.join(broadcast(admitted.drop("n_c")), Seq("cell"))
          .filter(col("vec_id") =!= col("nid") &&
            Det.dround(array_dot(col("v"), col("nv")) / (col("norm") * col("nnorm")), 4)
              >= col("kth"))
          .select("vec_id").distinct()
      else gainersExact(survivors, newVecs, kth, k)
    val out = short.unionByName(fullGainers).distinct()
    admittedL match {
      // admitted went driver-local: nothing to release, so the gainer
      // set can stay LAZY and fold into the caller's one materializing
      // action (one job where the r16 shape paid a checkpoint job here
      // plus a broadcast-collect job per consumer)
      case Some(l) if l.local => out
      // over-cap fallback: materialize before releasing the admitted
      // checkpoint (the old discipline)
      case Some(l) =>
        val cut = out.localCheckpoint(true)
        l.release()
        cut
      case None => out
    }
  }

  /** One CDC application against a SEGMENTED edge store — the
    * diff-proportional storage path shared by g07's epoch loop and
    * st26's per-microbatch loop (p10's tombstone/append/compact shape
    * moved onto the edge artifact): tombstone the recompute set plus
    * the old-side dirty ids at `gen − 1`, append ONLY the recomputed
    * lists as segment `gen` ([[graft.core.SegmentedIndex.appendSegment]]
    * — an overwrite, so a replayed batch lands idempotently). Storage
    * writes are O(|touched|·k) rows, never the 5N-row artifact; the
    * MaintenanceProbe receipts the near-flat write cost at REP×.
    * Returns |recompute set| (the write-amp the probe prices). */
  private[analytics] def applyKnnDiffToStore(aCur: DataFrame, eCur: DataFrame,
      bCur: DataFrame, dirtyOld: DataFrame, newIds: DataFrame,
      store: String, gen: Long,
      cents: Option[Array[(Int, Array[Double])]], k: Int = 5,
      admission: String = "auto",
      pureNewIds: Option[DataFrame] = None,
      survivorsBound: Option[Long] = None): Long = {
    // the diff id frames are bounded by contract: take them driver-
    // local once (free when the caller already localized them), so the
    // several broadcasts below build without collect jobs
    val dirtyL = graft.core.Bounded.localize(dirtyOld)
    val pureNewL = pureNewIds.map(pn => graft.core.Bounded.localize(
      pn.select(col("vec_id").as("_pn_id"))))
    val (recomputeIds, nRecOpt) = knnRecomputeIdsImpl(aCur, eCur, bCur,
        dirtyL.df, newIds, k, cents,
        admission, materialize = true, survivorsBound = survivorsBound)
    // known for free from the driver-local materialization
    val nRec = nRecOpt.getOrElse(recomputeIds.count())
    // `pureNewIds` names the ids among `newIds` with NO stored rows
    // (caller contract: truly first-seen at this generation). Dropping
    // them from the tombstone write changes no live view — a tombstone
    // on a never-stored key suppresses nothing — but keeps the
    // sidecar's instance count equal to the covered row count / k,
    // which is what makes the compaction policy's metadata-cheap
    // covered estimate EXACT for this store. Diff-bounded broadcast
    // anti-join; absent, every recompute id is tombstoned as before.
    val tombstoneIds = recomputeIds.unionByName(dirtyL.df.select("vec_id"))
    val tombstoneStored = pureNewL.fold(tombstoneIds)(pn =>
      tombstoneIds.join(broadcast(pn.df),
        col("vec_id") === col("_pn_id"), "left_anti"))
    graft.core.SegmentedIndex.applyBatch(Some(tombstoneStored), store, "vec_id", gen) {
      if (nRec > 0)
        graft.core.SegmentedIndex.appendSegment(
          knnForQueries(bCur.join(broadcast(recomputeIds), Seq("vec_id"), "left_semi"),
            bCur, k),
          store, gen)
    }
    recomputeIds.unpersist()
    dirtyL.release(); pureNewL.foreach(_.release())
    nRec
  }

  /** The rebuild twin: snapshot B's exact kNN graph from scratch.
    * Called by Verify to compute `g07_eq_fullrebuild`. */
  private[graft] def g07FullRebuildProbe(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphExact(
        vectorSnapshotB(Dedup.normalizedVectors(spark, dir)), k = 5)
      .orderBy("vec_id", "rnk")

  /** The corpus after `e` of [[Pipeline.ChainEpochs]] successive, DISJOINT CDC
    * epochs, as a pure function of snapshot A — epoch j deletes id
    * class `3j−2` (mod 13), re-embeds class `3j−1` (rotation by j),
    * and adds one new vector `-(id+1)` (rotation by j+1) per class
    * `3j` row. Disjoint classes make every intermediate snapshot
    * directly expressible, so the per-epoch rebuild twin needs no
    * chained re-derivation; negative added ids are never touched by a
    * later epoch (a negative value mod 13 can't equal a positive
    * class). */
  private[analytics] def g08Snapshot(a: DataFrame, e: Int): DataFrame = {
    def rot(shift: Int) = expr(
      s"transform(sequence(1, size(v)), k -> v[(k - 1 + $shift) % size(v)])")
    val cls = col("vec_id") % 13
    val gone = (1 to e).flatMap(j => Seq(3 * j - 2, 3 * j - 1))
    val untouched =
      (if (gone.isEmpty) a else a.filter(!cls.isin(gone.map(Int.box): _*)))
        .select(col("vec_id"), col("v"), col("norm"))
    val changed = (1 to e).map { j =>
      a.filter(cls === 3 * j - 1)
        .select(col("vec_id"), rot(j).as("v"), col("norm")) }
    val added = (1 to e).map { j =>
      a.filter(cls === 3 * j)
        .select((col("vec_id") * -1 - 1).as("vec_id"),
          rot(j + 1).as("v"), col("norm")) }
    (changed ++ added).foldLeft(untouched)(_.unionByName(_))
  }

  /** g08 gate: MULTI-EPOCH maintenance of the segmented kNN-edge
    * store — the accumulation path g07's single-application gate
    * never exercises deterministically. [[Pipeline.ChainEpochs]]
    * successive, disjoint CDC diffs chain through ONE store; each
    * epoch runs the same tombstone/append/policy-compact loop as g07,
    * and the gate's output pins, PER EPOCH:
    *
    *  - `eq_rebuild`: the live view equals a from-scratch exact
    *    rebuild of that epoch's snapshot (so correctness holds at
    *    every intermediate state, before AND after the mid-chain
    *    compaction — not just at the end);
    *  - `covered_before` / `compacted`: the tombstone-covered
    *    fraction at the policy decision and whether compaction ran —
    *    the diffs are sized so the policy provably fires mid-chain
    *    (MultiEpochSpec asserts the threshold crossing), instead of
    *    compaction only ever firing incidentally across bench passes.
    *
    * `rebuildCheck = false` is [[Pipeline.epochChain]]'s probe mode
    * (ChainProbe's 10× replication sweep, where the O(N²) exact
    * rebuild would dwarf the maintenance work being priced). Rows-only
    * gate (the per-epoch equality columns ARE the check; Verify pins
    * them as `g08_eq_every_epoch` / `g08_compaction_fired`). */
  def g08MultiEpochKnn(spark: SparkSession, dir: String,
                       rebuildCheck: Boolean = true): DataFrame =
    graft.core.TempDirs.scoped("graft-g08") { tmp =>
      val store = tmp.resolve("edges").toString
      val a = Dedup.normalizedVectors(spark, dir)
      graft.core.DirSwap.copyTree(
        java.nio.file.Paths.get(Similarity.knnEdgesPath(spark, dir)),
        tmp.resolve("edges/gen=0"))
      // opt into the O(1) row-count sidecar: the policy's denominator
      // comes from maintainer arithmetic, never a layout listing
      graft.core.SegmentedIndex.writeRowCount(store,
        graft.core.SegmentedIndex.footerRowCountOf(
          java.nio.file.Paths.get(store, "gen=0")))
      val cents = Some(Similarity.ivfCentroids(spark, dir))
      def liveEdges = graft.core.SegmentedIndex.live(spark,
        ParquetRows.frame(spark, store), store,
        keyCol = "vec_id", genCol = "gen")
      val cls = col("vec_id") % 13
      // epoch e's post-image IS epoch e+1's pre-image: carry the
      // materialized snapshot across iterations instead of deriving
      // and checkpointing it twice (4 snapshot materializations per
      // pass instead of 6 — union-of-rotations compute plus a
      // checkpoint job each)
      var carried: DataFrame = null
      val rows = Pipeline.epochChain("g08", dir, rebuildCheck)(new Pipeline.ChainSteps {
        private var aCur: DataFrame = _
        private var bCur: DataFrame = _
        def applyDiff(e: Int): Long = {
          // materialize both snapshots once per epoch: the apply's
          // admission scan, the |touched|·N recompute, and the rebuild
          // twin each consume them several times, and re-deriving the
          // union-of-rotations plan per consumer triples the corpus work
          aCur = if (carried != null) carried
                 else g08Snapshot(a, e - 1).localCheckpoint(true)
          bCur = g08Snapshot(a, e).localCheckpoint(true)
          val dirtyOld = a.filter(cls === 3 * e - 2 || cls === 3 * e - 1)
            .select("vec_id")
          val newIds = a.filter(cls === 3 * e - 1).select("vec_id")
            .unionByName(a.filter(cls === 3 * e)
              .select((col("vec_id") * -1 - 1).as("vec_id")))
          applyKnnDiffToStore(aCur, liveEdges.drop("gen"), bCur,
            dirtyOld, newIds, store, gen = e.toLong, cents = cents,
            pureNewIds = Some(a.filter(cls === 3 * e)
              .select((col("vec_id") * -1 - 1).as("vec_id"))),
            survivorsBound = Some(2 * corpusCount(spark, dir)))
        }
        // the metadata-cheap instance estimate (k rows per tombstoned
        // (node, generation) — exact for this store;
        // MaintainedStoreEstimateSpec pins it against the full
        // anti-join)
        def covered(): Double = graft.core.SegmentedIndex.coveredFractionEstimate(
          store, rowsPerInstance = Similarity.KnnEdgeK.toDouble)
        def compact(e: Int): Unit = graft.core.SegmentedIndex.compactWith(store) { stage =>
          liveEdges.drop("gen").write.parquet(s"$stage/gen=$e")
        }
        override def live(e: Int): Option[DataFrame] =
          Some(liveEdges.select("vec_id", "rnk", "neighbor_id", "cos_sim"))
        override def rebuild(e: Int, scratch: java.nio.file.Path): DataFrame =
          Similarity.knnGraphExact(bCur, k = 5)
            .select("vec_id", "rnk", "neighbor_id", "cos_sim")
        override def release(e: Int): Unit = {
          aCur.unpersist()
          carried = bCur // next epoch's pre-image; released there or below
        }
      })
      if (carried != null) carried.unpersist()
      Pipeline.receiptFrame(spark, rows, "n_recomputed", "n_live")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g07_incremental_knn" -> g07IncrementalKnn _,
    "g08_multi_epoch_knn" -> ((s, d) => g08MultiEpochKnn(s, d)),
    "g01_knn_pagerank" -> g01KnnPagerank _,
    "g02_ppr_retrieval" -> g02PprRetrieval _,
    "g03_clustering_coeff" -> g03ClusteringCoeff _,
    "g04_kcore" -> g04KCore _,
    "g05_lpa_communities" -> g05LpaCommunities _,
    "g06_quality_propagation" -> g06QualityPropagation _,
  )

  private val KnnSqlCte =
    """knn AS (SELECT src, dst FROM (
         SELECT a.vec_id src, b.vec_id dst,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             floor((list_aggregate(list_transform(range(1, len(a.embedding)+1),
                 k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))
                * sqrt(list_aggregate(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')))) * 10000.0 + 0.5) / 10000.0 DESC,
             b.vec_id ASC) rnk
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
        WHERE rnk <= 5)"""

  val oracleSql: Map[String, String] = Map(
    "g06_quality_propagation" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') t FROM documents),
          q0 AS (SELECT doc_id,
                  floor((len(list_distinct(t)) * 1.0 / len(t)) * 10000.0 + 0.5) / 10000.0 q
                 FROM tk),
          $KnnSqlCte,
          n1 AS (SELECT e.src doc_id,
                  CAST(sum(CAST(q.q AS DECIMAL(18,4))) AS DOUBLE) / count(*) nbr
                 FROM knn e JOIN q0 q ON q.doc_id = e.dst GROUP BY e.src),
          q1 AS (SELECT q0.doc_id,
                  floor((0.5 * q0.q + 0.5 * COALESCE(n1.nbr, q0.q)) * 10000.0 + 0.5) / 10000.0 q
                 FROM q0 LEFT JOIN n1 USING (doc_id)),
          n2 AS (SELECT e.src doc_id,
                  CAST(sum(CAST(q.q AS DECIMAL(18,4))) AS DOUBLE) / count(*) nbr
                 FROM knn e JOIN q1 q ON q.doc_id = e.dst GROUP BY e.src),
          q2 AS (SELECT q1.doc_id,
                  floor((0.5 * q1.q + 0.5 * COALESCE(n2.nbr, q1.q)) * 10000.0 + 0.5) / 10000.0 q
                 FROM q1 LEFT JOIN n2 USING (doc_id))
         SELECT q0.doc_id, q0.q AS q_raw, q2.q AS q_prop
         FROM q2 JOIN q0 USING (doc_id)
         ORDER BY q_prop DESC, doc_id ASC LIMIT 25""",
  )
}

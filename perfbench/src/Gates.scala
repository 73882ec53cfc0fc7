package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `gates`: analytics gates from `SparkEntry.queries`, one at a time,
  * in three cost shapes — `av` (the store on Spark), `chain`
  * (multi-epoch index maintenance, the most jobs and driver gaps per
  * gate) and `plain` (one-shot gates at the planning floor).
  *
  * The gates read a fixed synthetic star schema and corpus generated
  * here (data seed 42), so their digests do not depend on `--seed`,
  * and neither does anything else in this workload. */
final class Gates(spark: SparkSession, a: Main.Args, trace: Option[Trace], res: Main.Result,
                  sparkStartS: Double) extends Workload {
  import Gates._

  private val queries = graft.SparkEntry.queries

  /** Order-insensitive digest over every output column: the sum and
    * count of a 64-bit hash of each row's JSON form (`count()` alone
    * could let the optimizer prune output columns away). */
  private def digest(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(sum("h").cast("string"), count(lit(1))).collect()(0)
    s"${Option(r.getString(0)).getOrElse("0")}/${r.getLong(1)}"
  }

  private def runGate(name: String, dir: String): (Double, String) = {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val d = try digest(queries(name)(spark, dir))
    catch { case e: Exception => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val dt = (System.nanoTime() - t0) / 1e9
    // release what the gate cached, as the repo's Bench does between gates
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pre.contains(id)) rdd.unpersist(false) }
    (dt, d)
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val dir = a.work.resolve("gate-data")
    GateData.write(spark, dir, DataSeed)
    Main.phase("gate data written")
    val committed = GateDigests.load()
    if (committed.isEmpty) {
      res.setupOk = false
      res.notes += "no committed gate digests"
    }
    val all = Groups.flatMap(_._2)
    // cold pass: untimed per gate, counted in setup_s
    all.foreach { g =>
      val (dt, d) = runGate(g, dir.toString)
      System.err.println(f"[perfbench] cold $g $dt%.2f s")
      check(g, d, committed)
    }
    val setupS = sparkStartS + (System.nanoTime() - t0) / 1e9
    Main.phase("cold pass done")

    // timed rounds right after the cold pass, each gate at most once per
    // round in a fixed order, so it runs at the same point of every run
    // and samples the whole window (a seed-set order of back-to-back
    // repeats made a gate's time depend on its place in the order, as
    // gates keep speeding up for a minute of Spark work); a gate counts
    // its fastest run (other tenants of a shared
    // machine only ever slow a run down). An untimed full collection
    // before each gate keeps the garbage of the one before (m13 leaves
    // the most) out of its time.
    val times = scala.collection.mutable.LinkedHashMap(all.map(_ -> Seq.empty[Double]): _*)
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (r <- 0 until TimedRounds; g <- all if r >= TimedRounds - TimedRuns(g)) {
      System.gc()
      val (dt, d) = trace.fold(runGate(g, dir.toString))(
        _.span(s"gate.$g", sparkWork = true)(runGate(g, dir.toString)))
      check(g, d, committed)
      digests(g) = d
      times(g) :+= dt
    }
    times.foreach { case (g, ts) =>
      System.err.println(f"[perfbench] warm $g ${ts.map(x => f"$x%.2f").mkString(" ")} s") }
    if (sys.env.contains("PERFBENCH_PRINT_DIGESTS"))
      digests.toSeq.sortBy(_._1).foreach { case (g, d) => System.err.println(s"[perfbench] digest $g $d") }
    def warmMs(gs: Seq[String]) = gs.map(g => times(g).min).sum * 1e3
    res.paths(trace.isDefined, warmMs(LightGroup), warmMs(all.filterNot(LightGroup.contains)))
    trace match {
      case None => res.metric("setup_s", setupS, "s")
      case Some(t) =>
        layerMetrics(t)
        // the write path: publish cycles on fresh stores, after the gates
        Main.phase("gates done; publish cycles")
        new Publish(spark, a, t, res).run()
    }
  }

  private def check(g: String, d: String, committed: Map[String, String]): Unit =
    res.op(committed.get(g).contains(d), s"gate $g digest $d, committed ${committed.getOrElse(g, "none")}")

  private def layerMetrics(t: Trace): Unit = {
    // costs of each gate's last timed run
    val last = Groups.flatMap(_._2).map(g => g -> t.spansNamed(s"gate.$g").last).toMap
    def emit(prefix: String, spans: Seq[Trace.Span]): Unit = {
      val c = spans.map(_.cost.get)
      res.metric(s"$prefix.jobs", c.map(_.jobs).sum.toDouble, "count")
      res.metric(s"$prefix.stages", c.map(_.stages).sum.toDouble, "count")
      res.metric(s"$prefix.tasks", c.map(_.tasks).sum.toDouble, "count")
      res.metric(s"$prefix.plan_s", c.map(_.planS).sum, "s")
      res.metric(s"$prefix.aqe_replans", c.map(_.aqeReplans).sum.toDouble, "count")
      res.metric(s"$prefix.job_s", c.map(_.jobS).sum, "s")
      res.metric(s"$prefix.driver_gap_s", spans.map(_.gapS).sum, "s")
      res.metric(s"$prefix.shuffle_mb", c.map(_.shuffleB).sum / 1048576.0, "MB")
      res.metric(s"$prefix.gc_s", c.map(_.gcS).sum, "s")
    }
    Groups.foreach { case (grp, gs) => emit(s"analytics.$grp", gs.map(last)) }
    emit("analytics.total", last.values.toSeq)
    // the deterministic receipt: each gate's job/stage counts
    Groups.flatMap(_._2).foreach { g =>
      val c = last(g).cost.get
      System.err.println(s"[perfbench] jobmap $g jobs ${c.jobs} stages ${c.stages}")
    }
  }
}

object Gates {
  val DataSeed = 42L
  val Groups: Seq[(String, Seq[String])] = Seq(
    "av" -> Seq("av01_catalog_ingest", "av03_filtered_reads", "av07_time_travel"),
    "chain" -> Seq("m13_multi_epoch_images"),
    "plain" -> Seq("q01_pricing_summary", "q03_top_orders"))
  val TimedRounds = 3
  /** Timed runs per gate: the two longest sit out the first round (the
    * run budget), the others run in every round. */
  val TimedRuns: Map[String, Int] = Groups.flatMap(_._2).map(g =>
    g -> (if (Set("av07_time_travel", "m13_multi_epoch_images")(g)) 2 else TimedRounds)).toMap
  /** `light_ms` is the plain group's warm time; `heavy_ms` the rest. */
  val LightGroup: Seq[String] = Groups.toMap.apply("plain")
}

/** Digests committed for the fixed gate data (perfbench/gate_digests.txt,
  * `name digest` per line), read from the checkout's benchmark dir. */
object GateDigests {
  def load(): Map[String, String] = {
    val p = java.nio.file.Paths.get(sys.props.getOrElse("perfbench.dir", "perfbench"), "gate_digests.txt")
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
    }
  }
}

/** The gates' input tables: a small TPC-H-shaped star (lineitem,
  * orders, customer) and a labelled text corpus (documents), in the
  * column layout the repo's gates read. Deterministic in `seed`. */
object GateData {
  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    def h(c: String, salt: Int) = pmod(xxhash64(col(c), lit(seed + salt)), lit(1000000000L))
    def pickFrom(xs: Seq[String], c: String, salt: Int) =
      element_at(array(xs.map(lit): _*), (pmod(h(c, salt), lit(xs.size.toLong)) + 1).cast("int"))
    def day(c: String, salt: Int) =
      (lit("1995-01-01").cast("timestamp").cast("long") + pmod(h(c, salt), lit(2500L)) * 86400L)
        .cast("timestamp")
    def money(c: String, salt: Int, max: Long) = (pmod(h(c, salt), lit(max * 100)) / 100.0).cast("double")
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

    val nOrders = 15000L
    val nCust = 1500L
    save(spark.range(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(h("id", 1), lit(25L)).cast("int").as("c_nationkey"),
      (money("id", 2, 11000) - 1000.0).as("c_acctbal"),
      pickFrom(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), "id", 3).as("c_mktsegment")),
      "customer")
    save(spark.range(nOrders).select(col("id").as("o_orderkey"),
      pmod(h("id", 4), lit(nCust)).as("o_custkey"),
      pickFrom(Seq("F", "O", "P"), "id", 5).as("o_orderstatus"),
      money("id", 6, 500000).as("o_totalprice"),
      day("id", 7).as("o_orderdate"),
      pickFrom(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "id", 8).as("o_orderpriority")),
      "orders")
    save(spark.range(nOrders * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pmod(h("id", 9), lit(2000L)).as("l_partkey"),
      pmod(h("id", 10), lit(100L)).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h("id", 11), lit(50L)) + 1).cast("double").as("l_quantity"),
      money("id", 12, 100000).as("l_extendedprice"),
      (pmod(h("id", 13), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h("id", 14), lit(9L)) / 100.0).as("l_tax"),
      pickFrom(Seq("A", "N", "R"), "id", 15).as("l_returnflag"),
      pickFrom(Seq("F", "O"), "id", 16).as("l_linestatus"),
      day("id", 17).as("l_shipdate")), "lineitem")

    // corpus: 500 documents, per-language vocabularies over a shared
    // core, and every tenth document a near-copy of an earlier one so
    // the dedup gates find pairs
    val langs = Seq("en", "de", "fr", "es", "zh")
    val core = Seq("data", "table", "query", "scan", "join", "value", "stream", "window", "batch", "row")
    val vocab = Map(
      "en" -> Seq("the", "fast", "slow", "small", "big", "customer", "order", "line"),
      "de" -> Seq("der", "schnell", "langsam", "klein", "gross", "kunde", "auftrag", "zeile"),
      "fr" -> Seq("le", "rapide", "lent", "petit", "grand", "client", "commande", "ligne"),
      "es" -> Seq("el", "rapido", "lento", "pequeno", "grande", "cliente", "pedido", "linea"),
      "zh" -> Seq("shu", "kuai", "man", "xiao", "da", "kehu", "dingdan", "hang"))
    val r = new java.util.SplittableRandom(seed)
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (i <- 0 until 500) {
      val copyOf = if (i % 10 == 9) Some(docs(r.nextInt(docs.size))) else None
      val lang = copyOf.fold(langs(if (r.nextInt(10) < 4) 0 else r.nextInt(langs.size)))(_._3)
      val words = vocab(lang) ++ core
      val text = copyOf match {
        case Some(src) =>
          src._2.split(" ").map(w => if (r.nextInt(10) == 0) words(r.nextInt(words.size)) else w).mkString(" ")
        case None => Seq.fill(20 + r.nextInt(70))(words(r.nextInt(words.size))).mkString(" ")
      }
      docs += ((i.toLong, text, lang, s"src${i % 20}", text.length.toLong))
    }
    import spark.implicits._
    save(docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
  }
}

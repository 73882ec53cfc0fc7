package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Route
import graft.store.{AssetStore, JsonFileStore, TableStore}

/** Publish cycles: pyaerocom's write traffic plus operator
  * maintenance, run inside the traced `gates` run for the write-path
  * per-layer metrics. Each cycle publishes one experiment, lists it,
  * retires the one published `Live` cycles earlier and (TableStore)
  * compacts the touched tables, so the store returns to the same size
  * every cycle. Its cycle times swing 2-3x between runs with the host's
  * I/O load, too much for an end-to-end bound (perfbench/README.md).
  *
  * Flush policy, the same on both sides: TableStore flushes once per
  * cycle through `flushAll()`; JsonFileStore writes each put with a
  * temp file + atomic rename and no fsync. */
final class Publish(spark: SparkSession, a: Main.Args, trace: Trace, res: Main.Result) {
  import Publish._

  private def tspan[T](name: String, sparkWork: Boolean = false)(f: => T): T =
    trace.span(name, sparkWork)(f)

  private val gen = new AssetGen(a.seed)
  private val names = Iterator.from(0).map { c =>
    // real pyaerocom naming: `_`, `-` and plain stems all occur
    val n = ExperimentNames.pick(gen.rng, 1).head
    s"$n-c$c"
  }
  private def nextExperiment(): (String, Seq[Asset]) = {
    val e = names.next()
    e -> PublishedExperiment.assets(gen, Project, e)
  }

  private def tablesOf(xs: Seq[Asset]): Seq[String] = xs.map(x => TableStore.tableFor(x.route)).distinct.sorted

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  private def listed(s: AssetStore, e: String): Set[String] =
    s.query(kwargs = Map("project" -> Project, "experiment" -> e)).map(_.uri.takeWhile(_ != '?')).toSet

  /** The catalog lists glob_stats documents under the HEATMAP route
    * (the reference's quirk, kept by both backends). */
  private def expected(xs: Seq[Asset]): Set[String] = xs.map { x =>
    val route = if (x.route == Route.GlobStats) Route.Heatmap else x.route
    graft.codec.UriCodec.build(route, x.args)
  }.toSet

  final class Side(val s: AssetStore, val label: String) {
    val live = scala.collection.mutable.Queue.empty[(String, Seq[Asset])]
    val cycleS = scala.collection.mutable.ArrayBuffer.empty[Double]
  }

  /** One publish cycle on one backend. The retire check's listing is
    * the benchmark's own and stays outside the cycle time. */
  private def cycle(side: Side, exp: (String, Seq[Asset])): Unit = {
    val (e, xs) = exp
    val t0 = System.nanoTime()
    val table = side.s.isInstanceOf[TableStore]
    val pre = side.label
    var retired: Option[String] = None
    tspan(s"publish.${pre}_cycle", sparkWork = table) {
      xs.foreach(x => tspan(s"store.${pre}_put")(x.put(side.s)))
      side.s match {
        case t: TableStore => tspan("store.table_flush", sparkWork = true)(t.flushAll())
        case _ => ()
      }
      val got = tspan(s"store.${pre}_query", sparkWork = table)(listed(side.s, e))
      val want = expected(xs)
      res.op(got == want, s"$pre publish $e: listed ${got.size} of ${xs.size}; " +
        s"missing ${(want -- got).take(3).mkString(" ")}; extra ${(got -- want).take(3).mkString(" ")}")
      side.live.enqueue(exp)
      if (side.live.size > Live) {
        val (old, _) = side.live.dequeue()
        tspan(s"store.${pre}_rm", sparkWork = table)(side.s.rmExperimentData(Project, old))
        retired = Some(old)
        side.s match {
          case t: TableStore =>
            tspan("store.table_compact", sparkWork = true)(tablesOf(xs).foreach(t.compact))
          case _ => ()
        }
      }
    }
    side.cycleS += (System.nanoTime() - t0) / 1e9
    retired.foreach { old =>
      val left = listed(side.s, old)
      res.op(left.isEmpty, s"$pre retire $old: still lists ${left.size}")
    }
  }

  def run(): Unit = {
    // set-up: fresh stores pre-filled with `Live` experiments
    val tableDir = a.work.resolve("publish").resolve("table")
    val js = new Side(new JsonFileStore(a.work.resolve("publish").resolve("json").toString), "json")
    val ts = new Side(new TableStore(spark, tableDir.toString), "table")
    for (_ <- 0 until Live) {
      val exp = nextExperiment()
      Seq(js, ts).foreach { side =>
        exp._2.foreach(_.put(side.s))
        side.live.enqueue(exp)
      }
      ts.s.asInstanceOf[TableStore].flushAll()
    }
    Main.phase("publish set-up done")
    // Rounds rounds of JsonCyclesPerRound JsonFileStore cycles (~50x
    // cheaper) and one TableStore cycle, so both backends sample the
    // whole window; a fixed count, so every run makes the same operations
    val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until Rounds) {
      for (_ <- 0 until JsonCyclesPerRound) cycle(js, nextExperiment())
      cycle(ts, nextExperiment())
      val liveBytes = ts.live.map(_._2.map(_.bytes).sum).sum
      ratios += dirBytes(tableDir).toDouble / liveBytes
    }
    System.err.println(s"[perfbench] publish: ${ts.cycleS.size} cycles of " +
      s"${ts.live.head._2.size} assets, json ${js.cycleS.map(x => f"$x%.3f").mkString(" ")}, " +
      s"table ${ts.cycleS.map(x => f"$x%.3f").mkString(" ")}")
    System.err.println(f"[perfbench] publish: table bytes per user byte ${Stats.median(ratios.toSeq)}%.4f")
    layerMetrics(trace, ts.live.head._2)
    res.metric("store.table_bytes_per_user_byte", Stats.median(ratios.toSeq), "ratio")
    js.s.close(); ts.s.close()
  }

  private def layerMetrics(t: Trace, xs: Seq[Asset]): Unit = {
    def med(name: String, f: Trace.Span => Double) = Stats.median(t.spansNamed(name).map(f))
    res.metric("store.json_put_us", med("store.json_put", _.wallS * 1e6), "us")
    res.metric("store.table_put_us", med("store.table_put", _.wallS * 1e6), "us")
    res.metric("store.table_flush_s", med("store.table_flush", _.wallS), "s")
    res.metric("store.json_query_s", med("store.json_query", _.wallS), "s")
    res.metric("store.table_query_s", med("store.table_query", _.wallS), "s")
    res.metric("store.json_rm_s", med("store.json_rm", _.wallS), "s")
    res.metric("store.table_rm_s", med("store.table_rm", _.wallS), "s")
    res.metric("store.table_compact_s", med("store.table_compact", _.wallS), "s")
    val cycles = t.spansNamed("publish.table_cycle").filter(_.cost.isDefined)
    val userBytes = xs.map(_.bytes).sum.toDouble
    res.metric("store.table_jobs_per_cycle", Stats.median(cycles.map(_.cost.get.jobs.toDouble)), "count")
    res.metric("store.table_files_written_per_cycle",
      Stats.median(cycles.map(_.cost.get.filesWritten.toDouble)), "count")
    res.metric("store.table_bytes_written_per_user_byte",
      Stats.median(cycles.map(_.cost.get.bytesWritten / userBytes)), "ratio")
  }
}

object Publish {
  val Project = "pub"
  val Live = 3
  val JsonCyclesPerRound = 4
  val Rounds = 3
}

package graft.tools

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}
import graft.core.Diag

/** Dev CLI: run gates the way the bench runs them and show where their
  * time goes.
  *
  * Usage: runMain graft.tools.Profile <gate,…|all> [sfDir] [passes]
  *
  * A gate is named in full or by its prefix before the first `_`
  * (`g08` for `g08_multi_epoch_knn`); `sfDir` defaults to
  * `$SPARK_GRAFT_SF_DIR` and `passes` to 2. Each pass runs the gate
  * through [[graft.Bench.runGate]] (its `count()` under
  * [[graft.core.Trace]], then the bench's between-gate cleanup) and
  * prints
  * {{{
  * [profile] <gate> pass <i>: wall <s> rows=<n> cost=<Trace.Cost json> diag=<Diag json>
  * }}}
  * and the last pass also prints its jobs grouped by call site (the
  * first `graft.` frame that started them), slowest first:
  * {{{
  * [site] <gate> <job seconds> n=<jobs> <site>
  * }}}
  *
  * The session settings below are defaults; a `spark.*` system property
  * overrides any of them, e.g.
  * {{{
  * sbt 'set run / javaOptions += "-Dspark.sql.adaptive.enabled=false"' "runMain graft.tools.Profile p14"
  * }}}
  * What the driver does in the gaps between jobs is a question for a
  * sampling profiler. Record the run with JFR and read the samples of
  * the `main` thread (the recording lands in the project root):
  * {{{
  * sbt 'set run / javaOptions += "-XX:StartFlightRecording=filename=profile.jfr,settings=profile"' \
  *   "runMain graft.tools.Profile st26"
  * jfr print --events jdk.ExecutionSample --stack-depth 64 profile.jfr
  * }}}
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <gate,…|all> [sfDir] [passes]"
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"$usage (sfDir: argument or SPARK_GRAFT_SF_DIR)"))
    val passes = args.lift(2).fold(2)(_.toInt)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val gates = args.headOption.getOrElse(sys.error(usage)).split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq.flatMap {
        case "all" => all
        case g => all.filter(n => n == g || n.startsWith(g + "_")) match {
          case Seq() => sys.error(s"no gate named $g")
          case ns => ns
        }
      }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val conf = new SparkConf()
      .setIfMissing("spark.master", s"local[$cpus]")
      .setIfMissing("spark.sql.shuffle.partitions", cpus)
      .setIfMissing("spark.sql.adaptive.enabled", "true")
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.ui.enabled", "false")
      // as in the bench: Spark 4's per-query checkpoint-checksum pool
      // never shuts down (see EventStream.boundedDriveSession)
      .setIfMissing("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // profiling-only workaround: Spark 4.1's UnionBase.rewriteConstraints
      // can throw key-not-found on self-union plans when the standalone
      // run's low exprIds collide (p14 trips it here; the bench's gate
      // ordering never does). Constraint propagation off keeps the gate
      // runnable in isolation without touching the product session.
      .setIfMissing("spark.sql.constraintPropagation.enabled", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try gates.foreach { gate =>
      (1 to passes).foreach { i =>
        val run = Bench.runGate(spark, SparkEntry.queries(gate), sfDir)
        val rows = run.rows.fold(e => s"error(${e.getClass.getSimpleName}: ${e.getMessage})", _.toString)
        println(f"[profile] $gate pass $i: wall ${run.cost.wallS}%.3f s rows=$rows " +
          s"cost=${run.cost.json} diag=${Diag.snap(spark).json}")
        if (i == passes)
          run.cost.jobList.groupBy(_.site).toSeq
            .map { case (site, js) => (site, js.size, js.map(_.seconds).sum) }
            .sortBy(-_._3)
            .foreach { case (site, n, s) => println(f"[site] $gate $s%8.3f s  n=$n%4d  $site") }
      }
    } finally spark.stop()
  }
}

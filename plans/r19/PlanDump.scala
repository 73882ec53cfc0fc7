import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps the optimized logical plans of TableStore point gets, an
  * experiment delete and both rewrites, with expression IDs and the
  * store path normalized, so two builds' dumps diff cleanly (only the
  * delete's `put_time` literal differs run to run). Compile against a
  * build's main classes and the Spark jars, then run
  * `PlanDump <empty store dir> <output file>`; made
  * `table_store_point_get_{before,after}.txt` here. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val db = new graft.store.TableStore(spark, dir)
    for (e <- 1 to 3) {
      db.putMenu(s"""{"e":$e}""", "p", s"e$e")
      db.putMap(s"""{"m":$e}""", "p", s"e$e", "n", "o", "l", "m", "mv", "t")
    }
    db.putMenu("""{"e":22}""", "p", "e2")
    db.flushAll()
    val marker = db.snapshotSeq()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var label = ""
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(s"== $label ($f) ==\n${qe.optimizedPlan}\n")
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def step(l: String)(f: => Unit): Unit = { label = l; f; Thread.sleep(1500) }
    step("getMenu point get")(println(db.getMenu("p", "e2")))
    step("getMap point get (generation key time)")(println(db.getMap("p", "e1", "n", "o", "l", "m", "mv", "t")))
    step("getReportImage miss")(try db.getReportImage("p", "e1", "x.png") catch { case _: Exception => () })
    step("rmExperimentData(p, e3)")(db.rmExperimentData("p", "e3"))
    step("compact(menu)")(db.compact("menu"))
    step("compactRetain(map, marker)")(db.compactRetain("map", marker))
    val out = plans.toArray.mkString("\n")
      .replace(new java.io.File(dir).getAbsolutePath, "<store>")
      .replaceAll("#\\d+L?", "#N")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), out)
    db.close(); spark.stop()
  }
}

package graft.store

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{col, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.AssetValue

/** A get flushes its table first, and that flush waits only for writes
  * that may hold rows the get has to see. */
class TableStoreFlushSpec extends AnyFunSuite {
  import TableStoreFlushSpec._

  test("a get with nothing pending does not wait for a bulk append to its table") {
    val spark = SparkTestSession.spark
    val db = new TableStore(spark, graft.core.TempDirs.create("graft-flush-wait").toString)
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      db.putMenu("""{"v": 1}""", "p", "e1")
      db.flushAll()
      val blocking = udf { (s: String) =>
        entered.countDown()
        release.await(60, TimeUnit.SECONDS)
        s
      }
      // the append's Spark job blocks in the UDF while it holds the
      // menu table's write monitor
      val append = Future(db.bulkAppend("menu", spark.range(1).select(lit("p").as("project"),
        lit("e2").as("experiment"), blocking(lit("""{"v": 2}""")).as("json"),
        lit(null).cast("binary").as("blob"))))
      assert(entered.await(30, TimeUnit.SECONDS), "the bulk append never started its write")
      val get = Future(db.getMenu("p", "e1"))
      assert(Await.result(get, 10.seconds) == AssetValue.Json("""{"v": 1}"""))
      release.countDown()
      Await.result(append, 60.seconds)
      assert(db.getMenu("p", "e2") == AssetValue.Json("""{"v": 2}"""))
    } finally {
      release.countDown()
      pool.shutdown()
      db.close()
    }
  }
}

object TableStoreFlushSpec {
  // reached from the UDF through the object, never captured by it:
  // latches do not serialize
  @volatile var entered = new CountDownLatch(0)
  @volatile var release = new CountDownLatch(0)
}

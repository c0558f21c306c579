package graft

import scala.concurrent.duration._

class PerTableSpec extends SparkSpec {

  test("results come back per table in input order") {
    assert(PerTable.run(spark, Seq("b" -> (() => 2), "a" -> (() => 1))) ==
      Seq("b" -> 2, "a" -> 1))
    assert(PerTable.run(spark, Seq.empty[(String, () => Int)]) == Nil)
  }

  test("a table past the deadline has its Spark job cancelled and is named") {
    val t0 = System.nanoTime()
    val e = intercept[PerTable.Failed] {
      PerTable.run(spark, Seq(
        "fast" -> (() => 1L),
        "slow" -> (() => spark.sparkContext.parallelize(Seq(1L), 1)
          .map { x => Thread.sleep(8000); x }.collect().head)),
        deadline = 1.second)
    }
    assert(e.tables == Seq("slow"), e.getMessage)
    assert(e.getCause.isInstanceOf[java.util.concurrent.TimeoutException])
    assert((System.nanoTime() - t0) / 1e9 < 6.0)
  }
}

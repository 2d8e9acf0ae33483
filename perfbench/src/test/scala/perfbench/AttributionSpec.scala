package perfbench

import graft.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Harness.session(2)

  override def afterAll(): Unit = spark.stop()

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def grouped(df: DataFrame): DataFrame =
    df.groupBy((col("id") % 3).as("k")).count()

  private def traced(i: Int, build: () => DataFrame): Map[String, Any] = {
    val listener = new PhaseListener
    val x = Harness.execute(spark, i, Some(listener), _ => build(), noop)
    assert(x.error.isEmpty, x.error)
    (Harness.listenerFields(listener, i) ++ x.fields).toMap
  }

  test("eager jobs fired during construction count in build_jobs, not in exec jobs") {
    val lazyOnly = traced(1, () => grouped(spark.range(0, 1000).toDF()))
    val eager = traced(2, () => {
      spark.range(0, 10).count()
      grouped(Pin(spark.range(0, 1000).toDF()))
    })
    assert(lazyOnly("build_jobs") == 0)
    // the count, plus the job(s) of the pin's eager local checkpoint
    assert(eager("build_jobs").asInstanceOf[Int] >= 2)
    assert(eager("jobs") == lazyOnly("jobs"))
    assert(eager("jobs").asInstanceOf[Int] >= 1)
    assert(eager("pins") == 1)
  }

  test("jobs fired from helper threads during construction stay in build_jobs") {
    val x = traced(3, () => {
      val Seq(a, b) = Pin.parallel(Seq(
        () => spark.range(0, 100).toDF(), () => spark.range(100, 200).toDF()))
      grouped(a.union(b))
    })
    assert(x("build_jobs").asInstanceOf[Int] >= 2) // one pin per thread
    assert(x("pins") == 2)
  }

  test("an untraced execution leaves no listener totals") {
    val listener = new PhaseListener
    val x = Harness.execute(spark, 4, None,
      _ => grouped(Pin(spark.range(0, 100).toDF())), noop)
    assert(x.error.isEmpty && x.fields.isEmpty)
    assert(Harness.listenerFields(listener, 4).toMap.apply("build_jobs") == 0)
  }

  test("a throwing query is an execution with an error and a wall time") {
    val x = Harness.execute(spark, 5, Some(new PhaseListener),
      _ => sys.error("boom"), noop)
    assert(x.error.exists(_.contains("boom")))
    assert(x.wallS >= 0)
  }
}

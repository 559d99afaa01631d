package graft.perfbench

import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("jobs, tasks and SQL executions go to the span they ran in") {
    val tracer = new Tracer(Some(spark.sparkContext))
    val l = new WorkListener((_, _) => None)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    try {
      tracer.span("outer") {
        spark.range(1000).selectExpr("sum(id)").collect()
        tracer.span("inner") {
          spark.range(1000).repartition(3).write.format("noop").mode("overwrite").save()
        }
      }
      spark.range(10).collect() // after every span: attributed to none
      SparkInternals.drain(spark.sparkContext)
      val spans = tracer.spans
      val outer = spans.find(_.name == "outer").get
      val inner = spans.find(_.name == "inner").get
      assert(inner.parent == outer.id)
      val own = Attribution.perSpan(spans, l, tracer.msToNs)
      val o = own(outer.id)
      val i = own(inner.id)
      assert(o.jobs >= 1 && i.jobs >= 1)
      assert(i.tasks >= 3)
      assert(i.shuffleBytes > 0)
      assert(i.rowsOut == 1000, "the noop write's execution belongs to the inner span")
      assert(o.rowsOut == 1, "the aggregate's execution belongs to the outer span")
      val all = l.jobs.size.toLong
      assert(o.jobs + i.jobs < all, "the job after the spans is not attributed")
      val incl = Attribution.inclusive(spans, own)
      assert(incl(outer.id).jobs == o.jobs + i.jobs)
      assert(incl(outer.id).tasks == o.tasks + i.tasks)
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
  }

  test("the job group is restored to the parent span on exit") {
    val tracer = new Tracer(Some(spark.sparkContext))
    val sc = spark.sparkContext
    tracer.span("a") {
      tracer.span("b")(())
      assert(Tracer.spanOf(sc.getLocalProperty("spark.jobGroup.id")).contains(0))
    }
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }
}

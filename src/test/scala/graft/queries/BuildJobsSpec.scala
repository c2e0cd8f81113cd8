package graft.queries

import graft.{SparkEntry, SparkSpec, Tables, TablesSpec}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Building a query — the DataFrame, before any action — launches no
  * Spark job: table schemas come from driver-side footer reads, and
  * the BPE trainer collects its vocabulary once instead of running
  * jobs per merge round. Executing q225, q91 and q249 stays within
  * each one's job budget. */
class BuildJobsSpec extends SparkSpec {

  /** Jobs started while `body` runs, counted once the listener bus
    * has delivered every event. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    n.get
  }

  test("building q02, q10 and the non-BPE catalog queries launches no job") {
    for (q <- Seq("q02_revenue_by_nation", "q10_monthly_orders", "q225_fuzzy_parts",
                  "q249_link_predict", "q53_approx_percentiles", "q91_sparse_cosine")) {
      val jobs = jobsDuring(SparkEntry.queries(q)(spark, sf0001))
      assert(jobs == 0, s"building $q launched $jobs jobs")
      spark.catalog.clearCache()
    }
  }

  test("executing q225 launches at most 12 jobs") {
    // both sorted-neighborhood passes rank in one distributedPrefix
    // call with two real sources: 11 jobs at sf0.001
    val jobs = jobsDuring(SparkEntry.queries("q225_fuzzy_parts")(spark, sf0001)
      .write.format("noop").mode("overwrite").save())
    spark.catalog.clearCache()
    assert(jobs <= 12, s"executing q225 launched $jobs jobs")
  }

  test("executing q91 and q249 launches at most 6 jobs each") {
    // one scan each, its exchange reused by every consumer, no cache
    for (q <- Seq("q91_sparse_cosine", "q249_link_predict")) {
      val jobs = jobsDuring(SparkEntry.queries(q)(spark, sf0001)
        .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      assert(jobs <= 6, s"executing $q launched $jobs jobs")
    }
  }

  test("both events.ts fixture generations load with no job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    for ((g, ts) <- Seq("nanos" -> "TIMESTAMP(NANOS,true)",
                        "micros" -> "TIMESTAMP(MICROS,false)")) {
      TablesSpec.writeEvents(s"$tmp/$g", ts)
      val jobs = jobsDuring(Tables.events(spark, s"$tmp/$g"))
      assert(jobs == 0, s"loading the $g generation launched $jobs jobs")
    }
  }

  test("building q191 launches the same jobs for 2 and 6 merge rounds") {
    def build(merges: Int): Int = {
      spark.catalog.clearCache()
      jobsDuring(graft.ops.TextOps.q191BpeEncode(spark, sf0001, merges))
    }
    val (two, six) = (build(2), build(6))
    spark.catalog.clearCache()
    assert(two == six, s"merge rounds launch jobs: $two jobs at 2 rounds, $six at 6")
  }
}

package graft.queries

import graft.SparkSpec

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** VERDICT r8 #8: the per-query gate runs one query at a time, so
  * cache/temp-state crosstalk between CONCURRENT queries on one
  * session had no coverage. A production session serves many queries
  * at once; operators that persist intra-query frames (q24/q35/q157),
  * collect dimension aggregates to the driver, or run
  * driver-side iteration (BFS hops, k-means) must not corrupt each
  * other through the shared CacheManager / conf / scheduler.
  *
  * The spec runs a 4-query mix — two persist-heavy iterative
  * operators, one driver-loop graph query, one plain aggregate —
  * concurrently on the shared session and asserts each result equals
  * its sequential baseline row-for-row. Flushes the cache afterwards
  * like the harness does.
  */
class ConcurrencySpec extends SparkSpec {

  private val mix = Seq(
    "q27_ivf_topk",        // sampled k-means learn (driver collect) + probe
    "q157_khop_bfs",       // driver-side hop loop, persist + unpersist
    "q24_minhash_lsh",     // intra-query persist of per-doc shingle hashes
    "q02_revenue_by_nation")  // plain broadcast-join aggregate

  test("4-query concurrent mix matches sequential results on one session") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sequential: Map[String, Seq[String]] = mix.map { name =>
      val rows = graft.SparkEntry.queries(name)(spark, sf0001)
        .collect().map(_.toString).toSeq
      spark.catalog.clearCache()
      name -> rows
    }.toMap
    val futures = mix.map { name =>
      Future {
        name -> graft.SparkEntry.queries(name)(spark, sf0001)
          .collect().map(_.toString).toSeq
      }
    }
    val concurrent = Await.result(Future.sequence(futures), 10.minutes).toMap
    spark.catalog.clearCache()
    mix.foreach { name =>
      assert(concurrent(name) == sequential(name),
        s"$name diverged under concurrency: " +
          s"${concurrent(name).size} rows vs ${sequential(name).size} sequential")
    }
  }
}

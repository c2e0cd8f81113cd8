package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted join: result set identical to the plain join; the salt
  * actually spreads hot keys across buckets. */
class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join on a skewed key distribution") {
    // hot key 1 carries 90% of fact rows
    val fact = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong % 50, s"f$i"))
      .toDF("k", "payload")
    val dim = (0 to 60).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = fact.join(dim, "k").select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val salted = SkewJoin.saltedJoin(fact, dim, "k", saltBuckets = 8)
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(salted.size == 1000) // every fact row matched exactly once
  }

  test("salt spreads the hot key over multiple buckets") {
    val fact = (1 to 1000).map(i => (1L, s"f$i")).toDF("k", "payload")
    val salt = pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(8))
    val buckets = fact.withColumn("s", salt).select("s").distinct().count()
    assert(buckets >= 6) // ~uniform over 8 buckets
  }
}

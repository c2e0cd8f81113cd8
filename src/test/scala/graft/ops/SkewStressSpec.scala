package graft.ops

import graft.SparkSpec
import graft.functions.BottomK
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList}
import org.apache.spark.sql.catalyst.expressions.LessThanOrEqual
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan}
import org.apache.spark.sql.functions._

/** Aggregation-state skew guardrail (r10 verdict #3 — the skew
  * analogue of the iterative-plan guardrail): plants a HOT KEY
  * fixture — a whale user with a 100k-event stream, a stopword-class
  * shingle shared by every document — and pins, per operator, that
  * (a) the operator completes on the planted skew and returns the
  * hand-computable answer, and (b) the PLAN is state-bounded: q211
  * carries NO collect_list at all (the bounded BottomK aggregate
  * replaces it), and every collect_list the posting-list family
  * (q85/q91/q216) still runs reads a stream joined (semi or inner)
  * to the df <= cap set, so no aggregation buffer can exceed the
  * declared cap regardless of key heat. A revert to
  * collect-then-filter fails these pins before it can OOM a 100 TB
  * run. The uncapped per-user baskets of q249 and q251 are safe
  * another way: the LongPairs generator streams a basket's pairs, so
  * a whale basket costs O(n) memory, pinned by the whale-basket
  * cases. */
class SkewStressSpec extends SparkSpec {

  /** Aggregate nodes whose aggregate list contains a collect_list. */
  private def collectListAggs(lp: LogicalPlan): Seq[Aggregate] =
    lp.collect {
      case a: Aggregate if a.aggregateExpressions.exists(
        _.find {
          case ae: AggregateExpression =>
            ae.aggregateFunction.isInstanceOf[CollectList]
          case _ => false
        }.isDefined) => a
    }

  /** A filter that keeps only `df <= cap` rows (q216's `between`
    * counts: its upper bound is such a comparison). */
  private def capsDf(lp: LogicalPlan): Boolean =
    lp.find {
      case f: Filter => f.condition.find {
        case le: LessThanOrEqual => le.left.references.exists(_.name == "df")
        case _ => false
      }.isDefined
      case _ => false
    }.isDefined

  // NOTE: assertions run on the ANALYZED plan — a persist() inside an
  // operator replaces its subtree with InMemoryRelation in the
  // optimized plan, which would hide the collect_list from the audit
  private def assertCollectsBehindCapJoin(df: DataFrame, who: String): Unit = {
    val aggs = collectListAggs(df.queryExecution.analyzed)
    assert(aggs.nonEmpty, s"$who: expected a df-capped collect_list")
    aggs.foreach { a =>
      assert(a.child.find {
          case j: Join => (j.joinType == LeftSemi || j.joinType == Inner) && capsDf(j.right)
          case _ => false
        }.isDefined,
        s"$who: collect_list aggregates a stream with NO join to the " +
        s"df <= cap set below it — unbounded buffer on a hot key:\n" +
        a.toString.take(600))
    }
  }

  // ---- planted-skew fixture -------------------------------------
  // events: user 1 is a whale — 5 head events of type "aa", then
  // 10⁶ tail events alternating "bb"/"cc" (one per second from
  // 01:00:00 on — the r10-specified whale size, generated
  // distributed via spark.range rather than a driver Seq); users 2
  // and 3 each have the 3-event stream xx, yy, zz.
  // documents: 300 docs all sharing the stopword head "c0 c1 c2 c3"
  // (every 3-gram in it has df = 300); docs 1 and 2 additionally
  // share the rare run "p0 p1 p2 p3"; each doc carries unique
  // filler tokens.
  private val WhaleEvents = 1000000L
  private lazy val tmp: String = {
    val dir = java.nio.file.Files.createTempDirectory("skewfix").toString
    import spark.implicits._
    val whaleHead = (1 to 5).map(i =>
      (i.toLong, f"2024-01-01 00:00:${i}%02d", 1L, "aa"))
    val others = Seq(
      (9000001L, "2024-03-02 00:00:01", 2L, "xx"),
      (9000002L, "2024-03-02 00:00:02", 2L, "yy"),
      (9000003L, "2024-03-02 00:00:03", 2L, "zz"),
      (9000004L, "2024-03-02 00:00:01", 3L, "xx"),
      (9000005L, "2024-03-02 00:00:02", 3L, "yy"),
      (9000006L, "2024-03-02 00:00:03", 3L, "zz"))
    val small = (whaleHead ++ others)
      .toDF("event_id", "tss", "user_id", "event_type")
      .select(col("event_id"), col("tss").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"))
    val whaleTail = spark.range(1, WhaleEvents + 1)
      .select((col("id") + 100L).as("event_id"),
              expr("timestamp'2024-01-01 01:00:00' + " +
                   "make_interval(0, 0, 0, 0, 0, 0, id)").as("ts"),
              lit(1L).as("user_id"),
              when(col("id") % 2 === 0, lit("bb")).otherwise(lit("cc"))
                .as("event_type"))
    small.unionByName(whaleTail)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
              lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val docs = (1 to 300).map { i =>
      val rare = if (i <= 2) " p0 p1 p2 p3" else ""
      (i.toLong, s"c0 c1 c2 c3$rare u${i}a u${i}b u${i}c")
    }
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q211 whale user: plan is collect_list-free, state bounded at cap") {
    val df = EventOps.q211SeqPatterns(spark, tmp, cap = 5, k = 50)
    val lp = df.queryExecution.analyzed
    assert(collectListAggs(lp).isEmpty,
      "q211 must use the bounded BottomK aggregate, never collect_list " +
      "over a user's full stream")
    assert(lp.exists(_.expressions.exists(_.exists {
      case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[BottomK]
      case _ => false
    })), "q211 must cap each user's stream with the bounded BottomK aggregate")
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the whale's 100k-event tail must be invisible: its capped head
    // is five "aa" events, so the only whale pattern is aa>aa>aa
    assert(got("aa>aa>aa") == 1L, s"got $got")
    assert(got("xx>yy>zz") == 2L, s"got $got")
    assert(!got.keys.exists(p => p.contains("bb") || p.contains("cc")),
      s"whale tail leaked past the first-K cap: $got")
  }

  test("q91 stopword shingle: collects only behind the df-cap semi-join") {
    val df = Dedup.q91SparseCosinePairs(spark, tmp, dfCap = 20, k = 10)
    assertCollectsBehindCapJoin(df, "q91")
    val rows = df.collect()
    // docs 1,2 share the rare p-grams -> top pair; the df=300
    // stopword grams are pruned before any list is built
    assert(rows.nonEmpty &&
           rows.head.getLong(0) == 1L && rows.head.getLong(1) == 2L,
      rows.map(_.toString).mkString(", "))
  }

  test("q216 stopword shingle: collects only behind the df-cap semi-join") {
    val df = Dedup.q216Containment(spark, tmp, dfCap = 20, tau = 1L, k = 10)
    assertCollectsBehindCapJoin(df, "q216")
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"got $pairs")
  }

  test("whale basket: LongPairs streams past C(n,2) > Int.MaxValue") {
    // 46,342 elements: n * (n - 1) overflows Int, and C(n,2) ≈ 1.07e9
    // pairs could never sit in one row; the iterator holds only the
    // input array and two positions
    val n = 46342
    assert(n.toLong * (n - 1) > Int.MaxValue)
    val it = graft.functions.LongPairs.iterator(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.tabulate(n)(_.toLong)))
    var x, y = 0L
    var k = 0
    while (k < 1000000) {
      y += 1
      if (y == n) { x += 1; y = x + 1 }
      val r = it.next()
      assert(r.getLong(0) == x && r.getLong(1) == y, s"pair $k: $r")
      k += 1
    }
    assert(it.hasNext)
  }

  test("whale basket: a 10k-item collect_set yields C(10k,2) pairs, both modes") {
    inBothModes { codegen =>
      val pairs = spark.range(10000)
        .select(lit(1L).as("user_id"), col("id").as("k"))
        .groupBy(col("user_id")).agg(collect_set(col("k")).as("ks"))
        .select(graft.functions.VectorFunctions.longPairs(col("ks")))
        .count()
      assert(pairs == 49995000L, s"codegen=$codegen")
    }
  }

  test("salted join on a planted whale key equals the plain join") {
    // 200k fact rows collapse onto key 7 (plus a 1k uniform spread);
    // the salted path must return exactly the plain join's answer —
    // salting is result-invariant by construction, which is also what
    // q232's DuckDB oracle (the UNSALTED SQL join) gates at 3 SFs
    val fact = spark.range(0, 200000)
      .select(lit(7L).as("k"), col("id").as("v"))
      .unionByName(spark.range(0, 1000)
        .select((col("id") % 10).as("k"), (col("id") + 1000000L).as("v")))
    val dim = spark.range(0, 10)
      .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
    def agg(df: DataFrame) = df.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = agg(SkewJoin.saltedJoin(fact, dim, "k", 8))
    val plain = agg(fact.join(dim, "k"))
    assert(salted == plain, s"salted $salted != plain $plain")
    assert(salted.exists { case (k, n, _) => k == 7L && n == 200100L },
      s"whale key missing its full row count: $salted")
  }

  test("identical-row whale: uniqueness-column salt spreads what " +
       "content-hash salt cannot") {
    // the content-hash degeneracy (VERDICT r12 #4): a whale key whose
    // rows are also VALUE-identical after projection — think
    // (key, constant_flag) — hashes every row to the same salt, so
    // the whale still pins one reducer. 200k identical rows:
    val fact = spark.range(0, 200000)
      .select(lit(7L).as("k"), lit("x").as("flag"),
              col("id").as("row_uid"))
    val dim = spark.range(0, 10)
      .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
    // content-hash salt over the PROJECTED columns: one bucket
    val contentSalt = fact
      .withColumn("s", pmod(xxhash64(struct(col("k"), col("flag"))), lit(8)))
      .select("s").distinct().count()
    assert(contentSalt == 1L,
      "fixture must be content-degenerate for the pin to mean anything")
    // uniqueness-column salt: the same rows spread ~uniformly
    val uidSalt = fact
      .withColumn("s", pmod(xxhash64(struct(col("row_uid"))), lit(8)))
      .select("s").distinct().count()
    assert(uidSalt == 8L, s"row-uid salt hit only $uidSalt of 8 buckets")
    // and the salted join still computes exactly the plain answer
    def agg(df: DataFrame) = df.groupBy(col("k"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = agg(SkewJoin.saltedJoin(fact, dim, "k", 8,
                                         uniquenessCol = Some("row_uid")))
    assert(salted == agg(fact.join(dim, "k")) &&
           salted.contains((7L, 200000L)), s"got $salted")
  }

  test("q85 stopword token: df-capped postings, hot token carries no list") {
    val df = Sampling.q85InvertedIndex(spark, tmp, dfCap = 20)
    assertCollectsBehindCapJoin(df, "q85")
    val got = df.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.getString(4))))).toMap
    // hot token: full df reported, posting list never collected
    assert(got("c0") == ((300L, None)), s"got ${got("c0")}")
    // rare token: exact md5 posting list
    assert(got("p0")._1 == 2L && got("p0")._2.isDefined)
    assert(got("u5a") == ((1L,
      Some(java.security.MessageDigest.getInstance("MD5")
        .digest("5".getBytes).map("%02x".format(_)).mkString))))
  }
}

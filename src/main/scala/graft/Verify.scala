package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2)
      sys.error(s"expected 2 arguments, got ${args.length} (usage: graft.Verify <sfDir> <outDir>)")
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // local-iteration filters, by name prefix: SPARK_GRAFT_ONLY=q73,q74
    // limits the dump; SPARK_GRAFT_SKIP=q59 excludes queries whose
    // OUTPUT is adjudicated infeasible on a given fixture (e.g. q59's
    // pair set is output-quadratic on a Zipf corpus — SCALE.md round
    // 13). Neither set → full run.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"), sys.env.get("SPARK_GRAFT_SKIP"))
    selected.foreach { case Query(name, fn, _, _) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) =
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
      // intra-query persists (q24, q35) must not accumulate across
      // the 60+ query dump — same isolation as Bench
      spark.catalog.clearCache()
    }
    def q(s: String): String = JsonUtil.esc(s)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(selected.map(_.name).toSet))
    // failed queries, as machine-readable evidence (ADVICE r1: never
    // swallow — a missing result parquet alone is ambiguous)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries failed")
    spark.stop()
  }

  /** oracle_sql.json for the queries `names`: their oracles only, so a
    * partial dump is checked on what it ran — a selected query that
    * threw still has its oracle, and fails as a missing result. */
  private[graft] def oracleJson(names: Set[String]): String =
    SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${JsonUtil.esc(k)}: ${JsonUtil.esc(v)}" }
      .mkString("{", ",", "}")
}

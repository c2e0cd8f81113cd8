package graft

/** `Session.local` is the only place the local-session policy is set
  * (the forked test JVM passes no `-Dspark.*` flags), so each setting
  * is read back from the conf the shared session's context started
  * with. The mains that call it reject bad arguments with a usage
  * message before building a session. */
class SessionSpec extends SparkSpec {

  test("Session.local(\"4\"): local[4], 4 shuffle partitions, UTC, no UI") {
    val sc = spark.sparkContext
    val conf = sc.getConf
    assert(sc.master == "local[4]")
    assert(conf.getOption("spark.sql.shuffle.partitions").contains("4"))
    assert(conf.getOption("spark.sql.session.timeZone").contains("UTC"))
    assert(conf.getOption("spark.ui.enabled").contains("false"))
    assert(sc.uiWebUrl.isEmpty)
  }

  test("Verify: a wrong argument count raises the usage error") {
    Seq(Array.empty[String], Array("sf"), Array("sf", "out", "extra")).foreach { args =>
      val e = intercept[RuntimeException](Verify.main(args))
      assert(e.getMessage == s"expected 2 arguments, got ${args.length} " +
        "(usage: graft.Verify <sfDir> <outDir>)")
    }
  }

  test("Verify: oracle_sql.json holds the selected oracles; a full run holds all, unchanged") {
    val all = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonUtil.esc(k)}: ${JsonUtil.esc(v)}" }.mkString("{", ",", "}")
    assert(Verify.oracleJson(SparkEntry.queries.keySet) == all)
    val names = Set("q156_stream_late_data", "q236_stream_dedup_ttl")
    val partial = Verify.oracleJson(names)
    assert("\"(q\\d+_\\w+)\": ".r.findAllMatchIn(partial).map(_.group(1)).toSet == names)
    assert(names.forall(n => partial.contains(JsonUtil.esc(SparkEntry.oracleSql(n)))))
  }

  test("Explain: a missing or unknown query name raises the usage error") {
    val usage = "(usage: graft.Explain <sfDir> <queryName> [queryName ...])"
    Seq(Array.empty[String], Array("sf")).foreach { args =>
      val e = intercept[RuntimeException](Explain.main(args))
      assert(e.getMessage == s"expected an sf directory and at least one query name $usage")
    }
    val e = intercept[RuntimeException](Explain.main(Array("sf", "q01_pricing_summary", "q0")))
    assert(e.getMessage == s"unknown query: q0 $usage")
  }
}

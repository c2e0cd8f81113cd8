package graft

/** `Session.local` is the only place the local-session policy is set
  * (the forked test JVM passes no `-Dspark.*` flags), so each setting
  * is read back from the conf the shared session's context started
  * with. */
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
}

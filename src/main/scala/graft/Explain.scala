package graft

/** Dev tool: print the formatted physical plan and timed execution of
  * one or more queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val usage = "(usage: graft.Explain <sfDir> <queryName> [queryName ...])"
    if (args.length < 2) sys.error(s"expected an sf directory and at least one query name $usage")
    val sfDir = args.head
    val names = args.tail.toSeq
    names.filterNot(SparkEntry.queries.contains).foreach(n => sys.error(s"unknown query: $n $usage"))
    val spark = Session.local()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      // warm + timed runs
      df.write.mode("overwrite").format("noop").save()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"[explain] $name timed: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}

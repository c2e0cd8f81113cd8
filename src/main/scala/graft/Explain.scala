package graft

/** Dev tool: print the formatted physical plan and timed execution of
  * one or more queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
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

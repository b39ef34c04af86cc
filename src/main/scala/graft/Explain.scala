package graft

/** Dev tool: print the formatted physical plan (and row count) of one
  * registered query — the `.explain("formatted")` iteration loop the
  * scale work depends on.
  *
  * Usage: Explain <queryName|entry> [sfDir] [--run]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("entry")
    val sfDir = args.drop(1).headOption.filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.001")
    val run = args.contains("--run")
    val spark = LocalSession("graft-explain", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val df =
      if (name == "entry") SparkEntry.entry(spark)
      else SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (run) {
      val t0 = System.nanoTime()
      println(s"rows=${df.count()} in ${(System.nanoTime() - t0) / 1e9} sec")
      df.show(5, truncate = false)
    }
    spark.stop()
  }
}

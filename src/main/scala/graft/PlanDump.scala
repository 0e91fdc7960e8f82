package graft

/** Dump `explain("formatted")` for named queries to files
  * (plans/<round>/<qNN>_{before,after}.txt). Usage:
  * `PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>` — runs each query's
  * declared setup first (plans of index serves depend on the fixture),
  * then renders the plan of the query's returned DataFrame without
  * executing it (queries whose run() itself drives actions — streaming
  * drains, DDL — execute those as part of run(), as in Verify).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val suffix = args(2)
    val names = args(3).split(',').map(_.trim).filter(_.nonEmpty).toSet
    val spark = GraftSession.create()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    for (d <- SparkEntry.allDefs.sortBy(_.name)
        if names(d.name) || names(Bench.shortKey(d.name))) {
      spark.sparkContext.setJobDescription(s"plandump ${d.name}")
      d.setup.foreach(_(spark, dir))
      val df = d.run(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/${Bench.shortKey(d.name)}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"PLANDUMP wrote ${d.name} -> $out")
    }
    spark.stop()
  }
}

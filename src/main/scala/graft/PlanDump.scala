package graft

/** Dump `explain("formatted")` for named queries to files
  * (plans/<round>/<qNN>_{before,after}.txt). Usage:
  * `PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>` — runs each query's
  * declared setup first (plans of index serves depend on the fixture),
  * then runs the query's returned DataFrame (`collect()`) and renders
  * that same execution, so the dump is the plan that ran: AQE's final
  * plan (`isFinalPlan=true`), with the exchanges it reused or removed at
  * run time. Queries whose run() itself drives actions (streaming drains,
  * DDL) execute those as part of run(), as in Verify.
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
      df.collect()
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

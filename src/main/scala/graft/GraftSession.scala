package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of graft's driver mains (Bench, Verify,
  * PlanDump, SqlRepl): binds the `file://` fast path before any local
  * filesystem use, runs `local[N]` with N shuffle partitions, where N is
  * `SPARK_GRAFT_CPUS` (default 4), pins the UTC session time zone, AQE
  * and graft's SQL extensions, registers the RegionSpan UDT and logs at
  * WARN. `confs` are set on top of the shared ones. */
object GraftSession {
  def create(confs: (String, String)*): SparkSession = {
    graft.sources.FastLocalFileSystem.install() // before any file:// use
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = confs.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.types.RegionSpanUDT.register()
    spark
  }
}

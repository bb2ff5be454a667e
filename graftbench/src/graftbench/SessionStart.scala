package graftbench

import java.nio.file.Paths

/** Starts the benchmark's Spark session and sets up every workload once,
  * then stops: the JVM the build runs this in dumps the classes it loaded
  * into the class-data-sharing archive the runs start from, so a run's
  * first set-up loads few classes from the jars.
  *
  *   graftbench.SessionStart <scratch dir>
  */
object SessionStart {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(2, work)
    try {
      val ctx = new Ctx(spark, 1L, new Tracer(spark, enabled = false))
      Main.Workloads.foreach { case (name, workload) => workload().setup(ctx, work.resolve(name)) }
    } finally spark.stop()
  }
}

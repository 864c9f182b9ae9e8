package perfbench

import org.apache.spark.sql.SparkSession

/** Session start and `setup_s`: the time from JVM start to the start of
  * measurement. */
object Setup {

  private def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def session(ctx: Ctx): SparkSession = {
    val spark = Main.session(ctx.args.cores, ctx.args.work)
    ctx.tracer.install(spark)
    ctx.result.metric("setup.session_s", sinceJvmStart)
    spark
  }

  /** Marks the start of measurement: `setup_s` covers JVM and session
    * start, input generation and warm-up; `setup.work_s` is its part after
    * the session. */
  def done(ctx: Ctx): Unit = {
    val s = sinceJvmStart
    ctx.result.metric("setup_s", s)
    ctx.result.metric("setup.work_s", s - ctx.result.get("setup.session_s").getOrElse(0.0))
  }
}

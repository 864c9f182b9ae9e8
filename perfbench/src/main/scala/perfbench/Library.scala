package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The pinned slice of `SparkEntry.queries`: every operator family, the
  * three heaviest graph/similarity queries, the round-12 regressions and a
  * few sub-second queries where fixed per-query overhead shows. Each query
  * runs cold (cache cleared before it) under its own job group, and its
  * collected result must match the row count and digest recorded in
  * `perfbench/record.json`. */
object Library {

  final case class Expect(rows: Long, hash: Long)

  /** Pinned names in run order, and their recorded digests. */
  def load(ctx: Ctx): Seq[(String, Option[Expect])] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(ctx.args.record)).get("library")
    val digests = root.get("digests")
    scala.jdk.CollectionConverters.IteratorHasAsScala(root.get("pinned").elements()).asScala
      .map(_.asText()).toSeq.map { q =>
        q -> Option(digests.get(q)).map(d => Expect(d.get("rows").asLong(), d.get("hash").asLong()))
      }
  }

  def runSlice(ctx: Ctx, spark: SparkSession, pinned: Seq[(String, Option[Expect])], dir: String): Unit = {
    val t = ctx.tracer
    val queries = SparkEntry.queries
    t.span("library") {
      pinned.foreach { case (q, want) =>
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.setJobGroup(s"lib.$q", q)
        val got = try {
          val fn = queries(q)
          var df: org.apache.spark.sql.DataFrame = null
          val rows = t.span(s"lib.$q") {
            df = fn(spark, dir)
            df.collect()
          }
          Some(Reads.digestRows(spark, df, rows))
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] library $q failed: $e")
          None
        } finally spark.sparkContext.clearJobGroup()
        got.foreach(g => System.err.println(s"[perfbench] library $q rows=${g.rows} hash=${g.hash}"))
        ctx.result.check(s"library $q output", 1,
          if (got.isDefined && want.contains(Expect(got.get.rows, got.get.hash))) 0 else 1)
      }
    }
    spark.sharedState.cacheManager.clearCache()
  }

  /** Per query: wall seconds, jobs, shuffle MB written and the
    * driver-side seconds (wall minus the union of its job spans);
    * `library_s` is the sum of the query times. */
  def record(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val spans = t.allSpans.filter(_.name.startsWith("lib."))
    spans.foreach { sp =>
      val q = sp.name.stripPrefix("lib.")
      val jobs = t.allJobs.filter(_.group == s"lib.$q")
      ctx.result.metric(s"operators.$q.s", sp.seconds)
      ctx.result.metric(s"operators.$q.jobs", jobs.size.toDouble)
      ctx.result.metric(s"operators.$q.shuffle_mb", jobs.map(_.shuffleWrite).sum / 1e6)
      ctx.result.metric(s"operators.$q.driver_s",
        sp.seconds - t.unionMs(jobs.map(j => (j.startMs, j.endMs))) / 1000.0)
    }
    ctx.result.metric("library_s", spans.map(_.seconds).sum)
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <n> --work <dir> --out <file> --record <file>
  *
  * and writes {correct, attempted, failed, metrics} to `--out`. Every file
  * it touches lives under `--work`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: String, out: String, record: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("work"), m("out"), m("record"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stopTimeout", "60s")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val result = new Result
    val ctx = new Ctx(args, result)
    try {
      args.workload match {
        case "stream_ops" => StreamOps.run(ctx)
        case "batch_mix" => BatchMix.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      result.metric("peak_rss_mb", Ctx.peakRssMb())
      ctx.tracer.writeSpans(s"${args.work}/spans.jsonl")
      result.write(args.out)
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}

/** Per-run context: arguments, the result being built, and the tracer. */
final class Ctx(val args: Main.Args, val result: Result) {
  val tracer = new Tracer(args.trace)
  def dir(name: String): String = {
    val d = new java.io.File(args.work, name)
    d.mkdirs()
    d.getPath
  }
}

object Ctx {
  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def dataFiles(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (!f.exists()) Nil
    else if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
    else Option(f.listFiles()).map(_.toSeq.flatMap(c => dataFiles(c.getPath))).getOrElse(Nil)
  }

  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rmrf(c.getPath)))
    f.delete()
  }
}

/** Correctness accounting and named metrics of one run. */
final class Result {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L
  private val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  private var parent: Option[Result] = None

  def metric(name: String, value: Double): Unit = metrics(name) = value
  def get(name: String): Option[Double] = metrics.get(name)

  /** A result for a nested run: its own metrics, its checks counted here. */
  def sub: Result = { val r = new Result; r.parent = Some(this); r }

  /** `n` operations were attempted and `bad` of them failed. */
  def check(what: String, n: Long, bad: Long): Unit = synchronized {
    parent.foreach(_.check(what, n, bad))
    attempted += n
    failed += bad
    if (bad > 0 && parent.isEmpty) {
      problems += s"$what: $bad of $n failed"
      System.err.println(s"[perfbench] CHECK FAILED $what: $bad of $n")
    }
  }

  def write(path: String): Unit = {
    val ms = metrics.map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      "\"" + k + "\":" + num
    }.mkString("{", ",", "}")
    val probs = problems.map(p => "\"" + p.replaceAll("[\\\\\"\\p{Cntrl}]", " ") + "\"")
      .mkString("[", ",", "]")
    val json = s"""{"correct":${failed == 0 && attempted > 0},"attempted":${math.max(attempted, 1)},""" +
      s""""failed":$failed,"problems":$probs,"metrics":$ms}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}

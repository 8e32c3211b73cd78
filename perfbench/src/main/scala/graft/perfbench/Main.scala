package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, out: Path, data: Path, corrupt: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), Paths.get(need("data")), m.getOrElse("corrupt", ""))
  }
}

/** What a workload hands back: operation counts, named metrics, output
  * checks and digests. Metric names are the ones in BENCHMARK.json. The
  * digests are compared with the ones recorded under `digestKey`: every
  * input the outputs depend on (seed, iteration count) is part of it. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var digestKey = ""
  val metrics = ArrayBuffer[(String, Double, String)]()
  val checks = ArrayBuffer[(String, Boolean, String)]()
  val digests = ArrayBuffer[(String, String)]()

  def metric(name: String, value: Double, unit: String): Unit = metrics += ((name, value, unit))

  /** Record an output check; a failed check fails every operation whose
    * output it covers. */
  def check(name: String, ok: Boolean, detail: String, covers: Long): Unit = {
    checks += ((name, ok, detail))
    if (!ok) failed = math.min(attempted, failed + covers)
  }
}

/** Everything a workload needs: the session, its arguments and the tracer. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val spans = new Spans(spark.sparkContext, tracer)
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Set-up time: seconds from JVM start to `untilMs` (epoch ms), the
    * start of the first timed call. */
  def setupSeconds(untilMs: Long = System.currentTimeMillis()): Double =
    (untilMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Run `f` inside a span when tracing, else just run it. */
  def span[T](name: String)(f: => T): T = if (args.trace) spans(name)(f) else f

  def corrupt(name: String): Boolean = args.corrupt == name
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val loadAvg = Host.loadAvg()
    val spark = Session.start(args.work)
    val tracer = new Tracer(detail = args.trace)
    spark.sparkContext.addSparkListener(tracer)
    val ctx = new Ctx(spark, args, tracer)
    val res = new Result
    val error = try {
      args.workload match {
        case "crawl-small" => CrawlSmall.run(ctx, res)
        case "corpus-ops" => CorpusOps.run(ctx, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      None
    } catch {
      // an operation that throws is a failure, never a fast time
      case e: Throwable =>
        e.printStackTrace()
        res.attempted = math.max(res.attempted, 1L)
        res.failed = res.attempted
        Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    res.metric("jvm.peak_rss_mb", Host.peakRssMb(), "MB")
    if (args.trace) res.metric("trace.listener_s", tracer.listenerSeconds, "s")
    val host = Host.stamp(spark, loadAvg)
    val spans = if (args.trace) ctx.spans.names.map(n => n -> ctx.spans.counters(n)) else Nil
    spark.stop()
    Files.writeString(args.out, Json.result(res, spans, host, error), StandardCharsets.UTF_8)
  }
}

/** The session every workload runs on: local mode over all host cores,
  * as `graft.frontier.CrawlMain` builds it. */
object Session {
  def start(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0s")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Host facts stamped on every result, all read from the host itself. */
object Host {
  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def stamp(spark: SparkSession, loadAvg: String): Seq[(String, String)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "spark_master" -> spark.sparkContext.master,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / (1024 * 1024)).toString,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "loadavg_start" -> loadAvg)
}

/** Minimal JSON writer for the result file run.py reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def result(r: Result, spans: Seq[(String, Counters)], host: Seq[(String, String)],
             error: Option[String]): String = {
    val metrics = r.metrics.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    val checks = r.checks.map { case (n, ok, d) => s"{\"name\": ${str(n)}, \"ok\": $ok, \"detail\": ${str(d)}}" }
    val digests = r.digests.map { case (n, d) => s"${str(n)}: ${str(d)}" }
    val hostJ = host.map { case (k, v) => s"${str(k)}: ${str(v)}" }
    val spansJ = spans.map { case (n, c) =>
      s"${str(n)}: {\"wall_s\": ${num(c.wallS)}, \"jobs\": ${c.jobs}, \"tasks\": ${c.tasks}, " +
        s"\"run_s\": ${num(c.runS)}, \"cpu_s\": ${num(c.cpuS)}, \"gc_s\": ${num(c.gcS)}, " +
        s"\"shuffle_mb\": ${num(c.shuffleMb)}, \"spill_mb\": ${num(c.spillMb)}}"
    }
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, "error": ${error.map(str).getOrElse("null")},
       |"digest_key": ${str(r.digestKey)},
       |"metrics": {${metrics.mkString(", ")}},
       |"checks": [${checks.mkString(", ")}],
       |"digests": {${digests.mkString(", ")}},
       |"spans": {${spansJ.mkString(", ")}},
       |"host": {${hostJ.mkString(", ")}}}
       |""".stripMargin
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports: metrics, operation counts and the checks. */
final class Result {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  val checks: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** One operation of the workload (a batch, trigger, poll, query or
    * lookup) and whether it succeeded. */
  def op(ok: Boolean): Unit = synchronized { attempted += 1; if (!ok) failed += 1 }

  /** A correctness check: counted as an operation, failed when false. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    op(ok)
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def str(k: String, v: String): Unit = info(k) = Json.str(v)
  def num(k: String, v: Double): Unit = info(k) = Json.num(v)

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val inf = info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString("[", ",", "]")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$ms,"info":$inf,"checks":$cs}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Everything a workload needs: the session, its arguments, the tracer,
  * the result it fills and a scratch directory of its own. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val dataDir: String, val work: Path,
                val cores: Int, val result: Result, val tracer: Tracer,
                val fault: String) {
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Seconds from process start until the session was usable. */
  val sessionReadyS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  /** Time one workload set-up (data generation, mirror seeding, warm-up).
    * `setup_s` is the session start plus the median set-up: `replicate`
    * sets up twice, `analytics` once. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setups += (System.nanoTime() - t0) / 1e9
    r
  }

  def reportSetup(): Unit = {
    result.metric("setup_s", sessionReadyS + Stats.median(setups), "s")
    result.num("session_ready_s", sessionReadyS)
    result.info("workload_setups_s") =
      setups.map(Json.num).mkString("[", ",", "]")
  }

  /** Directory size in bytes. */
  def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** Benchmark main. Usage:
  * `perfbench.Main --workload replicate|analytics --seed N
  *  --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  *  [--fault poison]`; `--fault poison` drops one planted poison record
  * from the expected dead letters, so the DLQ check must fail.
  * Writes the run's result JSON to `--out` (and spans next to it when
  * tracing); `run.py` prints it. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = graft.GraftSession.build(master = s"local[$cores]",
      appName = "perfbench", shufflePartitions = cores)
    val result = new Result
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    val ctx = new Ctx(spark, args("seed").toLong, args("seconds").toDouble,
      args("trace") == "1", args("data"), work, cores, result, tracer,
      args.getOrElse("fault", "none"))
    result.str("workload", workload)
    result.num("seed", ctx.seed)
    result.num("seconds", ctx.seconds)
    result.num("trace", if (ctx.trace) 1 else 0)
    result.str("spark_version", spark.version)
    result.str("jdk", System.getProperty("java.version"))
    result.str("threads", s"spark local[$cores]; one client thread")
    try {
      workload match {
        case "replicate" => Replicate.run(ctx)
        case "analytics" => Analytics.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      if (ctx.trace) tracer.write(Paths.get(args("out") + ".spans.jsonl"))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result.check("workload_completed", ok = false,
          s"${e.getClass.getName}: ${e.getMessage}")
    }
    Files.writeString(Paths.get(args("out")), result.toJson)
    spark.stop()
    // exit even if a thread the program started is still alive
    sys.exit(0)
  }
}

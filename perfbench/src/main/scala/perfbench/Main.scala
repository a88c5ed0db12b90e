package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to the harness. Metric maps hold
  * values only; units follow from the metric names (see [[Metrics]]). */
final case class Outcome(setupS: Double,
                         endToEnd: Map[String, Double],
                         perLayer: Map[String, Double],
                         ops: Seq[OpRecord])

/** One timed operation: its name, seconds, and the reason it failed
  * (an exception or a mismatch against the expected output), if any. */
final case class OpRecord(name: String, seconds: Double,
                          failure: Option[String] = None)

/** Everything a workload needs: the session, its seed and time budget,
  * the tracer, a scratch directory of its own and the benchmark's data. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                     seconds: Int, tracer: Tracer, work: Path, data: Path) {
  /** Runs `body` as operation `name`, turning a throw into a failure. */
  def attempt(name: String)(body: => Option[String]): OpRecord = {
    val t0 = System.nanoTime()
    val failure =
      try tracer.operation(name)(body)
      catch { case e: Throwable => Some(Main.reason(e)) }
    OpRecord(name, (System.nanoTime() - t0) / 1e9, failure)
  }
}

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --data <dir> [--commit <id>]`.
  * Prints the run's metrics as one JSON object on the last line of
  * standard output and writes the run's artifacts (provenance, every
  * operation with its failure reason, spans) to `<work>/artifacts.json`. */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "scan_poll" -> ScanPoll.run,
    "catalog_mix" -> CatalogMix.run)

  def reason(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val data = Paths.get(args("data")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.build(cores.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, traced)
    tracer.start()
    val gc0 = Jvm.gcSeconds
    val out = run(Ctx(spark, workload, seed, seconds, tracer, work, data))
    val gcS = Jvm.gcSeconds - gc0
    tracer.stop()
    val liveMb = Jvm.liveHeapMb()
    spark.stop()

    val attempted = out.ops.size
    val failed = out.ops.count(_.failure.nonEmpty)
    val prefix = Metrics.prefix(workload)
    val tempLeft = Metrics.bytesUnder(Paths.get(System.getProperty("java.io.tmpdir"))) +
      Option(System.getProperty("spark.local.dir")).map(d => Metrics.bytesUnder(Paths.get(d))).getOrElse(0L)
    val metrics: Map[String, Double] =
      if (!traced) out.endToEnd ++ Map(
        "setup_s" -> (sessionS + out.setupS),
        "live_heap_mb" -> liveMb,
        "ok_op_ratio" -> (attempted - failed).toDouble / attempted.max(1))
      else Metrics.perLayer.map(_ -> 0.0).toMap ++ out.perLayer ++ Map(
        s"$prefix.error_log_lines" -> tracer.errorLines.values.sum.toDouble,
        s"$prefix.temp_bytes_left" -> tempLeft.toDouble,
        s"$prefix.gc_s" -> gcS)

    val provenance = Map(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "cores" -> cores.toString,
      "commit" -> Json.str(args.getOrElse("commit", "unknown")),
      "spark" -> Json.str(spark.version))
    val artifacts = Json.obj(provenance ++ Map(
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "error_log_lines_by_op" -> Json.obj(tracer.errorLines.toMap.map { case (k, v) => k -> v.toString }),
      "error_log_samples" -> Json.arr(tracer.errorSamples.map(Json.str)),
      "ops" -> Json.arr(out.ops.map(o => Json.obj(Map(
        "name" -> Json.str(o.name), "s" -> Json.num(o.seconds),
        "failure" -> o.failure.fold("null")(Json.str))))),
      "spans" -> Json.arr(tracer.allSpans.map(s => Json.obj(Map(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "s" -> Json.num(s.seconds)))))))
    Files.write(work.resolve("artifacts.json"), artifacts.getBytes(UTF_8))
    out.ops.filter(_.failure.nonEmpty).take(5).foreach(o =>
      System.err.println(s"[perfbench] failed ${o.name}: ${o.failure.get}"))

    println("[perfbench] provenance " + Json.obj(provenance))
    val result = Json.obj(Map(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.obj(Map("value" -> Json.num(v), "unit" -> Json.str(Metrics.unit(k))))
      })))
    println(result)
  }
}

/** Metric names and units shared by every workload. */
object Metrics {
  /** Reported with tracing off, by every workload. */
  val endToEnd: Seq[String] = Seq(
    "setup_s", "live_heap_mb", "ok_op_ratio", "op_p50_s", "op_tail_s", "ops_per_s")

  def prefix(workload: String): String =
    if (workload == "scan_poll") "scan" else "catalog"

  private def hygiene(p: String) =
    Seq(s"$p.error_log_lines", s"$p.temp_bytes_left", s"$p.gc_s", s"$p.trace_overhead_s")

  /** Reported with tracing on. A run reports every name; the layers
    * another workload exercises read 0 there. */
  lazy val perLayer: Seq[String] =
    ScanPoll.perLayer ++ hygiene("scan") ++
      CatalogMix.perLayer ++ RegistryChurn.perLayer ++ hygiene("catalog")

  def unit(name: String): String = name match {
    case "live_heap_mb" => "MB"
    case n if n.endsWith("_per_s") => "1/s"
    case n if n.endsWith("_s") || n.endsWith(".s") || n.contains("_s_per_") => "s"
    case n if n.endsWith("ratio") || n.endsWith("recall") || n.endsWith("_per_ingested_byte") => "ratio"
    case n if n.contains("bytes") => "bytes"
    case _ => "count"
  }

  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  def parquetFiles(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(x max 1e-9)).sum / xs.size.max(1))

  /** Stats over a span set: summed seconds, jobs, stages, task time,
    * shuffle and spill bytes, driver gap. */
  def stageSums(t: Tracer, spans: Seq[Span]): Map[String, Double] = {
    val st = spans.map(t.inclusive).foldLeft(StageStats.zero)(_ + _)
    Map("s" -> spans.map(_.seconds).sum, "jobs" -> st.jobs.toDouble,
      "stages" -> st.stages.toDouble, "tasks" -> st.tasks.toDouble, "task_s" -> st.taskS,
      "shuffle_bytes" -> st.shuffleBytes.toDouble,
      "spill_bytes" -> st.spillBytes.toDouble,
      "driver_gap_s" -> spans.map(t.driverGapS).sum)
  }
}

/** Just enough JSON writing for the result line and the artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

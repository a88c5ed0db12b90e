package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** catalog_mix: batch curation and retrieval entries of the query
  * catalog, each timed on its full output, plus one block of registry
  * churn whose documents come from the seed. The catalog's tables are
  * fixed test data, and the order is fixed too: an entry's time right
  * after warm-up depends on what ran before it, so a seeded order
  * would add that to the run-to-run spread.
  *
  * The mix covers entries where a `count()` lets Catalyst prune most of
  * the work (q01, q06, q07, q56, q74), the banksy pipeline as a batch
  * plan (q29, q71), the LSH dedup and PQ ANN operators, a probe of a
  * persisted graph registry (q228), and the registry write path
  * ([[RegistryChurn]]). Unlike scan_poll it is bound by data and task
  * time rather than by the per-job scheduling floor. */
object CatalogMix {
  val Mix: Seq[String] = Seq(
    "q01_pricing_summary", "q06_window_share", "q07_pair_id",
    "q56_quantiles", "q74_lead_lag",
    "q29_arbitrage_pipeline", "q71_scores_pipeline",
    "q169_prefix_filter_pairs", "q202_capped_semdedup", "q213_pq_ann",
    "q228_graphreg_probe")

  val WarmupThreads = 4
  /** The pass item that runs one block of registry churn. */
  val Registry = "registry"

  /** The tables, a copy of the catalog's sf0.01 test data. */
  def tables(data: Path): Path = data.resolve("sf0.01")

  val perLayer: Seq[String] =
    Mix.flatMap(e => Seq(s"catalog.$e.s", s"catalog.$e.jobs", s"catalog.$e.driver_gap_s")) ++
      Seq("catalog.plan_s", "catalog.jobs", "catalog.stages", "catalog.tasks", "catalog.task_s",
        "catalog.shuffle_bytes", "catalog.spill_bytes", "catalog.driver_gap_s",
        "catalog.total_s", "catalog.geomean_s")

  /** A float column with -0.0 folded into 0.0, so the digest matches
    * what an equality check on values would accept. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => when(c === 0, lit(0).cast(t)).otherwise(c)
    case _: MapType => to_json(c)
    case _ => c
  }

  /** The timed action: an order-independent digest of every output
    * column (row count and the sum of per-row 64-bit hashes). Hashing
    * every column keeps Catalyst from pruning any part of the plan,
    * which a `count()` would allow. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  /** Digests recorded from output that passed the DuckDB oracle check. */
  def expected(data: Path): Map[String, String] = {
    val text = new String(Files.readAllBytes(data.resolve("catalog_digests.json")), UTF_8)
    "\"(q[0-9a-z_]+)\"\\s*:\\s*\"([0-9:-]+)\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Plans and digests one entry; returns the mismatch, if any. */
  private def entry(ctx: Ctx, name: String, want: Option[String]): Option[String] = {
    val t = ctx.tracer
    val fn = graft.SparkEntry.queries(name)
    val sf = tables(ctx.data).toString
    val (got, _) = t.span(s"queries.$name") {
      val (df, _) = t.span("plan")(fn(ctx.spark, sf))
      t.span("action")(digest(df))._1
    }
    want match {
      case None => Some(s"no expected digest for $name")
      case Some(w) if w != got => Some(s"digest $got, expected $w")
      case _ => None
    }
  }

  def run(ctx: Ctx): Outcome = {
    val want = expected(ctx.data)
    val t0 = System.nanoTime()
    // warm-up pass (JIT, codegen and the entries' per-JVM stores) on
    // WarmupThreads driver threads: it is set-up, and the entries are
    // independent; a failure here shows again in the measured pass
    val sf = tables(ctx.data).toString
    val churn = new RegistryChurn(ctx)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupThreads)
    try {
      val prefill = pool.submit(new Runnable {
        def run(): Unit = try churn.prefill() catch { case _: Throwable => () }
      })
      Mix.map(e => pool.submit(new Runnable {
        def run(): Unit =
          try digest(graft.SparkEntry.queries(e)(ctx.spark, sf))
          catch { case _: Throwable => () }
      })).foreach(_.get())
      prefill.get()
    } finally pool.shutdown()
    val setupS = (System.nanoTime() - t0) / 1e9

    val t = ctx.tracer
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    // entry -> seconds of its traced and its untraced runs
    val traced, untraced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(m: mutable.Map[String, mutable.ArrayBuffer[Double]], r: OpRecord) =
      m.getOrElseUpdate(r.name, mutable.ArrayBuffer.empty) += r.seconds
    val start = System.nanoTime()
    var pass = 0
    // Passes are whole: another one starts only if it fits in the run's
    // seconds. A traced run traces half the items in each
    // pass, swapping halves between passes, so each item is timed both
    // ways and the passes' own drift cancels out of the tracing overhead.
    def more = pass < (if (t.traced) 2 else 1) ||
      (System.nanoTime() - start) / 1e9 + passTotals.last <= ctx.seconds
    while (more) {
      val items = Mix :+ Registry
      val recs = items.flatMap { e =>
        val on = !t.traced || (items.indexOf(e) + pass) % 2 == 1
        def body: Seq[OpRecord] =
          if (e == Registry) churn.block(record = on)
          else Seq(ctx.attempt(e)(entry(ctx, e, want.get(e))))
        val rs = if (on) body else t.paused(body)
        rs.foreach(add(if (on) traced else untraced, _))
        rs
      }
      ops ++= recs
      passTotals += recs.map(_.seconds).sum
      pass += 1
    }

    def median(m: mutable.Map[String, mutable.ArrayBuffer[Double]], e: String) =
      Metrics.quantile(m(e).toSeq, 0.5)
    // per-operation medians: the entries and the registry's operations
    val opS = traced.keys.map(e => e -> median(traced, e)).toMap
    val geo = Metrics.geomean(opS.values.toSeq)
    val e2e = Map(
      "op_p50_s" -> geo,
      "op_tail_s" -> Metrics.quantile(opS.values.toSeq, 0.9),
      "ops_per_s" -> ops.size / passTotals.sum)

    val perLayer =
      if (!t.traced) Map.empty[String, Double]
      else {
        t.drain()
        val spans = t.allSpans
        // the traced entry spans: the only top-level spans whose jobs
        // were attributed
        val entrySpans = spans.filter(s => s.parent == 0 && s.name.startsWith("queries.") &&
          t.inclusive(s).jobs > 0)
        val ids = entrySpans.map(_.id).toSet
        val perName = entrySpans.groupBy(_.name.stripPrefix("queries."))
        val n = perName.map { case (e, ss) => e -> ss.size.toDouble }
        val stats = perName.map { case (e, ss) => e -> Metrics.stageSums(t, ss) }
        def total(key: String) = stats.map { case (e, st) => st(key) / n(e) }.sum
        val planS = spans.filter(s => s.name == "plan" && ids(s.parent))
          .groupBy(s => entrySpans.find(_.id == s.parent).get.name)
          .map { case (_, ps) => ps.map(_.seconds).sum / ps.size }.sum
        churn.perLayer() ++ stats.toSeq.flatMap { case (e, st) =>
          Seq(s"catalog.$e.s" -> st("s") / n(e),
            s"catalog.$e.jobs" -> st("jobs") / n(e),
            s"catalog.$e.driver_gap_s" -> st("driver_gap_s") / n(e))
        }.toMap ++ Map(
          "catalog.plan_s" -> planS,
          "catalog.jobs" -> total("jobs"),
          "catalog.stages" -> total("stages"),
          "catalog.tasks" -> total("tasks"),
          "catalog.task_s" -> total("task_s"),
          "catalog.shuffle_bytes" -> total("shuffle_bytes"),
          "catalog.spill_bytes" -> total("spill_bytes"),
          "catalog.driver_gap_s" -> total("driver_gap_s"),
          "catalog.total_s" -> passTotals.sum / pass,
          "catalog.geomean_s" -> geo,
          // the traced half's compaction rewrites; the untraced one's
          // finds nothing to do, so it is left out of the difference
          "catalog.trace_overhead_s" -> untraced.keys.toSeq.filter(_ != "registry_compact").map(e =>
            traced(e).sum / traced(e).size - untraced(e).sum / untraced(e).size).sum)
      }
    Outcome(setupS, e2e, perLayer, ops.toSeq)
  }
}

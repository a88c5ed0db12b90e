package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.NearDupRegistry

/** Seeded documents for the near-dup registry. Texts are word sequences
  * over a synthetic vocabulary, so two fresh documents share almost no
  * word 3-grams, while a one-word edit keeps ~90% of them. */
final class DocGen(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private val vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po",
      "de", "va", "zu", "fe", "go", "hi", "bo", "ce")
    (0 until 4096).map { i =>
      Iterator.iterate(i + 17)(_ / 16).take(3).map(x => syl(x % 16)).mkString
    }.distinct
  }
  private var nextId = 0L
  def id(): Long = { nextId += 1; nextId }
  def fresh(): String =
    Seq.fill(40 + rng.nextInt(21))(vocab(rng.nextInt(vocab.size))).mkString(" ")
  /** Replaces one word in the middle of `text`. */
  def edit(text: String): String = {
    val w = text.split(' ')
    val i = w.length / 4 + rng.nextInt(w.length / 2)
    w(i) = "edited" + vocab(rng.nextInt(vocab.size))
    w.mkString(" ")
  }
  def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
}

/** One ingest batch with the generator's expectation. `dupOf` maps an
  * in-batch exact duplicate to the id of the earlier copy it repeats. */
final case class IngestBatch(docs: Seq[(Long, String)],
                             fresh: Set[Long], dupOf: Map[Long, Long],
                             historyCopies: Set[Long], edits: Set[Long])

final case class ProbeBatch(docs: Seq[(Long, String)], copies: Set[Long],
                            fresh: Set[Long], edits: Set[Long])

/** The inputs of the registry churn block, all derived from the seed. The
  * history the generator copies from is the set of documents that a
  * correct registry accepts, so the inputs never depend on the program. */
final class ChurnInputs(seed: Long) {
  private val g = new DocGen(seed)
  private val accepted = mutable.ArrayBuffer.empty[String]

  def ingest(size: Int): IngestBatch = {
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val fresh = mutable.Set.empty[Long]
    val dupOf = mutable.Map.empty[Long, Long]
    val copies = mutable.Set.empty[Long]
    val edits = mutable.Set.empty[Long]
    val nFresh = if (accepted.isEmpty) size * 3 / 4 else size / 2
    (0 until nFresh).foreach { _ =>
      val i = g.id(); fresh += i; docs += i -> g.fresh()
    }
    val freshDocs = docs.toIndexedSeq
    (0 until size / 8).foreach { _ =>
      val (orig, text) = g.pick(freshDocs)
      val i = g.id(); dupOf(i) = orig; docs += i -> text
    }
    if (accepted.nonEmpty) {
      val hist = accepted.toIndexedSeq
      (0 until size / 8).foreach { _ =>
        val i = g.id(); copies += i; docs += i -> g.pick(hist)
      }
      (0 until size / 4).foreach { _ =>
        val i = g.id(); edits += i; docs += i -> g.edit(g.pick(hist))
      }
    }
    // a correct registry keeps exactly the fresh documents; whether the
    // near-dup edits are caught is LSH's call, so history never grows
    // from them
    accepted ++= freshDocs.map(_._2)
    IngestBatch(docs.toSeq, fresh.toSet, dupOf.toMap, copies.toSet, edits.toSet)
  }

  def probe(size: Int): ProbeBatch = {
    val hist = accepted.toIndexedSeq
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    def add(n: Int, text: => String) =
      (0 until n).map { _ => val i = g.id(); docs += i -> text; i }.toSet
    val copies = add(size / 3, g.pick(hist))
    val fresh = add(size / 3, g.fresh())
    val edits = add(size - 2 * (size / 3), g.edit(g.pick(hist)))
    ProbeBatch(docs.toSeq, copies, fresh, edits)
  }

  def acceptedBytes: Long = accepted.map(_.getBytes(UTF_8).length.toLong).sum
}

/** Registry churn, the write path of the persisted registries, run as
  * one block of each catalog_mix pass: a near-dup-gated ingest into a
  * persisted NearDupRegistry with `dedupAppendBatch`, `compactIndex`
  * (it rewrites only once appends have fragmented the band index past
  * 4 * nBuckets files), then `ProbesPerPass` probe batches. The other
  * catalog entries only read persisted registries (q228), so this is
  * where a gain for reads that costs writes shows. */
final class RegistryChurn(ctx: Ctx) {
  import RegistryChurn._
  private val dir = ctx.work.resolve("registry")
  private val reg = new NearDupRegistry(
    dir.resolve("reg").toString, numPerm = 32, bands = 8, rowsPerBand = 4,
    simThreshold = 0.5)
  private val inputs = new ChurnInputs(ctx.seed)
  private var batchId = 0L

  val ingestSpans, compactSpans, probeSpans = mutable.ArrayBuffer.empty[Span]
  private var compactRuns = 0
  private var indexFilesMax = 0
  private var editsPlanted = 0
  private var editsCaught = 0

  private def frame(docs: Seq[(Long, String)]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def ingest(): (IngestBatch, DataFrame) = {
    val b = inputs.ingest(IngestSize)
    val out = reg.dedupAppendBatch(frame(b.docs), "doc_id", "text",
      dir.resolve("sink").toString, batchId)
    batchId += 1
    (b, out)
  }

  /** Set-up: gives the registry a history, so the measured block starts
    * on a fragmented index and its ingest pushes the index past the
    * compaction threshold. Calls the program directly, off the tracer,
    * so it can run beside the catalog's warm-up. */
  def prefill(): Unit = {
    (0 until PrefillBatches).foreach(_ => ingest())
    reg.probe(frame(inputs.probe(ProbeSize).docs), "doc_id", "text").collect()
  }

  /** One measured block; `record` is false for the untraced half of a
    * traced run, whose times only price the tracing. */
  def block(record: Boolean): Seq[OpRecord] = {
    val t = ctx.tracer
    val ingestOp = ctx.attempt("registry_ingest") {
      val ((b, out), sp) = t.span("operators.dedupAppendBatch")(ingest())
      val (err, caught) = checkIngest(b, ids(out))
      if (record) {
        ingestSpans += sp
        editsPlanted += b.edits.size; editsCaught += caught
        indexFilesMax = indexFilesMax max Metrics.parquetFiles(
          Paths.get(reg.indexLocation(ctx.spark).stripPrefix("file:")))
      }
      err
    }
    val compactOp = ctx.attempt("registry_compact") {
      val (ran, sp) = t.span("operators.compactIndex")(reg.compactIndex(ctx.spark))
      if (record) { compactSpans += sp; if (ran) compactRuns += 1 }
      None
    }
    val probeOps = (0 until ProbesPerPass).map { _ =>
      val p = inputs.probe(ProbeSize)
      val pdf = frame(p.docs)
      ctx.attempt("registry_probe") {
        val (flagged, sp) = t.span("operators.probe")(ids(reg.probe(pdf, "doc_id", "text")))
        val (err, caught) = checkProbe(p, flagged)
        if (record) {
          probeSpans += sp
          editsPlanted += p.edits.size; editsCaught += caught
        }
        err
      }
    }
    ingestOp +: compactOp +: probeOps
  }

  /** Layer metrics over the recorded blocks. */
  def perLayer(): Map[String, Double] = {
    val t = ctx.tracer
    def per(spans: Seq[Span], key: String) =
      Metrics.stageSums(t, spans)(key) / spans.size.max(1)
    val ing = ingestSpans.toSeq
    val prb = probeSpans.toSeq
    val probeS = prb.map(_.seconds)
    val written = Metrics.bytesUnder(dir)
    Map(
      "registry.ingest.s" -> per(ing, "s"),
      "registry.ingest.jobs" -> per(ing, "jobs"),
      "registry.ingest.task_s" -> per(ing, "task_s"),
      "registry.ingest.driver_gap_s" -> per(ing, "driver_gap_s"),
      "registry.ingest.shuffle_bytes" -> per(ing, "shuffle_bytes"),
      "registry.compact.s" -> per(compactSpans.toSeq, "s"),
      "registry.compact.runs" -> compactRuns.toDouble,
      "registry.probe.s" -> per(prb, "s"),
      "registry.probe.jobs" -> per(prb, "jobs"),
      "registry.probe.driver_gap_s" -> per(prb, "driver_gap_s"),
      "registry.index_files_max" -> indexFilesMax.toDouble,
      "registry.bytes_written" -> written.toDouble,
      "registry.near_dup_recall" -> editsCaught.toDouble / editsPlanted.max(1),
      "registry.ingest_docs_per_s" ->
        ing.size * IngestSize / (ing ++ compactSpans).map(_.seconds).sum,
      "registry.probe_p50_s" -> Metrics.quantile(probeS, 0.5),
      "registry.probe_p75_s" -> Metrics.quantile(probeS, 0.75),
      "registry.bytes_per_ingested_byte" -> written.toDouble / inputs.acceptedBytes)
  }
}

object RegistryChurn {
  val IngestSize = 400
  val ProbeSize = 200
  val ProbesPerPass = 3
  val PrefillBatches = 4

  val perLayer: Seq[String] = Seq(
    "registry.ingest.s", "registry.ingest.jobs", "registry.ingest.task_s",
    "registry.ingest.driver_gap_s", "registry.ingest.shuffle_bytes",
    "registry.compact.s", "registry.compact.runs",
    "registry.probe.s", "registry.probe.jobs", "registry.probe.driver_gap_s",
    "registry.index_files_max", "registry.bytes_written",
    "registry.near_dup_recall", "registry.ingest_docs_per_s",
    "registry.probe_p50_s", "registry.probe_p75_s",
    "registry.bytes_per_ingested_byte")

  /** Checks an ingest's survivors against the generator's expectation;
    * returns the mismatch, if any, and how many planted edits it caught. */
  def checkIngest(b: IngestBatch, survivors: Set[Long]): (Option[String], Int) = {
    val missing = b.fresh -- survivors
    val leaked = (b.dupOf.keySet ++ b.historyCopies) intersect survivors
    val unknown = survivors -- b.fresh -- b.edits -- b.dupOf.keySet -- b.historyCopies
    val problems = Seq(
      if (missing.nonEmpty) Some(s"fresh documents dropped: ${missing.toSeq.sorted.take(5)}") else None,
      if (leaked.nonEmpty) Some(s"exact duplicates kept: ${leaked.toSeq.sorted.take(5)}") else None,
      if (unknown.nonEmpty) Some(s"unknown ids returned: ${unknown.toSeq.sorted.take(5)}") else None
    ).flatten
    (if (problems.isEmpty) None else Some(problems.mkString("; ")),
      (b.edits -- survivors).size)
  }

  def checkProbe(b: ProbeBatch, flagged: Set[Long]): (Option[String], Int) = {
    val missed = b.copies -- flagged
    val wrong = flagged intersect b.fresh
    val problems = Seq(
      if (missed.nonEmpty) Some(s"exact copies not flagged: ${missed.toSeq.sorted.take(5)}") else None,
      if (wrong.nonEmpty) Some(s"fresh documents flagged: ${wrong.toSeq.sorted.take(5)}") else None
    ).flatten
    (if (problems.isEmpty) None else Some(problems.mkString("; ")),
      (flagged intersect b.edits).size)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** A claim measured on one seed can be re-checked on another only if
  * each seed always generates the same inputs. */
class InputsSpec extends AnyFunSuite {
  private def scan(seed: Long) = {
    val in = new ScanInputs(seed)
    ScanPoll.Sports.map(in.dimsCsv) ++ (0 until 6).map(in.poll).flatMap(p =>
      Seq(p.oddsHtml, p.bovada.getOrElse("")) ++ p.scoresHtml.toSeq.sorted.map(_._2) ++
        p.planted.map(_.toString) :+ p.gridRows.toString)
  }

  private def churn(seed: Long) = {
    val in = new ChurnInputs(seed)
    (0 until 4).flatMap { _ =>
      val b = in.ingest(RegistryChurn.IngestSize)
      val p = in.probe(RegistryChurn.ProbeSize)
      (b.docs ++ p.docs).map { case (i, t) => s"$i\t$t" }
    }
  }

  private def bytes(xs: Seq[String]) = xs.mkString("\u0000").getBytes(UTF_8).toSeq

  test("scan_poll: one seed generates byte-identical inputs, another differs") {
    assert(bytes(scan(7)) == bytes(scan(7)))
    assert(bytes(scan(7)) != bytes(scan(8)))
  }

  test("registry churn: one seed generates byte-identical inputs, another differs") {
    assert(bytes(churn(7)) == bytes(churn(7)))
    assert(bytes(churn(7)) != bytes(churn(8)))
  }

  test("scan_poll plants arbitrage that the rate limit caps, and a rollover") {
    val in = new ScanInputs(3)
    val limit = new ScanPoll.RateLimit
    val polls = (0 until 16).map(in.poll)
    val delivered = polls.map(limit(_))
    assert(polls.map(_.planted.size).sum > delivered.map(_.size).sum, "cap never bites")
    assert(polls.exists(_.bovada.isEmpty), "the Bovada fetch never gives up")
    assert(polls.map(p => p.ts.getTime / 86400000L).distinct.size > 1, "no day rollover")
  }

  test("BENCHMARK.json names the metrics the harness reports") {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), UTF_8)
    val names = "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSet
    val workloads = Main.workloads.keySet
    assert(names == workloads ++ Metrics.endToEnd ++ Metrics.perLayer)
  }
}

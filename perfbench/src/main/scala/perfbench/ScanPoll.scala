package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Arbitrage, Bovada, Engine, Normalize, Scores}
import graft.sinks.{Alerting, CollectingAlertSink, CollectingMirror, NotificationLog}
import graft.sources.TeamDims

/** One team of the generated league. Nicknames are unique across
  * sports, because the Bovada merge joins on the nickname alone. */
final case class Team(sport: String, city: String, nick: String, abbr: String)

/** An alert the generator expects to be delivered. */
final case class Alert(sport: String, betType: String, team: String, bookie: String)

/** Everything that lands for one poll, and what a correct run delivers. */
final case class PollInputs(index: Int, ts: Timestamp, oddsHtml: String,
                            scoresHtml: Map[String, String],
                            bovada: Option[String],
                            planted: Seq[Alert], gridRows: Int)

/** Seeded generator of odds snapshots, scores pages and Bovada blobs.
  *
  * Each sport has 16 games quoted by five bookies for ML, Spread and
  * Over/Under, with embedded header rows and the `EVEN`, `N/A` and
  * trailing `" +"` quirks. Every poll plants arbitrage on one or two of
  * three "hot" games per sport, each at a known best bookie; every other
  * game is quoted so that its best prices sum to at most zero (or are
  * a double-`EVEN` pair, which the detector must reject). One game per
  * sport is final on the scores page, and every `BovadaGiveUpEvery`th
  * poll the Bovada fetch gives up, so plants that need Bovada vanish. */
final class ScanInputs(seed: Long) {
  import ScanPoll._
  private val rng = new java.util.SplittableRandom(seed)
  private def between(lo: Int, hi: Int, step: Int = 5): Int =
    lo + step * rng.nextInt((hi - lo) / step + 1)

  val teams: Map[String, IndexedSeq[Team]] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po",
      "de", "va", "zu", "fe", "go", "hi", "bo", "ce")
    def word(i: Int, tail: String) =
      (syl(i % 16) + syl((i / 16) % 16) + tail).capitalize
    Sports.zipWithIndex.map { case (sport, si) =>
      val ts = (0 until TeamsPerSport).map { j =>
        val i = si * TeamsPerSport + j
        val nick = if (sport == "NFL" && j == 0) "49ers" else word(i * 7 + 3, "rs")
        Team(sport, word(i * 5 + 1, "ton"), nick, f"${sport.take(1)}$i%02d")
      }
      sport -> shuffle(ts)
    }.toMap
  }

  private def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Game g of a sport is teams(2g) (first leg, the anchor) against
    * teams(2g + 1). */
  def game(sport: String, g: Int): (Team, Team) =
    (teams(sport)(2 * g), teams(sport)(2 * g + 1))

  /** Team dimension CSV for one sport. */
  def dimsCsv(sport: String): String =
    ("Team,Sport,Abbreviation" +: teams(sport).map(t => s"${t.nick},$sport,${t.abbr}"))
      .mkString("", "\n", "\n")

  /** A quote: American odds, or None for `N/A`; 100 renders as `EVEN`
    * where `even` is set. */
  private final case class Q(odds: Option[Int], even: Boolean = false) {
    def payout: String = odds match {
      case None => "N/A"
      case Some(100) if even => "EVEN"
      case Some(v) => f"$v%+d"
    }
  }

  /** Quotes of one leg at each venue (the five bookies, then Bovada). */
  private type Legs = (IndexedSeq[Q], IndexedSeq[Q])
  private val Venues = Bookies :+ "Bovada"
  private val ClassifierAt = Bookies.indexOf(Classifier)

  /** Quotes whose best prices per leg are at most `maxA` and `maxB`;
    * a quirk may blank a bookie other than the classifier (Bovada
    * always quotes). */
  private def plainLegs(betType: String, maxA: Int, maxB: Int, evenOk: Boolean): Legs = {
    def leg(lo: Int, hi: Int) = Venues.indices.map { v =>
      if (v != ClassifierAt && v < Bookies.size && rng.nextInt(12) == 0) Q(None)
      else Q(Some(between(lo, hi)))
    }
    val (a, b) = betType match {
      case "ML" => (leg(105, maxA), leg(-175, maxB))
      case _ => (leg(-125, maxA), leg(-125, maxB))
    }
    // one EVEN on at most one leg still sums below zero
    if (evenOk && rng.nextInt(3) == 0) {
      val v = (ClassifierAt + 1 + rng.nextInt(Venues.size - 1)) % Venues.size
      (a.updated(v, Q(Some(100), even = true)), b)
    } else (a, b)
  }

  private def plantedLegs(betType: String, atA: Int, atB: Int): Legs = {
    val (pA, qB) = betType match {
      case "ML" => (between(200, 260, 10), -between(130, 150, 10))
      case _ => (between(130, 140), -between(104, 106, 1))
    }
    // every other venue is strictly worse on both legs, so the best
    // bookie of each leg is known
    val (a, b) =
      if (betType == "ML") plainLegs(betType, 135, -155, evenOk = false)
      else plainLegs(betType, -105, -110, evenOk = false)
    (a.updated(atA, Q(Some(pA))), b.updated(atB, Q(Some(qB))))
  }

  private def doubleEvenLegs: Legs = {
    val e = Venues.indices.map(_ => Q(Some(100), even = true))
    (e, e)
  }

  private def line(betType: String, points: Double, first: Boolean): String =
    betType match {
      case "Spread" => f"${if (first) "+" else "-"}$points%.1f"
      case _ => f"${if (first) "o" else "u"}$points%.1f"
    }

  def poll(index: Int): PollInputs = {
    val ts = new Timestamp(BaseMillis + index * StepMillis)
    val bovadaUp = index % BovadaGiveUpEvery != BovadaGiveUpEvery - 1
    val header = "Sport" +: "Team" +: Bookies
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    val bovadaSections = mutable.ArrayBuffer.empty[String]
    val planted = mutable.ArrayBuffer.empty[Alert]
    val scores = mutable.Map.empty[String, String]
    var gridRows = 0
    Sports.foreach { sport =>
      val hot = shuffle((0 until HotGames).toIndexedSeq).take(1 + rng.nextInt(2))
      val plants = hot.map(g => g -> (if (rng.nextInt(2) == 0) "ML" else "Spread")).toMap
      val finished = rng.nextInt(GamesPerSport)
      val doubleEven = HotGames + rng.nextInt(GamesPerSport - HotGames)
      val quotes = (0 until GamesPerSport).map { g =>
        g -> BetTypes.map { bt =>
          val legs =
            if (plants.get(g).contains(bt)) {
              val atA = rng.nextInt(Venues.size)
              val atB = rng.nextInt(Bookies.size)
              val (a, b) = game(sport, g)
              val live = g != finished && (atA < Bookies.size || bovadaUp)
              if (live) {
                planted += Alert(sport, bt, a.nick, Venues(atA))
                planted += Alert(sport, bt, b.nick, Venues(atB))
              }
              plantedLegs(bt, atA, atB)
            } else if (g == doubleEven && bt == "Spread") doubleEvenLegs
            else if (bt == "ML") plainLegs(bt, 135, -140, evenOk = false)
            else plainLegs(bt, -105, -105, evenOk = true)
          bt -> (legs, between(15, 95, 10) / 10.0 + (if (bt == "Over/Under") 40 else 0))
        }.toMap
      }.toMap
      // the odds page: one section per bet type, each after a header row
      BetTypes.foreach { bt =>
        if (rows.nonEmpty) rows += header
        (0 until GamesPerSport).foreach { g =>
          val (a, b) = game(sport, g)
          val ((qa, qb), pts) = quotes(g)(bt)
          Seq((a, qa, true), (b, qb, false)).foreach { case (t, q, first) =>
            rows += sport +: t.nick +: Bookies.indices.map { v =>
              val pay = q(v).payout
              if (bt == "ML" || q(v).odds.isEmpty) pay
              else {
                val cell = s"${line(bt, pts, first)} $pay"
                if (v != ClassifierAt && rng.nextInt(10) == 0) cell + " +" else cell
              }
            }
          }
        }
      }
      gridRows += (GamesPerSport - 1) * 2 * 5
      // Bovada lists every game once, one matchup twice, and a junk row
      (0 until GamesPerSport).foreach { g =>
        val (a, b) = game(sport, g)
        def at(bt: String) = quotes(g)(bt)._1
        val ((mlA, mlB), (spA, spB), (ouA, ouB)) = (at("ML"), at("Spread"), at("Over/Under"))
        val bv = Venues.size - 1
        def pay(q: Q) = q.payout
        val pts = quotes(g)("Spread")._2
        val tot = quotes(g)("Over/Under")._2
        val section = f"3/${1 + index / 12}/26 7:${g % 6}0 PM ${a.city} ${a.nick}${b.city} ${b.nick} " +
          f"+$pts%.1f(${pay(spA(bv))})-$pts%.1f(${pay(spB(bv))}) " +
          f"O$tot%.1f(${pay(ouA(bv))})U$tot%.1f(${pay(ouB(bv))}) " +
          s"${pay(mlA(bv))}${pay(mlB(bv))}"
        bovadaSections += section
        if (g == 0) bovadaSections += section
      }
      bovadaSections += "3/1/26 12 Bets"
      // the scores page: the finished game is final; two others are live
      val finals = Seq(finished)
      val live = Seq((finished + 1) % GamesPerSport, (finished + 2) % GamesPerSport)
      val cells = (finals.map(g => (g, true)) ++ live.map(g => (g, false))).map { case (g, done) =>
        val (a, b) = game(sport, g)
        val (sa, sb) = (rng.nextInt(120), rng.nextInt(120))
        val info = if (done) s"Final - $sport box score, recap and player stats for this game"
          else s"7:05 PM - $sport live"
        Seq(info, "", sport, "Q", s"${a.nick}$sa-$sb${if (done) "Final" else ""}", "vs", "",
          s"${b.nick}$sb-$sa${if (done) "Final" else ""}")
      }
      scores(sport) = table(Seq("Game", "", "", "", "Away", "", "", "Home") +: cells, header = true)
    }
    PollInputs(index, ts,
      oddsHtml = table(header +: rows.toSeq, header = true),
      scoresHtml = scores.toMap,
      bovada = if (bovadaUp) Some(("Bovada sportsbook lines " +: bovadaSections.toSeq).mkString(" "))
        else None,
      planted = planted.toSeq, gridRows = gridRows)
  }

  private def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
  private def table(rows: Seq[Seq[String]], header: Boolean): String = {
    val trs = rows.zipWithIndex.map { case (r, i) =>
      val tag = if (header && i == 0) "th" else "td"
      r.map(c => s"<$tag>${esc(c)}</$tag>").mkString("  <tr>", "", "</tr>")
    }
    ("<html><body><h1>Lines</h1>\n<table class=\"odds\">" +: trs :+ "</table></body></html>")
      .mkString("\n")
  }
}

/** scan_poll: the paper's own loop. Each poll lands an odds snapshot,
  * a scores page and a Bovada blob, then runs odds-html read ->
  * `promoteHeader` -> `Engine.run` against a persistent notification
  * log, on a simulated clock (three hours per poll), so the three-alerts
  * per (team, day) cap and the day rollover both happen. The data is
  * ~500 grid rows, so a poll costs its jobs times the per-job
  * scheduling floor, plus planning; the log grows by one append a poll. */
object ScanPoll {
  val Sports: Seq[String] = Seq("MLB", "NBA", "NFL")
  val Bookies: IndexedSeq[String] = IndexedSeq("DraftKings", "FanDuel", "BetMGM", "Caesars", "Bet365")
  val Classifier = "Bet365"
  val BetTypes: Seq[String] = Seq("ML", "Spread", "Over/Under")
  val TeamsPerSport = 32
  val GamesPerSport = TeamsPerSport / 2
  val HotGames = 3
  val BovadaGiveUpEvery = 4
  val MaxAlertsPerTeamDay = 3
  val WarmupPolls = 10
  /** About how long one poll takes on four cores. A run times a whole
    * number of Bovada cycles worked out from its seconds and this, not
    * from a deadline: a deadline makes slower runs time fewer and
    * earlier, less warmed-up polls, which widened the spread of runs. */
  val NominalPollS = 1.75
  val BaseMillis: Long = Timestamp.valueOf("2026-03-01 00:00:00").getTime
  val StepMillis: Long = 3L * 3600 * 1000

  val perLayer: Seq[String] = Seq(
    "scan.sources.odds_read_s", "scan.sources.scores_read_s",
    "scan.pipeline.grid_s", "scan.pipeline.enrich_s", "scan.pipeline.bovada_s",
    "scan.pipeline.remove_finished_s", "scan.pipeline.detect_s",
    "scan.pipeline.jurisdiction_s",
    "scan.sinks.mirror_s", "scan.sinks.rate_limit_s", "scan.sinks.deliver_s",
    "scan.sinks.log_files",
    "scan.jobs_per_poll", "scan.stages_per_poll", "scan.tasks_per_poll", "scan.task_s_per_poll",
    "scan.driver_gap_s_per_poll", "scan.poll_p50_s", "scan.poll_p90_s",
    "scan.layered_minus_engine_s")

  /** Alerts a correct run delivers: the planted ones, cut to the
    * per-(team, day) cap in message order, as the log's rate limit does. */
  final class RateLimit {
    private val sent = mutable.Map.empty[(String, Long), Int]
    def apply(p: PollInputs): Seq[Alert] = {
      val day = Math.floorDiv(p.ts.getTime, 86400000L)
      p.planted.groupBy(_.team).toSeq.flatMap { case (team, as) =>
        val n = sent.getOrElse((team, day), 0)
        val keep = as.sortBy(a => s"${a.sport} ${a.betType} ${a.team}")
          .take((MaxAlertsPerTeamDay - n).max(0))
        sent((team, day)) = n + keep.size
        keep
      }
    }
  }

  private val Message = "^\\*?(\\S+) (\\S+) (\\S+): bet .* \\((\\S+)\\), margin (-?\\d+)%$".r

  /** Compares delivered messages with the expected alerts. */
  def check(expected: Seq[Alert], delivered: Seq[String], mirrored: Int,
            gridRows: Int): Option[String] = {
    val parsed = delivered.map {
      case Message(sport, bt, team, bookie, margin) if margin.toInt >= 3 =>
        Right(Alert(sport, bt, team, bookie))
      case m => Left(m)
    }
    val bad = parsed.collect { case Left(m) => m }
    val got = parsed.collect { case Right(a) => a }.sortBy(_.toString)
    val want = expected.sortBy(_.toString)
    if (bad.nonEmpty) Some(s"malformed alert: ${bad.head}")
    else if (got != want)
      Some(s"delivered ${got.size} alerts, expected ${want.size}; " +
        s"unexpected ${got.diff(want).take(3)}, missing ${want.diff(got).take(3)}")
    else if (mirrored != gridRows) Some(s"mirrored $mirrored grid rows, expected $gridRows")
    else None
  }

  private def land(p: PollInputs, dir: Path): Path = {
    val d = dir.resolve(f"poll${p.index}%05d")
    Files.createDirectories(d.resolve("odds"))
    Files.createDirectories(d.resolve("scores"))
    Files.write(d.resolve("odds/snapshot.html"), p.oddsHtml.getBytes(UTF_8))
    p.scoresHtml.foreach { case (s, h) => Files.write(d.resolve(s"scores/$s.html"), h.getBytes(UTF_8)) }
    p.bovada.foreach { b =>
      Files.createDirectories(d.resolve("bovada"))
      Files.write(d.resolve("bovada/page.txt"), b.getBytes(UTF_8))
    }
    d
  }

  /** The sources of one landed poll, as the program reads them. */
  private def odds(spark: SparkSession, d: Path): DataFrame =
    Normalize.promoteHeader(spark.read.format("odds-html").load(d.resolve("odds").toString))

  private def scores(spark: SparkSession, d: Path): Map[String, DataFrame] = {
    val cells = spark.read.format("odds-html").load(d.resolve("scores").toString)
    Sports.map(s => s -> cells.filter(col("file").endsWith(s"/$s.html"))
      .select((0 until 8).map(i => col("cells").getItem(i).as(s"c$i")): _*)).toMap
  }

  /** None when the Bovada fetch gave up and landed nothing. */
  private def bovada(spark: SparkSession, d: Path): Option[DataFrame] = {
    val f = d.resolve("bovada/page.txt")
    if (!Files.exists(f)) None
    else Some(spark.read.option("wholetext", "true").text(f.toString)
      .select(lit(1).as("blob_id"), col("value").as("text")))
  }

  private final case class Delivery(messages: Seq[String], mirrored: Int)

  /** The user's call: read the landed snapshot and run the engine. */
  private def engineRun(spark: SparkSession, d: Path, teams: DataFrame,
                        log: NotificationLog, now: Column): Delivery = {
    val sink = new CollectingAlertSink
    val mirror = new CollectingMirror
    val r = Engine.run(odds(spark, d), Bookies, Classifier, teams, bovada(spark, d), scores(spark, d),
      log, sink, Some(mirror), maxAlertsPerTeamDay = MaxAlertsPerTeamDay, now = now)
    Delivery(sink.sent.toSeq, r.mirrored)
  }

  /** The same poll with each layer called on its own, in Engine.run's
    * order, every boundary materialised so each span holds its layer's
    * work. */
  private def layered(t: Tracer, spark: SparkSession, d: Path, teams: DataFrame,
                      log: NotificationLog, now: Column): Delivery = {
    def pin(df: DataFrame) = df.localCheckpoint(true)
    val raw = t.span("sources.odds_read")(pin(odds(spark, d)))._1
    val scoresRaw = t.span("sources.scores_read")(scores(spark, d).map { case (s, df) => s -> pin(df) })._1
    val grid = t.span("pipeline.grid")(pin(Normalize.grid(raw, Bookies, Classifier)))._1
    val enriched = t.span("pipeline.enrich")(pin(TeamDims.enrich(grid, teams)))._1
    val (withBov, allBookies) = t.span("pipeline.bovada") {
      bovada(spark, d) match {
        case Some(b) => (pin(Normalize.withBovada(enriched, Bovada.quotes(b, "text"))),
          Bookies :+ "Bovada")
        case None => (enriched, Bookies)
      }
    }._1
    val current = t.span("pipeline.remove_finished") {
      val finished = scoresRaw.toSeq.sortBy(_._1)
        .map { case (s, raw) => Scores.finishedGames(raw, s) }.reduce(_ unionByName _)
      pin(Scores.removeFinished(withBov, finished))
    }._1
    val mirror = new CollectingMirror
    val mirrored = t.span("sinks.mirror")(
      Alerting.mirror(Alerting.withUpdatedAt(current, now), mirror))._1
    val detected = t.span("pipeline.detect")(pin(Arbitrage.detect(current, allBookies, 3)))._1
    val alerts = t.span("pipeline.jurisdiction")(pin(Arbitrage.jurisdiction(detected, Nil, Nil)))._1
    val limited = t.span("sinks.rate_limit")(log.rateLimitAndAppend(
      alerts.select(col("Team").as("team"), now.as("ts"), col("message")),
      maxPerDay = MaxAlertsPerTeamDay, appendedAt = now))._1
    val sink = new CollectingAlertSink
    t.span("sinks.deliver")(Alerting.deliver(limited, "message", sink))
    Delivery(sink.sent.toSeq, mirrored)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val dimsDir = ctx.work.resolve("dims")
    Files.createDirectories(dimsDir)
    val inputs = new ScanInputs(ctx.seed)
    Sports.foreach(s => Files.write(dimsDir.resolve(s"$s.csv"), inputs.dimsCsv(s).getBytes(UTF_8)))
    val teams = TeamDims.load(spark, Sports.map(s => dimsDir.resolve(s"$s.csv").toString))

    // warm-up: polls of other inputs against a log of their own; a
    // failure here shows again in the measured polls
    val warmInputs = new ScanInputs(ctx.seed ^ 0x5eedL)
    val warmLog = new NotificationLog(ctx.work.resolve("warmup-log").toString)
    try {
      (0 until WarmupPolls).foreach { i =>
        val p = warmInputs.poll(i)
        engineRun(spark, land(p, ctx.work.resolve("warmup")), teams, warmLog, lit(p.ts))
      }
      if (t.traced) {
        val p = warmInputs.poll(WarmupPolls)
        t.paused(layered(t, spark, land(p, ctx.work.resolve("warmup-layered")), teams,
          new NotificationLog(ctx.work.resolve("warmup-layered-log").toString), lit(p.ts)))
      }
    } catch { case _: Throwable => () }
    val setupS = (System.nanoTime() - t0) / 1e9

    val log = new NotificationLog(ctx.work.resolve("log").toString)
    val untracedLog = new NotificationLog(ctx.work.resolve("untraced-log").toString)
    val layeredLogDir = ctx.work.resolve("layered-log")
    val layeredLog = new NotificationLog(layeredLogDir.toString)
    val expect = new RateLimit
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val engineSpans = mutable.ArrayBuffer.empty[Span]
    val untracedS, layeredS = mutable.ArrayBuffer.empty[Double]
    // whole Bovada cycles only, so every run times the same share of
    // give-up polls, which are faster; a traced poll makes three calls
    val cycles = math.round(ctx.seconds /
      (NominalPollS * BovadaGiveUpEvery * (if (t.traced) 3 else 1))).toInt.max(1)
    var i = 0
    while (i < cycles * BovadaGiveUpEvery) {
      val p = inputs.poll(i)
      val want = expect(p)
      val d = land(p, ctx.work.resolve("polls"))
      val now = lit(p.ts)
      var engineOut, layeredOut = Seq.empty[String]
      val engineOp = () => ctx.attempt("poll") {
        val (out, sp) = t.span("pipeline.Engine.run")(engineRun(spark, d, teams, log, now))
        engineSpans += sp
        engineOut = out.messages.sorted
        check(want, out.messages, out.mirrored, p.gridRows)
      }
      // the same call with job groups off, against a log of its own, so
      // a traced run can price its tracing
      val untracedOp = () => ctx.attempt("poll_untraced") {
        val (out, sp) = t.paused(t.span("pipeline.Engine.run")(
          engineRun(spark, d, teams, untracedLog, now)))
        untracedS += sp.seconds
        check(want, out.messages, out.mirrored, p.gridRows)
      }
      val layeredOp = () => ctx.attempt("layered_poll") {
        val (out, sp) = t.span("layered")(layered(t, spark, d, teams, layeredLog, now))
        layeredS += sp.seconds
        layeredOut = out.messages.sorted
        check(want, out.messages, out.mirrored, p.gridRows)
      }
      if (!t.traced) ops += engineOp()
      else {
        // reverse the order every other poll, so no run is always first;
        // the traced calls must deliver the same alerts
        val order = Seq(engineOp, untracedOp, layeredOp)
        val rs = if (i % 2 == 0) order.map(_()) else order.reverse.map(_()).reverse
        val (e, u, l) = (rs(0), rs(1), rs(2))
        ops += e
        ops += u
        ops += (if (l.failure.nonEmpty || engineOut == layeredOut) l
          else l.copy(failure = Some(s"layered composition delivered ${layeredOut.size} " +
            s"alerts, Engine.run ${engineOut.size}")))
      }
      i += 1
    }

    val pollS = engineSpans.map(_.seconds).toSeq
    val e2e = Map(
      "op_p50_s" -> Metrics.quantile(pollS, 0.5),
      "op_tail_s" -> Metrics.quantile(pollS, 0.9),
      "ops_per_s" -> pollS.size / pollS.sum)
    val perLayer =
      if (!t.traced) Map.empty[String, Double]
      else {
        t.drain()
        val spans = t.allSpans
        val layeredIds = spans.filter(_.name == "layered").map(_.id).toSet
        def layer(name: String) = {
          val ss = spans.filter(s => s.name == name && layeredIds(s.parent))
          ss.map(_.seconds).sum / ss.size.max(1)
        }
        val engine = Metrics.stageSums(t, engineSpans.toSeq)
        val n = engineSpans.size.max(1).toDouble
        Map(
          "scan.sources.odds_read_s" -> layer("sources.odds_read"),
          "scan.sources.scores_read_s" -> layer("sources.scores_read"),
          "scan.pipeline.grid_s" -> layer("pipeline.grid"),
          "scan.pipeline.enrich_s" -> layer("pipeline.enrich"),
          "scan.pipeline.bovada_s" -> layer("pipeline.bovada"),
          "scan.pipeline.remove_finished_s" -> layer("pipeline.remove_finished"),
          "scan.pipeline.detect_s" -> layer("pipeline.detect"),
          "scan.pipeline.jurisdiction_s" -> layer("pipeline.jurisdiction"),
          "scan.sinks.mirror_s" -> layer("sinks.mirror"),
          "scan.sinks.rate_limit_s" -> layer("sinks.rate_limit"),
          "scan.sinks.deliver_s" -> layer("sinks.deliver"),
          "scan.sinks.log_files" -> Metrics.parquetFiles(layeredLogDir).toDouble,
          "scan.jobs_per_poll" -> engine("jobs") / n,
          "scan.stages_per_poll" -> engine("stages") / n,
          "scan.tasks_per_poll" -> engine("tasks") / n,
          "scan.task_s_per_poll" -> engine("task_s") / n,
          "scan.driver_gap_s_per_poll" -> engine("driver_gap_s") / n,
          "scan.poll_p50_s" -> Metrics.quantile(pollS, 0.5),
          "scan.poll_p90_s" -> Metrics.quantile(pollS, 0.9),
          "scan.trace_overhead_s" ->
            (Metrics.quantile(pollS, 0.5) - Metrics.quantile(untracedS.toSeq, 0.5)),
          // the pinned composition against Engine.run, both traced
          "scan.layered_minus_engine_s" ->
            (Metrics.quantile(layeredS.toSeq, 0.5) - Metrics.quantile(pollS, 0.5)))
      }
    Outcome(setupS, e2e, perLayer, ops.toSeq)
  }
}

package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A season-sized FPL API payload made from a seed, in the raw shapes of
  * `graft.transform.FplRawFixtures`: 20 teams, 38 gameweeks, a double
  * round robin of 380 fixtures and 27-33 players per team (~600).
  *
  * Gameweeks 1-19 are finished and gameweek 20 is current, with its first
  * five fixtures played. The raw fixture trio's edge cases recur at a
  * fixed share: those five fixtures appear in both a player's history
  * and the player's future fixtures; every unplayed fixture has null scores; and
  * four later fixtures (about 1%) are postponed, with a null event and a
  * null kickoff.
  *
  * `expected` holds the row count every loaded table must have, derived
  * from the same choices that built the JSON. */
final class FplSeason(seed: Long) {
  import FplSeason.{Fixture, Player}
  private val rng = new scala.util.Random(seed)
  val nTeams = 20
  val nGameweeks = 38
  val current = 20
  val playedInCurrent = 5
  val postponed = 4

  private val strength = Array.fill(nTeams + 1)(2 + rng.nextInt(3))

  /** Circle-method double round robin: 19 rounds, then the mirror. */
  val fixtures: IndexedSeq[Fixture] = {
    val teams = (1 to nTeams).toArray
    val firstHalf = (0 until nTeams - 1).map { r =>
      val rot = teams.head +: (teams.tail.drop(nTeams - 1 - r) ++ teams.tail.take(nTeams - 1 - r))
      (0 until nTeams / 2).map { i =>
        val (a, b) = (rot(i), rot(nTeams - 1 - i))
        if ((r + i) % 2 == 0) (a, b) else (b, a)
      }
    }
    val rounds = firstHalf ++ firstHalf.map(_.map(_.swap))
    val raw = rounds.zipWithIndex.flatMap { case (ms, r) =>
      ms.zipWithIndex.map { case ((h, a), slot) => (r + 1, slot, h, a) }
    }
    val later = raw.indices.filter(i => raw(i)._1 > current)
    val off = rng.shuffle(later.toList).take(postponed).toSet
    raw.zipWithIndex.map { case ((gw, slot, h, a), i) =>
      val done = gw < current || (gw == current && slot < playedInCurrent)
      Fixture(i + 1, gw, slot, h, a, done,
        if (done) rng.nextInt(5) else -1, if (done) rng.nextInt(5) else -1, off.contains(i))
    }
  }

  val players: IndexedSeq[Player] = {
    var id = 0
    (1 to nTeams).flatMap { t =>
      val n = 27 + rng.nextInt(7)
      (0 until n).map { k =>
        id += 1
        val pos = if (k < 3) 1 else if (k < 12) 2 else if (k < 22) 3 else 4
        Player(id, 100000L + id * 7L, t, pos, rng.nextInt(4))
      }
    }
  }

  private def teamFixtures(t: Int) = fixtures.filter(f => f.home == t || f.away == t)

  private def history(p: Player) = teamFixtures(p.team).filter(_.finished)

  private def future(p: Player) =
    teamFixtures(p.team).filter(f => f.gw >= current || f.postponed)

  private def stats(r: scala.util.Random, played: Boolean): String = {
    val mins = if (played) r.nextInt(91) else 0
    val longs = Seq(
      "total_points" -> (if (played) r.nextInt(15) else 0), "minutes" -> mins,
      "goals_scored" -> r.nextInt(2), "assists" -> r.nextInt(2),
      "clean_sheets" -> r.nextInt(2), "goals_conceded" -> r.nextInt(4),
      "own_goals" -> 0, "penalties_saved" -> 0, "penalties_missed" -> 0,
      "yellow_cards" -> r.nextInt(2), "red_cards" -> 0, "saves" -> r.nextInt(5),
      "bonus" -> r.nextInt(4), "bps" -> r.nextInt(40))
    val doubles = Seq("influence", "creativity", "threat").map(k => k -> r.nextInt(1000) / 10.0)
    (longs.map { case (k, v) => s""""$k":$v""" } ++
      doubles.map { case (k, v) => s""""$k":$v""" }).mkString(",")
  }

  val fixturesJson: String = fixtures.map { f =>
    val ev = if (f.postponed) "null" else f.gw.toString
    val ko = if (f.postponed) "null" else "\"" + f.kickoff + "\""
    val (hs, as) = if (f.finished) (f.homeScore.toString, f.awayScore.toString) else ("null", "null")
    s"""{"code":${f.code},"event":$ev,"id":${f.id},"finished":${f.finished},""" +
      s""""finished_provisional":${f.finished},"started":${f.finished},""" +
      s""""minutes":${if (f.finished) 90 else 0},"kickoff_time":$ko,""" +
      s""""team_a":${f.away},"team_h":${f.home},"team_a_score":$as,"team_h_score":$hs,""" +
      s""""team_h_difficulty":${strength(f.away).min(4)},"team_a_difficulty":${strength(f.home).min(4)}}"""
  }.mkString("[", ",\n", "]")

  val mainJson: String = {
    val r = new scala.util.Random(seed * 31 + 1)
    val events = (1 to nGameweeks).map { gw =>
      val done = gw < current
      val ko = FplSeason.kickoffEpoch(gw, 0) - 5400
      val scored = if (done) s""""average_entry_score":${40 + r.nextInt(30)},"highest_score":${90 + r.nextInt(60)},""" +
        s""""highest_scoring_entry":${1000 + r.nextInt(9000)},"most_selected":${1 + r.nextInt(players.size)},""" +
        s""""most_transferred_in":${1 + r.nextInt(players.size)},"top_element":${1 + r.nextInt(players.size)},""" +
        s""""most_captained":${1 + r.nextInt(players.size)},"most_vice_captained":${1 + r.nextInt(players.size)}"""
      else """"average_entry_score":null,"highest_score":null,"highest_scoring_entry":null,""" +
        """"most_selected":null,"most_transferred_in":null,"top_element":null,""" +
        """"most_captained":null,"most_vice_captained":null"""
      s"""{"id":$gw,"name":"Gameweek $gw","deadline_time":"${FplSeason.iso(ko)}",""" +
        s""""deadline_time_epoch":$ko,"deadline_time_game_offset":0,"finished":$done,""" +
        s""""data_checked":$done,"is_previous":${gw == current - 1},"is_current":${gw == current},""" +
        s""""is_next":${gw == current + 1},$scored,"transfers_made":${r.nextInt(100000)}}"""
    }
    val teams = (1 to nTeams).map { t =>
      s"""{"code":${t * 3 + 1},"id":$t,"name":"Team $t","short_name":"T${"%02d".format(t)}",""" +
        s""""strength":${strength(t)},"strength_overall_home":${1000 + r.nextInt(350)},""" +
        s""""strength_overall_away":${1000 + r.nextInt(350)},"strength_attack_home":${1000 + r.nextInt(350)},""" +
        s""""strength_attack_away":${1000 + r.nextInt(350)},"strength_defence_home":${1000 + r.nextInt(350)},""" +
        s""""strength_defence_away":${1000 + r.nextInt(350)}}"""
    }
    val types = Seq((1, "Goalkeeper", "GKP", 2), (2, "Defender", "DEF", 5),
      (3, "Midfielder", "MID", 5), (4, "Forward", "FWD", 3)).map { case (i, n, s, k) =>
      s"""{"id":$i,"singular_name":"$n","singular_name_short":"$s","squad_select":$k,""" +
        s""""squad_min_play":${if (i == 1) 1 else 3},"squad_max_play":${if (i == 1) 1 else 5}}"""
    }
    val elements = players.map { p =>
      val injured = r.nextInt(10) == 0
      val news = if (injured) s""""news":"knock - 75% chance of playing","news_added":"${FplSeason.iso(FplSeason.kickoffEpoch(current, 0) - 86400 * r.nextInt(20))}""""
        else """"news":"","news_added":null"""
      s"""{"code":${p.code},"id":${p.id},"element_type":${p.position},"team":${p.team},""" +
        s""""team_code":${p.team * 3 + 1},"event_points":${r.nextInt(15)},"first_name":"First${p.id}",""" +
        s""""second_name":"Last${p.id}",$news,"now_cost":${40 + r.nextInt(90)},""" +
        s""""selected_by_percent":${r.nextInt(500) / 10.0},"chance_of_playing_next_round":${if (injured) "75" else "null"},""" +
        s""""chance_of_playing_this_round":${if (injured) "75" else "null"},"cost_change_event":0,""" +
        s""""cost_change_event_fall":0,"cost_change_start":${r.nextInt(5)},"cost_change_start_fall":0,""" +
        s""""ep_next":${r.nextInt(100) / 10.0},"ep_this":${r.nextInt(100) / 10.0},"in_dreamteam":false,""" +
        s""""dreamteam_count":${r.nextInt(3)},"photo":"${p.code}.jpg","points_per_game":${r.nextInt(80) / 10.0},""" +
        s""""special":false,"status":"${if (injured) "d" else "a"}","transfers_in":${r.nextInt(100000)},""" +
        s""""transfers_out":${r.nextInt(100000)},"transfers_in_event":${r.nextInt(1000)},""" +
        s""""transfers_out_event":${r.nextInt(1000)},"value_form":${r.nextInt(20) / 10.0},""" +
        s""""value_season":${r.nextInt(200) / 10.0},"form":${r.nextInt(100) / 10.0},""" +
        s""""ict_index":${r.nextInt(1000) / 10.0},${stats(r, played = true)}}"""
    }
    s"""{"events":[${events.mkString(",\n")}],\n"teams":[${teams.mkString(",\n")}],\n""" +
      s""""element_types":[${types.mkString(",\n")}],\n"elements":[${elements.mkString(",\n")}]}"""
  }

  /** element-summary bodies by player id, without player_id (the
    * extract splices it in). */
  val playerDocs: Map[Int, String] = players.map(p => p.id -> playerDoc(p)).toMap

  private def playerDoc(p: Player): String = {
    val r = new scala.util.Random(seed * 1000003L + p.id)
    val hist = history(p).map { f =>
      s"""{"element":${p.id},"fixture":${f.id},"round":${f.gw},"was_home":${f.home == p.team},""" +
        s""""kickoff_time":"${f.kickoff}","value":${40 + r.nextInt(90)},"selected":${r.nextInt(100000)},""" +
        s""""transfers_balance":${r.nextInt(2000) - 1000},"transfers_in":${r.nextInt(1000)},""" +
        s""""transfers_out":${r.nextInt(1000)},${stats(r, played = r.nextInt(4) > 0)}}"""
    }
    val fut = future(p).map { f =>
      val ev = if (f.postponed) "null" else f.gw.toString
      val ko = if (f.postponed) "null" else "\"" + f.kickoff + "\""
      val home = f.home == p.team
      s"""{"code":${f.code},"event":$ev,"team_h":${f.home},"team_a":${f.away},"is_home":$home,""" +
        s""""finished":${f.finished},"difficulty":${strength(if (home) f.away else f.home).min(4)},"kickoff_time":$ko}"""
    }
    val past = (0 until p.pastSeasons).map { k =>
      val y = 2023 - k
      s"""{"element_code":${p.code},"season_name":"$y/${(y + 1) % 100}","start_cost":${40 + r.nextInt(90)},""" +
        s""""end_cost":${40 + r.nextInt(90)},${stats(r, played = true)}}"""
    }
    s"""{"history":[${hist.mkString(",")}],"fixtures":[${fut.mkString(",")}],""" +
      s""""history_past":[${past.mkString(",")}]}"""
  }

  /** Rows each loaded table must hold after one EtlRun into an empty
    * database. */
  lazy val expected: Map[String, Long] = {
    val past = players.map(p => history(p).size.toLong).sum
    val fut = players.map(p => future(p).count(!_.postponed).toLong).sum
    val both = players.map(p => history(p).count(_.gw == current).toLong).sum
    Map(
      "fixtures" -> fixtures.size.toLong,
      "gameweeks" -> nGameweeks.toLong,
      "teams" -> nTeams.toLong,
      "positions" -> 4L,
      "players_summary" -> players.size.toLong,
      "players_prev_seasons" -> players.map(_.pastSeasons.toLong).sum,
      "players_past" -> past,
      "players_future" -> fut,
      "players_full" -> (past + fut - both),
      "team_results" -> nTeams.toLong,
      "league_table" -> nTeams.toLong,
      "players_statuses" -> players.size.toLong,
      "record" -> 1L)
  }
}

object FplSeason {
  final case class Fixture(id: Int, gw: Int, slot: Int, home: Int, away: Int,
      finished: Boolean, homeScore: Int, awayScore: Int, postponed: Boolean) {
    def code: Long = 2444000L + id
    def kickoff: String = iso(kickoffEpoch(gw, slot))
  }

  final case class Player(id: Int, code: Long, team: Int, position: Int,
      pastSeasons: Int)

  private val seasonStart = java.time.Instant.parse("2024-08-16T19:00:00Z").getEpochSecond

  def kickoffEpoch(gw: Int, slot: Int): Long =
    seasonStart + (gw - 1) * 7L * 86400 + (slot / 3) * 86400L + (slot % 3) * 9000L

  def iso(epoch: Long): String = java.time.Instant.ofEpochSecond(epoch).toString
}

/** The in-JVM FPL API serving a season: the bootstrap-static, fixtures and
  * element-summary endpoints, on `threads` handler threads, counting
  * requests and response bytes. */
final class FplApi(season: FplSeason, threads: Int) {
  val requests = new AtomicLong()
  val bytes = new AtomicLong()
  // without TCP_NODELAY the JDK server's separate header and body writes
  // meet the client's delayed ACK: ~40 ms per request on loopback
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)

  private def respond(ex: HttpExchange, body: Option[String]): Unit = {
    val b = body.getOrElse("{}").getBytes(StandardCharsets.UTF_8)
    requests.incrementAndGet()
    bytes.addAndGet(b.length)
    ex.sendResponseHeaders(if (body.isDefined) 200 else 404, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  server.createContext("/api/bootstrap-static/", ex => respond(ex, Some(season.mainJson)))
  server.createContext("/api/fixtures/", ex => respond(ex, Some(season.fixturesJson)))
  server.createContext("/api/element-summary/", ex => {
    val id = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).last
    respond(ex, id.toIntOption.flatMap(season.playerDocs.get))
  })
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

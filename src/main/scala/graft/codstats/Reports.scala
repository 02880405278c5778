package graft.codstats

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Frames, RangeJoin, Sessionize, TopK}
import Model._

/** Derived layer + report queries — the Spark re-expression of the
  * reference's analytical views (`parse_matches.sh:223-544`) and report
  * generation (`generate_lookup_data.sh`). One DataFrame per report family;
  * the reference's players × seasons × report-type loop of sqlite3
  * subprocesses collapses into partitioned DataFrames written once
  * (SURVEY.md §3 E1 "N-queries problem").
  *
  * At 100 TB: leaderboards are TakeOrderedAndProject (per-partition heaps,
  * k rows to the driver); sessions/series shuffle once on player; team
  * rollups shuffle once on game; the season range join broadcasts the
  * 18-row dim.
  */
object Reports {

  /** Tracked-stats view: core fact ⨝ players ⨝ tracked modes
    * (vw_stats_wz, parse_matches.sh:223-278). */
  def statsWz(valid: DataFrame, players: Dataset[Player],
              modes: Dataset[GameMode]): DataFrame = {
    val tracked = modes.filter(col("wz_track_stats")).select(col("id").as("game_mode_sub"))
    valid
      .filter(col("game_mode") === "wz")
      .join(broadcast(tracked), Seq("game_mode_sub"), "left_semi")
      .join(broadcast(players.toDF()), Seq("player_uno_id"))
  }

  private def corePlayers(stats: DataFrame): DataFrame =
    stats.filter(col("is_core"))

  /** Top-k leaderboard per metric over core players' games
    * (generate_lookup_data.sh:101-315 — 12 metrics × LIMIT 10). */
  def leaderboard(stats: DataFrame, metric: String, k: Int = 10): DataFrame =
    TopK.global(
      corePlayers(stats).select(col("player_id"), col("game_id"),
        col("ended_at"), col(metric)),
      k, desc(metric), col("player_id"), col("game_id"))

  /** All standard leaderboards as one melted pass: metric → rows ranked
    * <= k. One shuffle total instead of 12 scans. */
  val leaderboardMetrics: Seq[String] = Seq(
    "kills", "deaths", "kd_ratio", "damage_done", "damage_taken", "score",
    "distance_traveled", "headshots", "caches_opened", "revives", "downs",
    "vehicles_destroyed")

  def leaderboards(stats: DataFrame, k: Int = 10): DataFrame = {
    val melted = corePlayers(stats).select(
      col("player_id"), col("game_id"), col("ended_at"),
      explode(array(leaderboardMetrics.map(m =>
        struct(lit(m).as("metric"), col(m).as("value"))): _*)).as("mv"))
      .select(col("player_id"), col("game_id"), col("ended_at"),
              col("mv.metric").as("metric"), col("mv.value").as("value"))
    TopK.perGroup(melted, k, Seq(col("metric")),
      Seq(desc("value"), col("player_id"), col("game_id")))
  }

  /** Leaderboards shaped as one JSON document per metric (the reference's
    * json_group_array report sink, generate_lookup_data.sh:319-349).
    * Determinism: entries carried as rank-first structs and array-sorted
    * before serialization — collect_list order alone is
    * partition-dependent (SURVEY §7.5.3). */
  def leaderboardsJson(stats: DataFrame, k: Int = 10): DataFrame =
    leaderboards(stats, k)
      .groupBy(col("metric"))
      .agg(collect_list(struct(col("rank"), col("player_id"), col("game_id"),
        col("value"))).as("entries"))
      .select(col("metric"),
        to_json(sort_array(col("entries"))).as("top_json"))

  /** Open-session sentinel: the reference reports the latest session's end
    * as unixepoch 9999999999 − 1 (parse_matches.sh:323 — `ifnull(lead(...),
    * 9999999999) - 1`). */
  val OpenSessionSentinelSeconds: Long = 9999999999L

  /** Sessions per player (2h gap, ordinal ids) + per-session stats
    * (parse_matches.sh:298-376).
    *
    * Field semantics follow the reference's report contract
    * (parse_matches.sh:320-328): `session_id` = player_id||'_'||ordinal,
    * `session_start` = first game's end time, and `session_end` = the NEXT
    * session's start − 1s — a session "lasts" until the next one begins;
    * the open (latest) session ends at the 9999999999 sentinel.
    * `last_game_at` keeps the observed max(ended_at) for per-session stats.
    * The lead window runs over the already-aggregated session rows
    * (≤ sessions per player), reusing the same player_id partitioning as
    * the groupBy — no extra full shuffle. */
  def sessions(stats: DataFrame, settings: Settings = Settings()): DataFrame = {
    val agg = Sessionize.assign(stats, col("player_id"), col("ended_at"), col("game_id"),
        settings.sessionGapSeconds)
      .groupBy(col("player_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_games"),
        min(col("ended_at")).as("session_start"),
        max(col("ended_at")).as("last_game_at"),
        sum(col("kills")).as("kills"),
        sum(col("deaths")).as("deaths"),
        sum(col("damage_done")).as("damage_done"),
        sum(col("gulag_kills")).as("gulag_kills"),
        sum(col("gulag_deaths")).as("gulag_deaths"),
        max(col("kills")).as("max_kills"),
        max(col("damage_done")).as("max_damage"),
        sum(when(col("team_placement") === 1.0, 1L).otherwise(0L)).as("wins"),
        sum(when(col("team_placement") <= 5.0, 1L).otherwise(0L)).as("top5"),
        sum(when(col("team_placement") <= 10.0, 1L).otherwise(0L)).as("top10"))
    val w = Window.partitionBy(col("player_id")).orderBy(col("session_seq"))
    agg
      .withColumn("session_id",
        concat(col("player_id"), lit("_"), col("session_seq")))
      .withColumn("session_end",
        timestamp_seconds(
          coalesce(unix_seconds(lead(col("session_start"), 1).over(w)),
                   lit(OpenSessionSentinelSeconds)) - 1))
  }

  /** Latest session per player (generate_lookup_data.sh:551-581). */
  def recentSessions(stats: DataFrame, settings: Settings = Settings()): DataFrame =
    TopK.perGroup(sessions(stats, settings), 1,
      Seq(col("player_id")), Seq(desc("session_seq"))).drop("rank")

  /** Recent N matches (generate_lookup_data.sh:514-549) with the J2+P10
    * display-name join: mode id → display name, falling back to the
    * reference's literal `Unknown &lt;id&gt;` (HTML-entity escaped at the
    * source, generate_lookup_data.sh:525 / parse_matches.sh:514). The dim
    * join runs AFTER the global top-N — n rows join a broadcast dim. */
  def recentMatches(stats: DataFrame, modes: Dataset[GameMode],
                    n: Int = 15): DataFrame = {
    val dim = modes.select(col("id").as("game_mode_sub"),
                           col("display_name"))
    TopK.global(stats.select(col("player_id"), col("game_id"), col("ended_at"),
        col("game_mode_sub"), col("kills"), col("deaths"), col("damage_done"),
        col("team_placement")), n, desc("ended_at"), col("player_id"), col("game_id"))
      .join(broadcast(dim), Seq("game_mode_sub"), "left")
      .withColumn("game_mode_display",
        coalesce(col("display_name"),
                 concat(lit("Unknown &lt;"), col("game_mode_sub"), lit("&gt;"))))
      .drop("display_name")
  }

  /** Recent N games as NESTED documents — the vw_full_game_stats shape the
    * frontend actually loads (parse_matches.sh:481-505: one row per game,
    * comma-joined roster + a per-player stats JSON array;
    * generate_lookup_data.sh:514-541 adds the display-name join). Roster
    * and stats arrays are sorted for determinism (SURVEY §7.5.3). The
    * re-nest groupBy runs BEFORE the top-N cut (the cut needs per-game
    * rows), then n rows join the broadcast dim. */
  def recentMatchesDoc(stats: DataFrame, modes: Dataset[GameMode],
                       n: Int = 15): DataFrame = {
    val perGame = stats.groupBy(col("game_id"), col("ended_at"), col("game_mode_sub"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("player_id")))).as("player_ids"),
        to_json(sort_array(collect_list(struct(col("player_id"), col("kills"),
          col("deaths"), col("damage_done"), col("team_placement")))))
          .as("player_stats"))
    val dim = modes.select(col("id").as("game_mode_sub"), col("display_name"))
    TopK.global(perGame, n, desc("ended_at"), col("game_id"))
      .join(broadcast(dim), Seq("game_mode_sub"), "left")
      .withColumn("game_mode_display",
        coalesce(col("display_name"),
                 concat(lit("Unknown &lt;"), col("game_mode_sub"), lit("&gt;"))))
      .drop("display_name")
  }

  /** Lifetime count leaderboard: core players ranked by how many of their
    * games satisfy `predicate` (conditional agg + global top-k). */
  def countLeaderboard(stats: DataFrame, predicate: Column, k: Int = 10): DataFrame =
    TopK.global(
      corePlayers(stats).filter(predicate)
        .groupBy(col("player_id")).agg(count(lit(1)).as("value")),
      k, desc("value"), col("player_id"))

  /** Most lifetime wins (cte_most_wins, generate_lookup_data.sh:436-456:
    * teamPlacement = 1). */
  def mostWins(stats: DataFrame, k: Int = 10): DataFrame =
    countLeaderboard(stats, col("team_placement") === 1.0, k)

  /** Most lifetime last places (cte_most_lastplaces,
    * generate_lookup_data.sh:416-434: teamPlacement = numberOfTeams). */
  def mostLastPlaces(stats: DataFrame, k: Int = 10): DataFrame =
    countLeaderboard(stats, col("team_placement") === col("number_of_teams"), k)

  /** Bootstrap seasons document (write_meta, generate_lookup_data.sh:54-91):
    * `current` = the latest-starting season (rn=1 over start DESC — the
    * all-overlapping 'lifetime' row starts earliest so never wins), plus
    * the whole dim as a start-ordered JSON array. Single-row aggregate over
    * the O(10)-row dim — never touches fact data. */
  def seasonsDoc(seasons: Dataset[Season]): DataFrame =
    seasons.toDF().agg(
      max_by(col("season_id"), col("start_ts")).as("current"),
      to_json(sort_array(collect_list(struct(
        col("start_ts"), col("season_id"), col("end_ts"))))).as("seasons"))

  /** Per-day rollup — the full vw_player_stats_by_day_wz measure set
    * (parse_matches.sh:472-534): 10 summed count measures, 2 averaged
    * ratio measures, monster/goose-egg flag counts. */
  def perDay(stats: DataFrame, settings: Settings = Settings()): DataFrame =
    perDayKeyed(stats, Seq(col("player_id")), settings)

  /** [[perDay]] scoped to each overlapping season via the broadcast range
    * join — one partitioned DataFrame replaces the reference's
    * players × seasons query loop (generate_lookup_data.sh:905-935 calls
    * write_player_time_stats once per (name, season) with the season's
    * [start, end) bounds; 'lifetime' overlaps everything so that partition
    * reproduces the unscoped series). */
  def perDayBySeason(stats: DataFrame, seasons: Dataset[Season],
                     settings: Settings = Settings()): DataFrame =
    perDayKeyed(
      RangeJoin.broadcastRange(stats, seasons.toDF(),
        col("ended_at"), col("start_ts"), col("end_ts")),
      Seq(col("player_id"), col("season_id")), settings)

  private def perDayKeyed(stats: DataFrame, keys: Seq[Column],
                          settings: Settings): DataFrame =
    stats.groupBy(keys :+ to_date(col("ended_at")).as("day"): _*)
      .agg(
        count(lit(1)).as("n_games"),
        sum(col("kills")).as("kills"),
        sum(col("deaths")).as("deaths"),
        sum(col("damage_done")).as("damage_done"),
        sum(col("gulag_kills")).as("gulag_kills"),
        sum(col("gulag_deaths")).as("gulag_deaths"),
        sum(col("headshots")).as("headshots"),
        sum(col("distance_traveled")).as("distance_traveled"),
        avg(col("kd_ratio")).as("avg_kd"),
        avg(col("score_per_minute")).as("avg_spm"),
        sum(when(col("kills") >= settings.monsterKills, 1L).otherwise(0L)).as("monsters"),
        sum(when(col("kills") === 0.0, 1L).otherwise(0L)).as("gooseeggs"))

  /** Team identity + per-team rollup (full teams only, > 1 shared game —
    * parse_matches.sh:389-470). Deterministic roster key: sorted distinct
    * player ids. */
  def teamStats(stats: DataFrame): DataFrame = {
    val perGame = stats.groupBy(col("game_id"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("player_id")))).as("team_key"),
        count(lit(1)).as("n_players"),
        sum(col("kills")).as("kills"),
        sum(col("damage_done")).as("damage_done"),
        min(col("team_placement")).as("team_placement"))
    perGame.groupBy(col("team_key"), col("n_players"))
      .agg(
        count(lit(1)).as("n_games"),
        round(avg(col("kills")), 2).as("avg_kills"),
        round(avg(col("damage_done")), 2).as("avg_damage"),
        max(col("kills")).as("max_kills"),
        sum(when(col("team_placement") === 1.0, 1L).otherwise(0L)).as("wins"))
      .filter(col("n_games") > 1)
  }

  /** Longest gulag win/loss streaks, top-k (generate_lookup_data.sh:
    * 356-414, SURVEY §2.5 W6): only DECIDED gulags participate
    * (gulag_kills=1 or gulag_deaths=1 — reference :368,381); a streak is a
    * maximal run of equal outcomes per player in play order. */
  def gulagStreaks(stats: DataFrame, k: Int = 10): DataFrame = {
    val decided = corePlayers(stats)
      .filter(col("gulag_kills") === 1.0 || col("gulag_deaths") === 1.0)
      .withColumn("outcome", when(col("gulag_kills") === 1.0, "win").otherwise("loss"))
    val st = graft.ops.Streaks.streaks(decided, col("player_id"), col("outcome"),
        col("ended_at"), col("game_id"))
      .select(col("player_id"), col("outcome"), col("streak_len"),
              col("start_us"), col("end_us"))
    TopK.global(st, k, desc("streak_len"), col("player_id"), col("start_us"))
  }

  /** Full-team variant of [[teamStats]]: a game's roster only counts when
    * its size equals the mode category's team size (reference
    * parse_matches.sh:418-424 — a trios game with 2 tracked players is
    * excluded). */
  def fullTeamStats(stats: DataFrame, modes: Dataset[GameMode],
                    categorySizes: Map[String, Int]): DataFrame = {
    val sizeDf = stats.sparkSession.createDataFrame(categorySizes.toSeq)
      .toDF("category", "expected_size")
    val withCat = stats.join(
      broadcast(modes.select(col("id").as("game_mode_sub"), col("category"))),
      Seq("game_mode_sub"))
    val perGame = withCat.groupBy(col("game_id"), col("category"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("player_id")))).as("team_key"),
        count(lit(1)).as("n_players"),
        sum(col("kills")).as("kills"),
        sum(col("damage_done")).as("damage_done"),
        min(col("team_placement")).as("team_placement"))
    perGame.join(broadcast(sizeDf), Seq("category"))
      .filter(col("n_players") === col("expected_size"))
      .groupBy(col("team_key"), col("category"))
      .agg(
        count(lit(1)).as("n_games"),
        round(avg(col("kills")), 2).as("avg_kills"),
        round(avg(col("damage_done")), 2).as("avg_damage"),
        max(col("kills")).as("max_kills"),
        sum(when(col("team_placement") === 1.0, 1L).otherwise(0L)).as("wins"))
      .filter(col("n_games") > 1)
  }

  /** Season×player rollup via the overlapping range join
    * (generate_lookup_data.sh:590-633): per-season totals + guarded ratio
    * metrics (K/D divides raw sums; Dmg/Kill truncates like SQLite's
    * CAST AS int; gulag win% of decided gulags). */
  def seasonRollup(stats: DataFrame, seasons: Dataset[Season]): DataFrame = {
    val joined = RangeJoin.broadcastRange(stats, seasons.toDF(),
      col("ended_at"), col("start_ts"), col("end_ts"))
    joined.groupBy(col("player_id"), col("season_id"))
      .agg(
        count(lit(1)).as("n_games"),
        sum(col("kills")).as("kills"),
        sum(col("deaths")).as("deaths"),
        sum(col("damage_done")).as("damage_done"),
        sum(col("gulag_kills")).as("gulag_kills"),
        sum(col("gulag_deaths")).as("gulag_deaths"),
        sum(col("team_placement")).as("placement_sum"),
        sum(col("number_of_teams")).as("teams_sum"))
      .select(
        col("player_id"), col("season_id"), col("n_games"), col("kills"),
        col("deaths"), col("damage_done"),
        round(col("kills") / when(col("deaths") === 0.0, lit(1.0))
          .otherwise(col("deaths")), 2).as("kd"),
        (col("damage_done") / when(col("kills") === 0.0, lit(1.0))
          .otherwise(col("kills"))).cast("int").as("dmg_per_kill"),
        when(col("gulag_kills") + col("gulag_deaths") === 0.0, lit(100))
          .otherwise((lit(100.0) * col("gulag_kills") /
            (col("gulag_kills") + col("gulag_deaths"))).cast("int"))
          .as("gulag_win_pct"),
        when(col("teams_sum") === 0L, lit(null).cast("double"))
          .otherwise(lit(100.0) * col("placement_sum") / col("teams_sum"))
          .as("avg_placement_pct"))
  }

  /** The combined per-player stats document: one row per player, a
    * season-ordered JSON array of {season metrics ⨝ category placements}
    * (generate_lookup_data.sh:590-701: cte_stats_rollup JOIN
    * cte_placements_rollup USING (player_id, id), grouped per player; the
    * reference orders seasons by sort_order — season_id stands in here).
    * Both inputs already share the (player_id, season_id) shuffle key, so
    * the join co-locates; the final doc is one row per player. */
  def playerStatsDoc(stats: DataFrame, seasons: Dataset[Season],
                     modes: Dataset[GameMode],
                     categories: Seq[String]): DataFrame = {
    val rollup = seasonRollup(stats, seasons)
    val placements = placementPivot(stats, seasons, modes, categories)
    val joined = rollup.join(placements, Seq("player_id", "season_id"))
    val seasonStruct = struct(
      col("season_id") +: (rollup.columns.filterNot(c =>
        c == "player_id" || c == "season_id").map(col) ++
        categories.map(col)): _*)
    joined.groupBy(col("player_id"))
      .agg(to_json(sort_array(collect_list(seasonStruct))).as("seasons_doc"))
  }

  /** Per-season avg placement pivoted to category columns with 'N/A' fill
    * (generate_lookup_data.sh:638-685). */
  def placementPivot(stats: DataFrame, seasons: Dataset[Season],
                     modes: Dataset[GameMode],
                     categories: Seq[String]): DataFrame = {
    val withCat = stats.join(
      broadcast(modes.select(col("id").as("game_mode_sub"), col("category"))),
      Seq("game_mode_sub"), "left")
    val joined = RangeJoin.broadcastRange(withCat, seasons.toDF(),
      col("ended_at"), col("start_ts"), col("end_ts"))
    val agg = joined.groupBy(col("player_id"), col("season_id"))
      .pivot("category", categories)
      .agg(round(avg(col("team_placement")), 2))
    agg.select(col("player_id") +: col("season_id") +: categories.map(c =>
      coalesce(col(c).cast("string"), lit("N/A")).as(c)): _*)
  }

  /** The reference's 12 series measures: 10 windowed-sum counts + 2
    * windowed-avg ratios (generate_lookup_data.sh:734-775,827-868). */
  private def seriesSumMeasures(matches: Column, monsters: Column,
                                gooseeggs: Column): Seq[(String, Column)] = Seq(
    "matches_played" -> matches.cast("double"),
    "kills" -> col("kills"), "deaths" -> col("deaths"),
    "gulag_kills" -> col("gulag_kills"), "gulag_deaths" -> col("gulag_deaths"),
    "headshots" -> col("headshots"), "damage_done" -> col("damage_done"),
    "distance_traveled" -> col("distance_traveled"),
    "monsters" -> monsters.cast("double"), "gooseeggs" -> gooseeggs.cast("double"))

  /** The client-side statResolvers computed server-side over the cumulative
    * bucket (index.js:19-135), each with ITS OWN zero-denominator guard:
    * K/D divides by 1 when deaths=0; every per-match / per-kill / percent
    * metric returns 0 when its denominator is 0. (The player-card gulag
    * guard at index.js:631 defaults to 100% instead — that variant lives in
    * [[seasonRollup]]; the series resolver at index.js:85-91 returns 0.) */
  private def withDerivedMetrics(framed: DataFrame): DataFrame = {
    val m  = col("matches_played_cum")
    val k  = col("kills_cum")
    val d  = col("deaths_cum")
    val gk = col("gulag_kills_cum")
    val gd = col("gulag_deaths_cum")
    framed
      .withColumn("kd_cum", when(d === 0.0, k).otherwise(k / d))
      .withColumn("kills_per_game",
        when(m === 0.0, 0.0).otherwise(k / m))
      .withColumn("deaths_per_game",
        when(m === 0.0, 0.0).otherwise(d / m))
      .withColumn("dmg_per_game",
        when(m === 0.0, 0.0).otherwise(col("damage_done_cum") / m))
      .withColumn("dmg_per_kill",
        when(k === 0.0, 0.0).otherwise(col("damage_done_cum") / k))
      .withColumn("gulag_win_pct",
        when(gk + gd === 0.0, 0.0).otherwise(lit(100.0) * gk / (gk + gd)))
      .withColumn("monster_pct",
        when(m === 0.0, 0.0).otherwise(lit(100.0) * col("monsters_cum") / m))
      .withColumn("gooseegg_pct",
        when(m === 0.0, 0.0).otherwise(lit(100.0) * col("gooseeggs_cum") / m))
  }

  /** Per-game series — the by-game twin of [[timeSeries]]
    * (generate_lookup_data.sh:827-868: smoothed_10/25 over games in play
    * order; each game contributes matchesPlayed=1 and its monster /
    * goose-egg flags, parse_matches.sh:509-534). Play order is
    * (ended_at, game_id, player_uno_id): one player on two accounts in one
    * match has two rows with the same end time, and the fact key breaks
    * the tie. */
  def gameSeries(stats: DataFrame, ks: Seq[Int] = Seq(10, 25),
                 settings: Settings = Settings(),
                 entity: Seq[Column] = Seq(col("player_id"))): DataFrame = {
    val framed = Frames.rollingSumsAndAvgs(stats,
      entity, Seq(col("ended_at"), col("game_id"), col("player_uno_id")),
      seriesSumMeasures(lit(1L),
        when(col("kills") >= settings.monsterKills, 1L).otherwise(0L),
        when(col("kills") === 0.0, 1L).otherwise(0L)),
      Seq("kd_ratio" -> col("kd_ratio"),
          "score_per_minute" -> col("score_per_minute")),
      ks)
    withDerivedMetrics(framed)
  }

  /** [[gameSeries]] scoped per overlapping season (frames restart at each
    * season boundary, matching the reference's per-season game files). */
  def gameSeriesBySeason(stats: DataFrame, seasons: Dataset[Season],
                         ks: Seq[Int] = Seq(10, 25),
                         settings: Settings = Settings()): DataFrame =
    gameSeries(
      RangeJoin.broadcastRange(stats, seasons.toDF(),
        col("ended_at"), col("start_ts"), col("end_ts")),
      ks, settings, Seq(col("player_id"), col("season_id")))

  /** Lifetime per-metric records with the reference's tie semantics
    * (index.js:408-418, SURVEY §2.6 T5): every player tied at the metric
    * maximum is a record holder, deduped to each holder's first occurrence.
    * Per-metric max via broadcast (never an unbounded window over a
    * handful of metric keys). */
  def records(stats: DataFrame, metrics: Seq[String] = leaderboardMetrics): DataFrame = {
    val melted = corePlayers(stats).select(
      col("player_id"), col("game_id"), col("ended_at"),
      explode(array(metrics.map(m =>
        struct(lit(m).as("metric"), col(m).as("value"))): _*)).as("mv"))
      .select(col("player_id"), col("game_id"), col("ended_at"),
              col("mv.metric").as("metric"), col("mv.value").as("value"))
    val maxes = melted.groupBy(col("metric")).agg(max(col("value")).as("vmax"))
    val wFirst = Window.partitionBy(col("metric"), col("player_id"))
      .orderBy(col("ended_at"), col("game_id"))
    melted.join(broadcast(maxes), Seq("metric"))
      .filter(col("value") === col("vmax"))
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .select(col("metric"), col("player_id"), col("value"),
              col("game_id"), col("ended_at"))
  }

  /** Per-day time series over the [[perDay]] rollup: the full 12-measure
    * smoothed_3/7 + cumulative buckets and the client-side derived metrics
    * computed server-side (generate_lookup_data.sh:734-775; index.js:19-135
    * statResolvers with their zero-denominator guards). */
  def timeSeries(daily: DataFrame, ks: Seq[Int] = Seq(3, 7),
                 entity: Seq[Column] = Seq(col("player_id"))): DataFrame = {
    val framed = Frames.rollingSumsAndAvgs(daily,
      entity, Seq(col("day")),
      seriesSumMeasures(col("n_games"), col("monsters"), col("gooseeggs")),
      Seq("kd_ratio" -> col("avg_kd"),
          "score_per_minute" -> col("avg_spm")),
      ks)
    withDerivedMetrics(framed)
  }
}

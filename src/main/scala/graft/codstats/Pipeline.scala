package graft.codstats

import java.util.concurrent.{ExecutionException, Executors}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Stages
import Model._

/** End-to-end pipeline assembly (SURVEY.md §3 E1): landing JSON →
  * normalize → derived views → report DataFrames → JSON report sink.
  *
  * The reference shells out one sqlite3 process per report
  * (players × seasons × type); here every report family is one DataFrame,
  * written once — `partitionBy(player_id)` on the series reports replaces
  * the per-player loop.
  */
object Pipeline {

  case class Context(spark: SparkSession, valid: DataFrame,
                     players: Dataset[Player], modes: Dataset[GameMode],
                     seasons: Dataset[Season], settings: Settings) {
    lazy val stats: DataFrame = Reports.statsWz(valid, players, modes)
  }

  /** Build the context from raw per-match JSON documents. */
  def fromRawJson(spark: SparkSession, raw: DataFrame,
                  players: Dataset[Player], modes: Dataset[GameMode],
                  seasons: Dataset[Season],
                  settings: Settings = Settings()): Context = {
    val valid = Normalize.validGames(Normalize.parse(raw), modes)
    Context(spark, valid, players, modes, seasons, settings)
  }

  /** Write a report as single-file JSON (reference S7 sink shape:
    * one JSON document per report, generate_lookup_data.sh:319-349).
    * Small report DataFrames only — coalesce(1) is the point, not a
    * bottleneck: every report here is already aggregated/top-k'd. */
  def writeJsonReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)

  /** The reference's cron run loop (`run_and_deploy.sh`: fetch → parse →
    * generate → sync, README.md run-loop docs) as ONE streaming job:
    * landing stream → normalize → foreachBatch appends NEW fact rows →
    * one report-tree rebuild per tick over the full store
    * ([[runReports]]: one cached stats view, every report written
    * concurrently).
    *
    * `Trigger.AvailableNow` makes each invocation one cron tick — drain
    * everything new, refresh reports, stop, resumable from the checkpoint;
    * swapping in a processing-time trigger turns the same job into a
    * continuously-refreshing service (move the report rebuild into a
    * listener or a second cadence). Rebuilding every report per tick is
    * the reference's own cost model (it regenerates every file each run),
    * and the rebuild runs even on an empty tick so meta.updatedAt always
    * reflects the last successful run.
    *
    * Idempotency: each batch anti-joins the store's existing
    * (game_id, player_uno_id) keys and keeps one row per key before
    * appending — the reference's INSERT OR IGNORE (its parser does the
    * same NOT-IN over all ingested keys, parse_matches.sh:580-596). This
    * guards re-delivered documents under new filenames, in the same tick or
    * a later one, AND foreachBatch replays after a crash between the append
    * and the checkpoint commit. At scale the key read is column-pruned to
    * the two id columns. The batch's new rows are sealed once (one scan of
    * the batch serves the emptiness probe and the append) and released
    * synchronously, so a long-lived cron process holds no checkpoint
    * blocks between batches.
    *
    * Failure: a report that fails to write fails the call, after every
    * other report of the tick has been written (see [[runReports]]).
    */
  def continuousRun(spark: SparkSession, landingDir: String,
                    checkpointDir: String, factDir: String, reportDir: String,
                    players: Dataset[Player], modes: Dataset[GameMode],
                    seasons: Dataset[Season],
                    settings: Settings = Settings()): Unit = {
    recoverFactStore(factDir) // heal a crashed compaction swap first
    def store(): Option[DataFrame] =
      if (new java.io.File(factDir).exists()) Some(spark.read.parquet(factDir))
      else None
    val raw = StreamingIngest.readLanding(spark, landingDir)
    val valid = StreamingIngest.validGamesStream(raw, modes)
    val q = valid.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one row per key also within the batch; after the anti-join, whose
        // shuffle (at scale) already partitions on the key
        val fresh = Stages.seal((store() match {
          case Some(existing) => Normalize.newGamesOnly(batch, existing)
          case None           => batch
        }).dropDuplicates("game_id", "player_uno_id"), eager = true)
        try {
          // a zero-row batch must not create a data-less factDir (parquet
          // schema inference would fail on the next store() read)
          if (!fresh.isEmpty) {
            // event-date partitioning (Normalize's production contract): the
            // derived layer prunes to the dates a report touches, and
            // compaction works per partition
            fresh.withColumn("fact_day", to_date(col("ended_at")))
              .write.mode("append").partitionBy("fact_day").parquet(factDir)
          }
        } finally Stages.release(Seq(fresh))
      }
      .start()
    q.awaitTermination()
    // the report rebuild runs even when no store exists yet (first tick saw
    // nothing): meta/seasons/players need no fact data, and the fact-backed
    // reports come out empty-but-valid over a zero-row frame
    val fact = store().map(_.drop("fact_day")).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        valid.schema))
    runReports(Context(spark, fact, players, modes, seasons, settings), reportDir)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** Self-heal a fact store left mid-swap by a CRASHED [[compactFactStore]]:
    * restore a staged-out whole store or per-day backups whose replacement
    * never landed, and drop leftovers whose swap DID complete. Spark never
    * reads `_`-prefixed directories, so in-flight staging/backup dirs are
    * invisible to concurrent readers. Called on entry by both
    * [[continuousRun]] and [[compactFactStore]].
    *
    * Like compaction itself, recovery assumes the single-writer contract:
    * it must not run while another process is actively compacting (it
    * would treat the live staging/backup dirs as crash leftovers). A
    * deployment that cannot serialize writers needs a manifest/table
    * format instead of rename-swaps — see the compaction scaladoc. */
  def recoverFactStore(factDir: String): Unit = {
    val root = new java.io.File(factDir)
    val wholeOld = new java.io.File(factDir + "_old")
    if (!root.exists() && wholeOld.exists()) wholeOld.renameTo(root)
    if (!root.exists()) return
    // root exists ⇒ any whole-store swap completed; a surviving backup or
    // staging copy is a crash leftover (e.g. mid-rmTree) — drop both so a
    // stale full copy never lingers on disk
    rmTree(wholeOld)
    rmTree(new java.io.File(factDir + "_compacting"))
    val entries = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
    entries.filter(_.getName.startsWith("_old_fact_day=")).foreach { old =>
      val live = new java.io.File(root, old.getName.stripPrefix("_old_"))
      if (!live.exists()) old.renameTo(live) else rmTree(old)
    }
    entries.filter(_.getName.startsWith("_tmp_fact_day=")).foreach(rmTree)
  }

  /** Compact the streaming fact store: every `continuousRun` tick appends
    * one small parquet file per (batch, day) — after months of 20-minute
    * ticks that is the classic small-files problem (footer-per-file
    * planning cost dominates the scan). INCREMENTAL: only day partitions
    * holding more than one data file are rewritten (ticks append only to
    * recent days, so old days are compacted once and never touched again)
    * — O(days touched since last compaction), not O(store). Each rewrite
    * stages into a `_`-prefixed dir (invisible to Spark readers), swaps by
    * rename with a backup kept until the swap completes, and rolls back on
    * failure; [[recoverFactStore]] heals any crash window. A legacy
    * UNPARTITIONED store (pre-day-layout) is migrated wholesale on first
    * call — run compaction once when upgrading, before the next tick.
    * Local-FS renames here; an object-store deployment swaps via a
    * manifest/table format instead.
    *
    * Concurrency contract: the store has ONE writer at a time — run
    * compaction between `continuousRun` ticks, never concurrently with one
    * (the reference's cron loop gives the same serialization for free).
    * As a belt-and-braces guard against a violated contract, each per-day
    * swap (a) re-lists the partition just before renaming and SKIPS the
    * swap if the file set changed since the staging copy was read, and
    * (b) after the swap, moves any file found in the backup that was not
    * in the staged snapshot back into the live partition — so a file
    * appended even in the instant between re-list and rename is recovered,
    * not deleted with the backup. The legacy whole-store migration has no
    * such guard (it predates the partitioned layout, so no tick can be
    * appending day partitions to it). */
  def compactFactStore(spark: SparkSession, factDir: String): Unit = {
    recoverFactStore(factDir)
    val root = new java.io.File(factDir)
    if (!root.exists()) return
    val entries = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
    val dayDirs = entries.filter(f =>
      f.isDirectory && f.getName.startsWith("fact_day="))
    if (dayDirs.isEmpty) {
      // legacy unpartitioned store → migrate to the day-partitioned layout
      val staging = new java.io.File(factDir + "_compacting")
      rmTree(staging)
      val df0 = spark.read.parquet(factDir)
      val df = if (df0.columns.contains("fact_day")) df0
               else df0.withColumn("fact_day", to_date(col("ended_at")))
      df.repartition(col("fact_day"))
        .write.mode("overwrite").partitionBy("fact_day").parquet(staging.getPath)
      val old = new java.io.File(factDir + "_old")
      rmTree(old)
      require(root.renameTo(old), s"compaction: cannot stage out $factDir")
      if (!staging.renameTo(root)) {
        old.renameTo(root)
        sys.error(s"compaction swap failed for $factDir; original restored")
      }
      rmTree(old)
      return
    }
    def dataFiles(d: java.io.File): Set[String] =
      Option(d.listFiles()).map(_.filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName).toSet).getOrElse(Set.empty)
    dayDirs.foreach { d =>
      val snapshot = dataFiles(d)
      if (snapshot.size > 1) {
        val stg = new java.io.File(root, "_tmp_" + d.getName)
        spark.read.parquet(d.getPath).coalesce(1)
          .write.mode("overwrite").parquet(stg.getPath)
        if (dataFiles(d) != snapshot) {
          // a concurrent tick appended despite the single-writer contract:
          // the staging copy is stale — discard it, keep the live partition
          rmTree(stg)
        } else {
          val old = new java.io.File(root, "_old_" + d.getName)
          rmTree(old)
          require(d.renameTo(old), s"compaction: cannot stage out ${d.getPath}")
          if (!stg.renameTo(d)) {
            old.renameTo(d)
            sys.error(s"compaction swap failed for ${d.getPath}; partition restored")
          }
          // a file appended in the instant between the re-list above and the
          // renameTo travelled into the backup — move it into the live
          // partition before dropping the backup, so even that window loses
          // nothing (part-file names are unique, no collision possible)
          Option(old.listFiles()).foreach(_.foreach { f =>
            if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
                && !snapshot.contains(f.getName))
              f.renameTo(new java.io.File(d, f.getName))
          })
          rmTree(old)
        }
      }
    }
  }

  /** The series measures whose cumulative keys the reference frontend
    * reads — emitted with its literal "cumalative" [sic] spelling
    * (generate_lookup_data.sh:762,855; SURVEY §7.1): downstream consumers
    * of the original files key on it. */
  private val cumalativeKeys: Seq[String] = Seq(
    "matches_played", "kills", "deaths", "gulag_kills", "gulag_deaths",
    "headshots", "damage_done", "distance_traveled", "monsters", "gooseeggs")

  private def renameCumalative(df: DataFrame): DataFrame =
    cumalativeKeys.foldLeft(df.withColumnRenamed("kd_cum", "cumalative_kd")) {
      (d, m) => d.withColumnRenamed(s"${m}_cum", s"cumalative_$m")
    }

  /** The frozen report-tree inventory (FIXTURES.md §4 ↔ the files the
    * reference frontend loads, generate_lookup_data.sh): one entry per
    * written directory; the e2e golden test pins this exact set. */
  val reportInventory: Seq[String] = Seq(
    "meta", "seasons", "players",            // write_meta (:54-91)
    "leaderboards",                          // per-metric top-10 (:101-349)
    "most_wins", "most_lastplaces",          // lifetime counts (:416-456)
    "team_leaderboards",                     // team rollups (:478-505)
    "recent_matches", "recent_sessions",     // (:514-581)
    "sessions",                              // per-player sessions (:941-961)
    "season_rollup",                         // per-season rollup (:590-633)
    "player_stats",                          // per-player season doc (:590-701)
    "unknown_modes",                         // audit (parse_matches.sh:205-221)
    "time_series", "game_series")            // per-player series (:707-868)

  /** Materialize the standard report set under `outDir` — one directory
    * per file the reference frontend loads (write_meta +
    * write_leaderboards + per-player loops, generate_lookup_data.sh).
    *
    * The reference runs one sqlite3 process per report, one after another.
    * Here the rebuild is one wave:
    *  - `ctx.stats` (fact ⨝ players ⨝ tracked modes) is persisted
    *    (MEMORY_AND_DISK: at scale it spills rather than fails) and
    *    materialized by one action, so the fact-backed reports read one
    *    cached relation instead of each rescanning the store and
    *    re-broadcasting the dims; the mode-category list is collected once;
    *  - the report writes are independent, so all of them are submitted at
    *    once to a pool with one thread per write, and Spark's scheduler
    *    interleaves their jobs on the cluster. The pool is created here, so
    *    its threads are started by the caller and inherit its local
    *    properties (job group, job tags);
    *  - the call returns, or throws, only after every write has finished:
    *    if any write fails, the first failure in [[reportInventory]] order
    *    is rethrown with the others attached as suppressed exceptions, and
    *    every other report has been written by then. The stats cache lives
    *    for this call only: it is released, blocking, on every path.
    */
  def runReports(ctx: Context, outDir: String): Unit = {
    val s = ctx.stats.persist()
    try {
      s.count()
      // category list is dimension data (O(10) rows): driver-side collect is
      // the intended use, same as broadcasting the dim itself
      val categories = ctx.modes.select(col("category")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      concurrently(Seq(
        () => writeJsonReport(ctx.spark.sql(
          "SELECT unix_millis(current_timestamp()) AS updatedAt"), s"$outDir/meta"),
        () => writeJsonReport(Reports.seasonsDoc(ctx.seasons), s"$outDir/seasons"),
        // players.json copy (write_meta:56): the dim ships with the site
        () => writeJsonReport(ctx.players.toDF(), s"$outDir/players"),
        () => writeJsonReport(Reports.leaderboards(s), s"$outDir/leaderboards"),
        () => writeJsonReport(Reports.mostWins(s), s"$outDir/most_wins"),
        () => writeJsonReport(Reports.mostLastPlaces(s), s"$outDir/most_lastplaces"),
        () => writeJsonReport(Reports.teamStats(s), s"$outDir/team_leaderboards"),
        () => writeJsonReport(Reports.recentMatchesDoc(s, ctx.modes),
          s"$outDir/recent_matches"),
        () => writeJsonReport(Reports.recentSessions(s, ctx.settings),
          s"$outDir/recent_sessions"),
        // per-(player, season) outputs: partitioned writes replace the
        // reference's players × seasons query loop; the 'lifetime' season
        // partition carries the unscoped series
        () => Reports.sessions(s, ctx.settings)
          .write.mode("overwrite").partitionBy("player_id")
          .json(s"$outDir/sessions"),
        () => writeJsonReport(Reports.seasonRollup(s, ctx.seasons),
          s"$outDir/season_rollup"),
        () => writeJsonReport(
          Reports.playerStatsDoc(s, ctx.seasons, ctx.modes, categories),
          s"$outDir/player_stats"),
        () => writeJsonReport(Normalize.unknownModes(ctx.valid, ctx.modes),
          s"$outDir/unknown_modes"),
        () => {
          val daily = Reports.perDayBySeason(s, ctx.seasons, ctx.settings)
            .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
          renameCumalative(Reports.timeSeries(daily,
              entity = Seq(col("player_id"), col("season_id"))))
            .write.mode("overwrite").partitionBy("player_id", "season_id")
            .json(s"$outDir/time_series")
        },
        () => renameCumalative(Reports.gameSeriesBySeason(s, ctx.seasons,
            settings = ctx.settings))
          .write.mode("overwrite").partitionBy("player_id", "season_id")
          .json(s"$outDir/game_series")))
    } finally s.unpersist(blocking = true)
  }

  /** Run independent `tasks` at once, one pool thread each, and return once
    * all have finished; then rethrow the first failure in `tasks` order,
    * the later ones attached as suppressed. The threads are created by the
    * calling thread (a fixed pool starts one thread per submission while
    * it is below its size), so they inherit its Spark local properties. */
  private def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t => pool.submit[Unit](() => t()))
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}

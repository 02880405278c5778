package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}

import graft.SparkEntry
import graft.codstats.{Model, Normalize, Pipeline}

/** The benchmark's JVM side. It drives the program only through public
  * entry points (`Pipeline.continuousRun`, `Pipeline.compactFactStore`,
  * `SparkEntry.queries`) over inputs generated beforehand, times each op,
  * checks the outputs outside the timed region, and writes one JSON object
  * of metrics to the result file.
  *
  * Usage: Harness <workload> <trace 0|1> <cores> <inputs> <work>
  *                <result.json> <launch epoch ms>
  *
  * Set-up counts from JVM start (the launch time is taken after the inputs
  * are generated) to a ready session, plus the workload's own set-up. A
  * run times a fixed amount of work: one tick, or one pass over the query
  * sample. With trace 1 the run makes three: a
  * warm-up, one with the listeners attached, whose ops give the per-layer
  * metrics as per-op means, and one without, so the tracing overhead
  * compares two warm runs of the same work.
  */
object Harness {

  /** One op's wall and, when traced, its per-layer metrics. */
  final case class Op(ok: Boolean, wallS: Double, layers: Option[Map[String, Double]])

  final class Run(val spark: SparkSession, val trace: Boolean,
                  val inputs: String, val work: String) {
    val ops = ArrayBuffer.empty[Op]
    val extraLayers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var failed = 0
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    var setupMs = 0L

    /** Time `body` as set-up. */
    def setup[A](body: => A): A = {
      val t0 = System.currentTimeMillis()
      try body finally setupMs += System.currentTimeMillis() - t0
    }
    val tracer = new Tracer(spark)

    def record(op: Op): Unit = {
      ops += op
      if (!op.ok) failed += 1
    }

    def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
      checks += ((name, ok, detail))
      if (!ok) log(s"check failed: $name $detail")
      ok
    }
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, tr, cores, inputs, work, resultFile, launchMs) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    val run = new Run(spark, tr == "1", inputs, work)
    run.setupMs = System.currentTimeMillis() - launchMs.toLong
    workload match {
      case "codstats_tick" => Codstats.tick(run)
      case "query_ledger"  => Ledger.run(run)
      case other => sys.error(s"unknown workload $other")
    }
    log("checks done")
    val walls = run.ops.map(_.wallS).toSeq
    val m = scala.collection.mutable.LinkedHashMap(
      "setup_s" -> run.setupMs / 1e3,
      "op_mean_s" -> walls.sum / walls.size)
    if (run.trace) {
      m("jvm.rss_peak_mb") = rssPeakMb()
      val traced = run.ops.flatMap(_.layers)
      traced.flatMap(_.keys).distinct.foreach { k =>
        m(k) = traced.map(_.getOrElse(k, 0.0)).sum / traced.size }
      m ++= run.extraLayers
    }
    val checks = run.checks.map { case (n, ok, d) =>
      s"""{"name":${q(n)},"ok":$ok,"detail":${q(d)}}""" }.mkString("[", ",", "]")
    val metrics = m.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(resultFile),
      s"""{"attempted":${run.ops.size},"failed":${run.failed},""" +
      s""""checks":$checks,"metrics":$metrics,""" +
      s""""reports":${Pipeline.reportInventory.map(q).mkString("[", ",", "]")},""" +
      s""""op_walls_s":${walls.map(num).mkString("[", ",", "]")}}""")
    spark.stop()
  }

  /** Run `body` as one op tagged `opId`. With `traced`, the listeners are
    * attached around it and `layerFn` turns its events into layer metrics;
    * `excludeMs` is time inside the op that belongs to tracing alone. */
  def timedOp(run: Run, opId: String, traced: Boolean)(body: => Unit)
             (layerFn: (Events, Long, Long) => Map[String, Double],
              excludeMs: => Long = 0L): Op = {
    val sc = run.spark.sparkContext
    System.gc() // every op starts from a drained heap, as Bench's reps do
    if (traced) run.tracer.attach()
    val (c0, cns0) = Trace.codegen()
    sc.addJobTag(opId)
    val t0 = System.currentTimeMillis()
    val ok = try { body; true } catch { case e: Throwable =>
      log(s"$opId failed: $e"); false
    }
    val t1 = System.currentTimeMillis()
    sc.removeJobTag(opId)
    val wall = (t1 - t0 - excludeMs) / 1e3
    if (!traced) Op(ok, wall, None)
    else {
      val ev = run.tracer.harvest()
      run.tracer.detach()
      val (c1, cns1) = Trace.codegen()
      val js = ev.jobsTagged(opId)
      Op(ok, wall, Some(layerFn(ev, t0, t1) ++ Trace.schedulerLayer(ev, js, t0, t1) ++
        Trace.catalystLayer(ev.actions) ++ Map(
          "codegen.compiles" -> (c1 - c0).toDouble,
          "codegen.compile_s" -> (cns1 - cns0) / 1e9,
          "spark.untagged_jobs" -> (ev.jobs.size - js.size).toDouble,
          "trace.op_s" -> wall)))
    }
  }

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def files(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(files)
    else if (dir.isFile) Seq(dir) else Nil

  /** Data files as a reader sees them: `_`/`.`-prefixed names are hidden. */
  def dataFiles(dir: File): Seq[File] = files(dir).filter { f =>
    val n = f.getName; !n.startsWith("_") && !n.startsWith(".")
  }

  def copyAll(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach(f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }
}

/** The codstats cron workload: set-up lands the corpus and backfills it
  * into a compacted store; each op lands one tick's documents and runs one
  * cron cycle (streaming tick with full report rebuild, then compaction). */
object Codstats {
  import Harness._

  final case class DimSets(players: Dataset[Model.Player],
                           modes: Dataset[Model.GameMode],
                           seasons: Dataset[Model.Season])

  def dims(spark: SparkSession, inputs: String): DimSets = {
    import spark.implicits._
    DimSets(graft.codstats.Dims.playersFromJson(spark, s"$inputs/players.jsonl").cache(),
      Model.seedGameModes.toDS(),
      Model.seedSeasons.map { case (id, a, b) => Model.Season(id,
        java.sql.Timestamp.from(java.time.Instant.parse(a)),
        java.sql.Timestamp.from(java.time.Instant.parse(b))) }.toDS())
  }

  final case class Dirs(root: String) {
    val landing = s"$root/landing"; val checkpoint = s"$root/checkpoint"
    val store = s"$root/store"; val site = s"$root/site"
  }

  /** One cron cycle: the program's streaming tick, then compaction. Traced,
    * the store is counted before and listed between the two calls; the
    * listing is taken out of the op's wall. */
  def cycle(run: Run, d: DimSets, dirs: Dirs, opId: String, traced: Boolean,
            landed: Seq[String]): Op = {
    val spark = run.spark
    val rowsBefore = if (traced && new File(dirs.store).exists())
      spark.read.parquet(dirs.store).count() else 0L
    var t1 = 0L; var t2 = 0L
    var before: Seq[File] = Nil
    timedOp(run, opId, traced) {
      Pipeline.continuousRun(spark, dirs.landing, dirs.checkpoint, dirs.store,
        dirs.site, d.players, d.modes, d.seasons)
      t1 = System.currentTimeMillis()
      if (traced) before = dataFiles(new File(dirs.store))
      t2 = System.currentTimeMillis()
      Pipeline.compactFactStore(spark, dirs.store)
    }({ (ev, t0, t3) =>
      // spans that partition the op: ingest [t0, last trigger end], whose
      // addBatch time is the store append; reports [ingest end, t1], split
      // into SQL executions and the driver gap between them; compaction
      // [t2, t3]
      val ingestEnd = (ev.batches.map(b => b.start + b.durationsMs.getOrElse(
        "triggerExecution", 0L)) :+ t0).max min t1
      def dur(k: String) = ev.batches.map(_.durationsMs.getOrElse(k, 0L)).sum / 1e3
      val appendS = dur("addBatch")
      val reportExecs = ev.execs.filter(e => e.start >= ingestEnd && e.start <= t1)
      val covered = Trace.coveredMs(reportExecs.map(e => (e.start, e.end)), ingestEnd, t1)
      val perDir = reportExecs.groupBy(_.outDir)
        .collect { case (Some(dir), es) => dir -> es.map(e => e.end - e.start).sum / 1e3 }
      val reportJobs = ev.jobs.filter(j => j.start >= ingestEnd && j.start <= t1 && j.tags(opId))
      val multiFileDays = before.groupBy(_.getParentFile.getName).filter(_._2.size > 1)
      val siteFiles = dataFiles(new File(dirs.site)).filter(_.length > 0)
      val rowsAfter = spark.read.parquet(dirs.store).count()
      val appended = rowsAfter - rowsBefore
      val validLanded = Normalize.validGames(
        spark.read.schema(Model.matchSchema).json(landed: _*), d.modes).count()
      val mb = 1024.0 * 1024.0
      Map(
        "ingest.batches" -> ev.batches.size.toDouble,
        "ingest.rows" -> ev.batches.map(_.rows).sum.toDouble,
        "ingest.list_s" -> dur("latestOffset"),
        "ingest.get_batch_s" -> dur("getBatch"),
        "ingest.plan_s" -> dur("queryPlanning"),
        "ingest.wal_s" -> (dur("walCommit") + dur("commitOffsets")),
        "ingest.self_s" -> ((ingestEnd - t0) / 1e3 - appendS),
        "store.append_s" -> appendS,
        "store.append_jobs" -> ev.jobs.count(j => j.inBatch && j.tags(opId)).toDouble,
        "store.rows_appended" -> appended.toDouble,
        "store.dup_dropped" -> (validLanded - appended).toDouble,
        "store.files_before_compact" -> before.size.toDouble,
        "store.bytes_per_doc" ->
          dataFiles(new File(dirs.store)).map(_.length).sum.toDouble / (rowsAfter max 1L),
        "compact.s" -> (t3 - t2) / 1e3,
        "compact.partitions_rewritten" -> multiFileDays.size.toDouble,
        "compact.mb_rewritten" -> multiFileDays.values.flatten.map(_.length).sum / mb,
        "reports.s" -> (t1 - ingestEnd) / 1e3,
        "reports.driver_gap_s" -> ((t1 - ingestEnd) - covered) / 1e3,
        "reports.jobs" -> reportJobs.size.toDouble,
        "reports.tasks" -> ev.stagesOf(reportJobs).map(_.tasks).sum.toDouble,
        "sink.files" -> siteFiles.size.toDouble,
        "sink.mb" -> siteFiles.map(_.length).sum / mb,
        "trace.listing_s" -> (t2 - t1) / 1e3
      ) ++ Pipeline.reportInventory.map(r => s"reports.${r}_s" -> perDir.getOrElse(r, 0.0))
    }, excludeMs = t2 - t1)
  }

  def jsonFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getPath)
      .filter(_.endsWith(".json")).sorted

  /** Re-deliveries are the landed files whose name carries a tick suffix. */
  def isRedelivery(path: String): Boolean = path.matches(""".*\.t\d+\.json""")

  /** The reference tree for the output check, a batch rebuild from the
    * de-duplicated documents this run lands, is built first: untimed, it is
    * also the JVM's warm-up, so that set-up and ticks are timed warm, as a
    * cron process runs them. Set-up then builds the store: the corpus
    * landed, backfilled and compacted (traced, its layers are reported
    * under backfill.*). The run then lands and times one tick; traced, a
    * warm-up tick, a traced and an untraced one. */
  def tick(run: Run): Unit = {
    val d = dims(run.spark, run.inputs)
    val dirs = Dirs(s"${run.work}/cron")
    val corpus = s"${run.inputs}/corpus"
    val ticks = new File(s"${run.inputs}/ticks").list().sorted
      .take(if (run.trace) 3 else 1).map(t => s"${run.inputs}/ticks/$t")
    val docs = (corpus +: ticks).flatMap(jsonFiles).filterNot(isRedelivery)
    val raw = run.spark.read.option("wholetext", "true").text(docs: _*)
      .withColumnRenamed("value", "json")
    Pipeline.runReports(Pipeline.fromRawJson(run.spark, raw, d.players, d.modes, d.seasons),
      s"${run.work}/rebuild")
    log("reference tree built")
    val backfill = run.setup {
      copyAll(Paths.get(corpus), Paths.get(dirs.landing))
      cycle(run, d, dirs, "perfbench-backfill", run.trace, jsonFiles(corpus))
    }
    backfill.layers.foreach { l =>
      run.extraLayers ++= Seq("backfill.s" -> backfill.wallS,
        "backfill.ingest_s" -> (l("ingest.self_s") + l("store.append_s")),
        "backfill.get_batch_s" -> l("ingest.get_batch_s"),
        "backfill.store_append_s" -> l("store.append_s"),
        "backfill.reports_s" -> l("reports.s"), "backfill.compact_s" -> l("compact.s"))
    }
    log("set-up done")
    val walls = ticks.zipWithIndex.map { case (tickDir, k) =>
      copyAll(Paths.get(tickDir), Paths.get(dirs.landing))
      // let the JIT queue the previous cycle filled drain before timing
      Thread.sleep(3000)
      val op = cycle(run, d, dirs, s"perfbench-op-$k", run.trace && k == 1,
        jsonFiles(tickDir))
      run.record(op)
      op.wallS
    }
    log(s"${ticks.length} ticks done")
    if (run.trace) run.extraLayers("trace.overhead_s") = walls(1) - walls(2)
    verify(run, dirs, backfill.ok, expectedRows(run.inputs, ticks.length - 1))
  }

  /** Distinct valid rows after tick `k`, from the generator's expected.json. */
  def expectedRows(inputs: String, k: Int): Long = {
    val js = new String(Files.readAllBytes(Paths.get(s"$inputs/expected.json")))
    """"cumulative":\[([0-9,]*)\]""".r.findFirstMatchIn(js.replaceAll("\\s", ""))
      .get.group(1).split(',')(k).toLong
  }

  /** Output checks, untimed: the set-up backfill ran, the report tree's
    * directory set, and the store's distinct-row count (run.py compares
    * every report but meta with the reference tree). A failed check fails
    * the last op. */
  def verify(run: Run, dirs: Dirs, backfillOk: Boolean, expected: Long): Unit = {
    val got = Option(new File(dirs.site).list()).toSeq.flatten.filterNot(_.startsWith(".")).toSet
    var ok = run.check("backfill", backfillOk)
    ok &= run.check("report_inventory", got == Pipeline.reportInventory.toSet,
      s"got ${got.toSeq.sorted.mkString(",")}")
    val stored = run.spark.read.parquet(dirs.store).count()
    ok &= run.check("store_rows", stored == expected, s"$stored stored, $expected expected")
    if (!ok) run.failed += 1
  }
}

/** The query ledger: one op is one `SparkEntry.queries` entry over the
  * generated tables, built, then executed through `queryExecution.toRdd`
  * with its rows collected (they are written out after the op, untimed,
  * for the oracle check). */
object Ledger {
  import Harness._

  /** Every `stride`-th query in sorted name order: a fixed sample that
    * spans the query families. */
  val stride = 14

  def sample: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .collect { case (e, i) if i % stride == 0 => e }

  def run(run: Run): Unit = {
    val spark = run.spark
    val tables = s"${run.inputs}/tables"
    // the session's first scan and job
    run.setup(graft.Tables.nation(spark, tables).collect())
    log("set-up done")
    val dump = s"${run.work}/verify"
    val qs = sample
    // traced: pass 0 warms the JIT, pass 1 is traced, pass 2 is not
    val passes = if (run.trace) Seq(false, true, false) else Seq(false)
    val passWalls = passes.zipWithIndex.map { case (traced, p) =>
      val walls = qs.zipWithIndex.map { case ((name, fn), i) =>
        var df: DataFrame = null
        var rows = Array.empty[InternalRow]
        var tb = 0L
        var phases = Map.empty[String, Long]
        val opId = s"perfbench-op-$p-$i"
        val op = timedOp(run, opId, traced) {
          spark.sparkContext.addJobTag("perfbench-build")
          try df = fn(spark, tables)
          finally spark.sparkContext.removeJobTag("perfbench-build")
          tb = System.currentTimeMillis()
          val qe = df.queryExecution
          rows = qe.toRdd.map(_.copy()).collect()
          phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        } { (ev, t0, t1) =>
          val js = ev.jobsTagged(opId)
          val build = js.filter(_.tags("perfbench-build"))
          Map(
            "query.build_s" -> (tb - t0) / 1e3,
            "query.build_jobs" -> build.size.toDouble,
            "tables.schema_jobs" -> build.count(_.callSites.contains("graft.Tables")).toDouble,
            "query.exec_s" -> (t1 - tb) / 1e3,
            "query.exec_jobs" -> (js.size - build.size).toDouble)
        }
        // the op's own plan ran through toRdd, not an action: add its phases
        run.record(op.copy(layers = op.layers.map(l => l ++
          Trace.catalystLayer(Seq(phases)).map { case (k, v) => k -> (v + l.getOrElse(k, 0.0)) })))
        // the collected rows, for the oracle check; then release caches and
        // fences
        if (p == 0 && op.ok) {
          val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
          spark.createDataFrame(rows.toSeq.map(r => toRow(r).asInstanceOf[Row]).asJava, df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        op.wallS
      }
      log(s"pass $p done")
      walls.sum
    }
    if (run.trace) run.extraLayers("trace.overhead_s") = (passWalls(1) - passWalls(2)) / qs.size
    // the sampled queries' oracle SQL, for tools/check_oracle.py
    val names = qs.map(_._1).toSet
    Files.createDirectories(Paths.get(dump))
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      SparkEntry.oracleSql.toSeq.filter(e => names(e._1)).sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }
}

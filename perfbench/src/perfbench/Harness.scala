package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Api, SparkEntry, Tables}
import graft.operators.{Cycle, Maintenance, Mart}
import graft.streaming.StreamRollup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: one workload in one fresh JVM.
  *
  * `run.py` generates the seed's inputs under `--root` and starts this
  * main; it writes `result.json` (timings, per-layer figures, API and
  * ingest checks) and `spans.json` under `--root`, plus each timed
  * iteration's entry outputs for `run.py` to check against the cached
  * expected hashes.
  *
  * The program is called only through its public entry points:
  * `SparkEntry.queries`, `Maintenance.mergeCandles`,
  * `StreamRollup.csvFileSource`/`rollup5m`, `Mart.upsertMart` and
  * `Api.start` over loopback HTTP.
  */
object Harness {
  final case class Opts(workload: String, seconds: Int, trace: Boolean,
      root: String, fault: String)

  /** The production tick, then the offline corpus slice. */
  val TickEntries: Seq[String] = Seq("r07_topk_union", "f01c_cycle_slice",
    "f01d_cycle_metrics", "f02_production_tick", "d06_dedup_survivors",
    "p08_diversity_prune", "h24_group_quantiles")
  val SetupReps = 3

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seconds").toInt, kv("trace") == "1",
      kv("root"), kv.getOrElse("fault", "none"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.root}/tmp")
      .config("spark.sql.streaming.fileSource.log.compactInterval", "100")
      // long call sites deep enough to reach the program's outer modules
      .config("spark.callstack.depth", "200"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = new Ledger(full = o.trace)
    spark.sparkContext.addSparkListener(ledger)
    val plan = mapper.readTree(Paths.get(o.root, "plan.json").toFile)
    val run = new Run(spark, o, plan, ledger, cores)
    // exit explicitly either way: the API server and the streaming
    // queries leave non-daemon threads behind
    val code =
      try {
        val result = o.workload match {
          case "tick" => run.tick()
          case "live" => run.live()
          case "expect" => run.expect()
          case "train" => run.train()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        Files.writeString(Paths.get(o.root, "result.json"),
          mapper.writerWithDefaultPrettyPrinter().writeValueAsString(result))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    try spark.stop() finally System.exit(code)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
}

final class Run(spark: SparkSession, o: Harness.Opts, plan: JsonNode,
    ledger: Ledger, cores: Int) {
  import Harness._

  private val root = o.root
  private val tracer = new Tracer
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val out = new java.util.LinkedHashMap[String, Object]()
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------ set-up

  private var dir: String = _
  private var martDir: String = _
  private var cooldown: DataFrame = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var api: ApiReads = _

  /** Stage the facts (`Tables.candles`, `Tables.metrics5m`) and the
    * corpora (`Tables.documents`, `Tables.embeddings`) from a fresh copy of
    * the inputs [[SetupReps]] times (the median is the set-up sample); the
    * workload uses the last copy. With `serve`, also write
    * the mart and cooldown fixtures and start the API over them.
    */
  private def setup(serve: Boolean): Unit = {
    val stage = (1 to SetupReps).map { rep =>
      val d = s"$root/stage$rep"
      Files.createDirectories(Paths.get(d))
      Files.list(Paths.get(root, "inputs")).forEach(f =>
        Files.copy(f, Paths.get(d, f.getFileName.toString), StandardCopyOption.REPLACE_EXISTING))
      dir = d
      timed {
        Tables.candles(spark, d).count()
        Tables.metrics5m(spark, d).count()
        Tables.documents(spark, d).count()
        Tables.embeddings(spark, d).count()
      }._2
    }
    out.put("setup_samples", stage.map(Double.box).asJava)
    layers("Tables.stage_s") = median(stage)
    if (serve) {
      martDir = s"$dir/mart"
      val (_, fixture) = timed {
        val atr = SparkEntry.queries("i02_atr")(spark, dir)
        Mart.upsertMart(spark, s"$martDir/${Mart.tableDirName(plan.get("mart_table").asText())}",
          Mart.asMartRow(atr, "1m"))
        SparkEntry.queries("g02_signal_cooldown")(spark, dir)
          .write.mode("overwrite").parquet(s"$dir/cooldown")
      }
      layers("bench.fixture_s") = fixture
      cooldown = spark.read.parquet(s"$dir/cooldown")
      server = Api.start(spark, dir, Some(martDir), Some(cooldown))
      api = new ApiReads(spark, dir, martDir, cooldown, server.getAddress.getPort, cores)
    }
    spark.conf.set("spark.graft.sharedMemo", "off")
  }

  private def finish(): Unit = if (server != null) {
    api.close()
    server.stop(0)
  }

  /** Wait until the listener has seen every event posted so far. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-drain", "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup("perfbench-drain").toSet
    val deadline = System.currentTimeMillis() + 30000
    while (ledger.full && System.currentTimeMillis() < deadline &&
        !ids.forall(id => ledger.allJobs.exists(j => j.id == id && j.endMs >= 0)))
      Thread.sleep(20)
    if (!ledger.full) Thread.sleep(200)
  }

  // ------------------------------------------------------------ tick

  final case class EntryRun(name: String, span: Int, wallS: Double,
      buildS: Double, planS: Double, execS: Double, rows: Int,
      peakPinned: Long)

  private def runEntry(name: String, iter: Int, parent: Int): (EntryRun, Array[Row], org.apache.spark.sql.types.StructType) = {
    ledger.takePeak()
    val ((df, rows, b, p, e), sp) = tracer.span(name, parent, iter) { id =>
      val ((df, b), _) = tracer.span("build", id, iter)(_ => timed(SparkEntry.queries(name)(spark, dir)))
      val ((_, p), _) = tracer.span("plan", id, iter)(_ => timed(df.queryExecution.executedPlan))
      val ((rows, e), _) = tracer.span("exec", id, iter)(_ => timed(df.collect()))
      (df, rows, b, p, e)
    }
    (EntryRun(name, sp.id, sp.wallS, b, p, e, rows.length, ledger.takePeak()), rows, df.schema)
  }

  def tick(): Object = {
    val (_, setupS) = timed(setup(serve = false))
    def iteration(iter: Int) = {
      val (entries, sp) = tracer.span("iteration", 0, iter)(id =>
        TickEntries.map(n => runEntry(n, iter, id)))
      spark.catalog.clearCache()
      System.gc()
      (entries, sp)
    }
    // warm-up iteration, untimed
    val (warm, warmS) = timed(iteration(0))
    val warmPeak = warm._1.map(_._1.peakPinned).max
    layers("bench.warmup_s") = warmS
    val started = System.nanoTime()
    val iters = mutable.ArrayBuffer.empty[(Seq[(EntryRun, Array[Row], org.apache.spark.sql.types.StructType)], Span)]
    while (iters.isEmpty || (System.nanoTime() - started) / 1e9 < o.seconds)
      iters += iteration(iters.length + 1)
    val pinnedAfter = ledger.pinnedBytes
    // outputs of every timed iteration go to disk for run.py's check
    val outputs = new java.util.LinkedHashMap[String, Object]()
    iters.zipWithIndex.foreach { case ((entries, _), i) =>
      entries.foreach { case (er, rows0, schema) =>
        val rows = if (o.fault == "corrupt_row" && i == 0 && er.name == "f02_production_tick")
          corruptOne(rows0) else rows0
        val path = s"$root/out/iter${i + 1}/${er.name}"
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
        outputs.put(s"${i + 1}/${er.name}", path)
      }
    }
    out.put("outputs", outputs)
    val workSamples = iters.map { case (entries, _) => entries.map(_._1.wallS).sum }
    out.put("setup_total_s", Double.box(setupS))
    out.put("work_samples", workSamples.map(Double.box).asJava)
    out.put("entry_attempted", Int.box(iters.map(_._1.size).sum))
    // the first timed iteration's peak: blocks that outlive clearCache()
    // raise every later iteration's peak (bench.pinned_growth_mb), so a
    // peak over the whole phase would depend on how many iterations fit
    val peak = iters.head._1.map(_._1.peakPinned).max
    out.put("peak_pinned_bytes", Long.box(peak))
    layers("bench.pinned_growth_mb") =
      (iters.last._1.map(_._1.peakPinned).max - warmPeak) / 1048576.0
    layers("bench.pinned_after_mb") = pinnedAfter / 1048576.0
    layers("bench.work_s") = median(workSamples.toSeq)
    if (o.trace) tickLayers(iters.toSeq.map(i => (i._1.map(_._1), i._2)))
    finish()
    result()
  }

  /** Replace one field of one row: the corrupted-output fault. */
  private def corruptOne(rows: Array[Row]): Array[Row] = {
    val r = rows(0)
    val i = r.schema.fields.indexWhere(f => f.dataType == org.apache.spark.sql.types.LongType)
    val v = r.toSeq.toArray
    v(i) = Long.box(r.getLong(i) + 1)
    rows.updated(0, Row.fromSeq(v.toSeq))
  }

  private def routeLayers(replies: Seq[Reply]): Unit = {
    Seq("ohlc_1m", "ohlc_1h", "ohlc_1d", "metrics", "indicator", "cooldown").foreach { rt =>
      layers(s"Api.${rt}_ms") =
        median(replies.filter(_.route == rt).map(r => (r.doneUs - r.sentUs) / 1000.0))
    }
    val ms = replies.map(r => (r.doneUs - r.dueUs) / 1000.0)
    layers("Api.p50_ms") = median(ms)
    layers("Api.p90_ms") = pct(ms, 0.9)
    layers("Api.rows_out") = median(replies.map(r => api.rowsOut(r).toDouble))
    layers("bench.gen_late_ms") = median(replies.map(r => (r.sentUs - r.dueUs) / 1000.0))
  }

  /** Job-derived figures for one span: (jobs, tasks, task ms, shuffle,
    * spill, union of job time in ms).
    */
  private def jobFigures(startUs: Long, endUs: Long,
      module: Option[String] = None): (Int, Long, Long, Long, Long, Double) = {
    val js = ledger.jobsBetween(startUs / 1000, endUs / 1000)
      .filter(j => module.forall(j.modules.contains))
    // union of the jobs' intervals, clipped to the span
    val iv = js.map(j => (math.max(j.startMs, startUs / 1000),
      math.min(if (j.endMs < 0) endUs / 1000 else j.endMs, endUs / 1000))).sortBy(_._1)
    var covered = 0.0
    var cur = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > cur._2) { covered += math.max(0L, cur._2 - cur._1); cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    covered += math.max(0L, cur._2 - cur._1)
    (js.size, js.map(_.tasks).sum, js.map(_.taskMs).sum, js.map(_.shuffleBytes).sum,
      js.map(_.spillBytes).sum, covered)
  }

  private def tickLayers(iters: Seq[(Seq[EntryRun], Span)]): Unit = {
    drain()
    val spans = tracer.all
    // per-entry spans, median over timed iterations
    TickEntries.foreach { name =>
      val runs = iters.flatMap(_._1.filter(_.name == name))
      val figs = runs.map { er =>
        val sp = spans.find(_.id == er.span).get
        val (jobs, tasks, taskMs, shuffle, spill, covered) = jobFigures(sp.startUs, sp.endUs)
        (er, jobs, tasks, taskMs, shuffle, spill, sp.wallS - covered / 1000.0)
      }
      def m(f: ((EntryRun, Int, Long, Long, Long, Long, Double)) => Double) = median(figs.map(f))
      val short = name.takeWhile(_ != '_')
      layers(s"$short.wall_s") = m(_._1.wallS)
      layers(s"$short.build_s") = m(_._1.buildS)
      layers(s"$short.plan_s") = m(_._1.planS)
      layers(s"$short.exec_s") = m(_._1.execS)
      layers(s"$short.driver_s") = m(_._7)
      layers(s"$short.jobs") = m(_._2.toDouble)
      layers(s"$short.tasks") = m(_._3.toDouble)
      layers(s"$short.busy_share") = m(f => f._4 / (f._1.wallS * 1000.0 * cores))
      layers(s"$short.shuffle_bytes") = m(_._5.toDouble)
      layers(s"$short.spill_bytes") = m(_._6.toDouble)
      layers(s"$short.pinned_bytes") = m(_._1.peakPinned.toDouble)
    }
    // module attribution over the timed iterations, per iteration
    def module(mod: String) = iters.map { case (_, it) =>
      val (jobs, tasks, taskMs, shuffle, _, covered) = jobFigures(it.startUs, it.endUs, Some(mod))
      (jobs, tasks, taskMs, shuffle, covered / 1000.0)
    }
    def jobS(mod: String) = median(module(mod).map(_._5))
    layers("Tables.job_s") = jobS("Tables")
    layers("Relational.prio_symbols") = median(iters.flatMap(_._1.filter(_.name == "r07_topk_union").map(_.rows.toDouble)))
    Seq("wall_s", "driver_s", "jobs").foreach(m =>
      layers(s"Cycle.$m") = layers(s"f01c.$m") + layers(s"f01d.$m"))
    layers("Rollup.job_s") = jobS("Rollup")
    layers("Rollup.shuffle_bytes") = median(module("Rollup").map(_._4.toDouble))
    layers("MartSeries.job_s") = jobS("MartSeries")
    layers("MartSeries.tasks") = median(module("MartSeries").map(_._2.toDouble))
    layers("RuleCorpus.job_s") = jobS("RuleCorpus")
    layers("RuleCorpus.shuffle_bytes") = median(module("RuleCorpus").map(_._4.toDouble))
    layers("RuleCorpus.cooled_rows") =
      median(iters.flatMap(_._1.filter(_.name == "f02_production_tick").map(_.rows.toDouble)))
    // time covered by no top-level entry or read span, per iteration
    layers("bench.span_coverage") = median(iters.map { case (_, it) =>
      spans.filter(_.parent == it.id).map(_.wallS).sum / it.wallS
    })
    layers("bench.busy_share") = median(iters.map { case (_, it) =>
      jobFigures(it.startUs, it.endUs)._3 / (it.wallS * 1000.0 * cores)
    })
    layers("Tables.pinned_bytes") = ledger.takeModulePeaks().getOrElse("Tables", 0L).toDouble
  }

  // ------------------------------------------------------------ live

  final case class Batch(id: Long, startUs: Long, endUs: Long, rows: Long)

  /** File name → micro-batch id, from the file source's metadata log in
    * the query checkpoint (one `sources/0/<batchId>` file per batch).
    */
  private def fileBatches(ckpt: String): Map[String, Long] = {
    val log = Paths.get(ckpt, "sources", "0")
    Files.list(log).iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .flatMap { p =>
        Files.readAllLines(p).asScala.toSeq.filter(_.startsWith("{")).map { line =>
          val f = mapper.readTree(line).get("path").asText()
          f.substring(f.lastIndexOf('/') + 1) -> p.getFileName.toString.toLong
        }
      }.toMap
  }

  def live(): Object = {
    val (_, setupS) = timed(setup(serve = true))
    val files = plan.get("files").elements().asScala.toSeq
    val warmFiles = plan.get("warm_files").asInt()
    // the production ingest trigger (the collector's 3 s flush window);
    // one file lands per trigger, landPhaseUs into its window
    val triggerUs = plan.get("trigger_ms").asLong() * 1000L
    val landPhaseUs = plan.get("land_phase_ms").asLong() * 1000L
    val reqGapUs = plan.get("request_interval_us").asLong()
    val warmGapUs = plan.get("warm_request_interval_ms").asLong() * 1000L
    val replay = Paths.get(root, "replay")
    val watch = Files.createDirectories(Paths.get(root, "watch"))
    val landing = Files.createDirectories(Paths.get(root, "landing"))

    // the running store: one mergeCandles upsert per micro-batch
    var store: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Tables.CandleSchema)
    store.persist().count()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val ingest = StreamRollup.csvFileSource(spark, watch.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val t0 = tracer.nowUs
        val next = Maintenance.mergeCandles(store, b).persist()
        val n = next.count()
        store.unpersist(true)
        store = next
        batches.add(Batch(id, t0, tracer.nowUs, n))
        ()
      }
      .trigger(Trigger.ProcessingTime(triggerUs / 1000))
      .option("checkpointLocation", s"$root/ckpt-ingest").start()
    val rollup = StreamRollup.rollup5m(StreamRollup.csvFileSource(spark, watch.toString))
      .writeStream.outputMode("update")
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
      .trigger(Trigger.ProcessingTime(triggerUs / 1000))
      .option("checkpointLocation", s"$root/ckpt-rollup").start()

    // a file lands atomically: written beside the watched dir, then moved
    def land(i: Int): Unit = {
      val name = files(i).get("name").asText()
      Files.copy(replay.resolve(name), landing.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      Files.move(landing.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def sleepUntil(us: Long): Unit = {
      val d = us - tracer.nowUs
      if (d > 0) Thread.sleep(d / 1000, ((d % 1000) * 1000).toInt)
    }
    // open loop: files and requests on fixed schedules from t0. Processing-
    // time triggers fire on multiples of the interval since the epoch, so
    // every file lands at the same phase of that grid, and each trigger
    // takes exactly one file.
    def openLoop(fileIdx: Seq[Int], reqs: Seq[JsonNode], gapUs: Long, dropped: Set[Int]) = {
      val t0 = (tracer.nowUs / triggerUs + 1) * triggerUs + landPhaseUs
      val replies = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
      val sender = java.util.concurrent.Executors.newFixedThreadPool(cores)
      val gen = new Thread(() => {
        reqs.zipWithIndex.foreach { case (r, j) =>
          val due = t0 + j * gapUs
          sleepUntil(due)
          sender.submit(new Runnable {
            def run(): Unit = replies.add(api.get(tracer, r.get("route").asText(), r.get("path").asText(), due))
          })
        }
      })
      gen.start()
      val due = fileIdx.zipWithIndex.map { case (i, k) =>
        val d = t0 + k * triggerUs
        sleepUntil(d)
        if (!dropped(i)) land(i)
        files(i).get("name").asText() -> d
      }.toMap
      gen.join()
      sender.shutdown()
      sender.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
      ingest.processAllAvailable()
      rollup.processAllAvailable()
      (due, replies.asScala.toSeq)
    }

    val warmReqs = plan.get("warm_requests").elements().asScala.toSeq
    val (_, warmS) = timed(openLoop(0 until warmFiles, warmReqs, warmGapUs, Set.empty))
    layers("bench.warmup_s") = warmS
    batches.clear()
    System.gc()
    ledger.takePeak()
    val timedReqs = plan.get("requests").elements().asScala.toSeq
    val dropped = if (o.fault == "drop_file") Set(warmFiles) else Set.empty[Int]
    val progress0 = ingest.recentProgress.length
    val ((due, replies), span) = tracer.span("replay", 0, 1)(_ =>
      openLoop(warmFiles until files.size, timedReqs, reqGapUs, dropped))
    val peak = ledger.takePeak()
    val stateRows = Option(rollup.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsTotal).sum
    val progress = ingest.recentProgress.toSeq.drop(progress0).filter(_.numInputRows > 0)
    ingest.stop()
    rollup.stop()

    // per-file latency: due time → end of the micro-batch that merged it
    val bs = batches.asScala.toSeq
    val byId = bs.map(b => b.id -> b).toMap
    val byFile = fileBatches(s"$root/ckpt-ingest").flatMap { case (f, id) => byId.get(id).map(f -> _) }
    val lat = due.toSeq.flatMap { case (f, d) => byFile.get(f).map(b => (f, (b.endUs - d) / 1e6, b)) }
    val missing = due.keySet -- byFile.keySet

    // store check: the final store against a batch merge of every replayed
    // file (originals first, then the re-sent bars)
    val all = Tables.candlesFromCsv(spark, replay.toString)
      .withColumn("file", input_file_name())
    val w = Window.partitionBy("symbol", "bucket_ts").orderBy("file")
    val ranked = all.withColumn("rn", row_number().over(w)).drop("file")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Tables.CandleSchema)
    val ref = Maintenance.mergeCandles(
      Maintenance.mergeCandles(empty, ranked.filter(col("rn") === 1).drop("rn")),
      ranked.filter(col("rn") === 2).drop("rn"))
    val diffKeys = store.exceptAll(ref).union(ref.exceptAll(store))
      .select("bucket_ts").distinct().collect().map(_.getLong(0)).toSet
    val minuteFile = files.map(f => f.get("minute").asLong() -> f.get("name").asText()).toMap
    val badFiles = missing ++ diffKeys.flatMap(minuteFile.get)
    val storeRows = store.count()
    store.unpersist(true)

    api.prefetch(replies.map(_.path))
    val badReplies = replies.count(r => !api.correct(r))
    out.put("setup_total_s", Double.box(setupS))
    out.put("ingest_s", lat.map(x => Double.box(x._2)).asJava)
    out.put("ingest_failed", Int.box(badFiles.size))
    out.put("ingest_attempted", Int.box(due.size))
    out.put("api_failed", Int.box(badReplies))
    out.put("api_attempted", Int.box(replies.size))
    out.put("peak_pinned_bytes", Long.box(peak))
    layers("bench.work_s") = median(lat.map(_._2))
    layers("StreamRollup.ingest_p90_s") = pct(lat.map(_._2), 0.9)
    layers("StreamRollup.batch_s") =
      median(progress.map(_.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0))
    layers("StreamRollup.queue_s") = median(lat.map { case (_, l, b) => l - (b.endUs - b.startUs) / 1e6 })
    layers("StreamRollup.batches") = bs.size.toDouble
    layers("StreamRollup.state_rows") = stateRows.toDouble
    layers("Maintenance.merge_s") = median(bs.map(b => (b.endUs - b.startUs) / 1e6))
    layers("Maintenance.store_rows") = storeRows.toDouble
    routeLayers(replies)
    layers("Api.served_per_s") = replies.size /
      ((replies.map(_.doneUs).max - replies.map(_.dueUs).min) / 1e6)
    if (o.trace) {
      drain()
      val apiJobs = ledger.jobsBetween(span.startUs / 1000, span.endUs / 1000).count(_.modules.contains("Api"))
      layers("Api.jobs_per_req") = apiJobs.toDouble / math.max(1, replies.size)
      val rollupJobs = jobFigures(span.startUs, span.endUs, Some("Rollup"))
      layers("Rollup.job_s") = rollupJobs._6 / 1000.0
      layers("Rollup.shuffle_bytes") = rollupJobs._4.toDouble
      layers("Tables.job_s") = jobFigures(span.startUs, span.endUs, Some("Tables"))._6 / 1000.0
      layers("bench.busy_share") = jobFigures(span.startUs, span.endUs)._3 / (span.wallS * 1000.0 * cores)
    }
    finish()
    result()
  }

  // ------------------------------------------------------------ training

  /** Class-loading training run for the JVM's class-data-sharing archive:
    * one cold pass over the paths both workloads take (staging, fixtures,
    * the tick entries, the API routes, a streaming merge), untimed.
    */
  def train(): Object = {
    setup(serve = true)
    TickEntries.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    plan.get("warm_requests").elements().asScala.foreach(r =>
      api.get(tracer, r.get("route").asText(), r.get("path").asText(), tracer.nowUs))
    val watch = Files.createDirectories(Paths.get(root, "watch"))
    Files.copy(Paths.get(root, "replay", "f0000.csv"), watch.resolve("f0000.csv"))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Tables.CandleSchema)
    val qs = Seq(
      StreamRollup.csvFileSource(spark, watch.toString).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          Maintenance.mergeCandles(empty, b).count(); ()
        }
        .option("checkpointLocation", s"$root/ckpt-train-ingest").start(),
      StreamRollup.rollup5m(StreamRollup.csvFileSource(spark, watch.toString))
        .writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .option("checkpointLocation", s"$root/ckpt-train-rollup").start())
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    finish()
    out
  }

  // ------------------------------------------------------------ expected

  /** Offline refresh of the cached expected outputs: the tick entries'
    * outputs, and their oracle SQL for `run.py` to run in DuckDB.
    */
  def expect(): Object = {
    spark.conf.set("spark.graft.sharedMemo", "off")
    val d = s"$root/inputs"
    val sql = new java.util.LinkedHashMap[String, Object]()
    TickEntries.foreach { n =>
      sql.put(n, SparkEntry.oracleSql(n))
      SparkEntry.queries(n)(spark, d).coalesce(1).write.mode("overwrite")
        .parquet(s"$root/expect/spark/$n")
    }
    out.put("oracle_sql", sql)
    out
  }

  // ------------------------------------------------------------ result

  private def result(): Object = {
    out.put("layers", layers.map { case (k, v) => k -> Double.box(v) }.asJava)
    val spans = tracer.all.map { s =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("id", Int.box(s.id)); m.put("name", s.name); m.put("parent", Int.box(s.parent))
      m.put("iter", Int.box(s.iter)); m.put("start_us", Long.box(s.startUs))
      m.put("end_us", Long.box(s.endUs))
      m
    }
    if (o.trace)
      Files.writeString(Paths.get(root, "spans.json"),
        new ObjectMapper().writeValueAsString(spans.asJava))
    out
  }
}

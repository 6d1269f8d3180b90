package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.LongAdder

import graft.analytics.AnalyticsRunner
import graft.ingest.{Backfill, Incremental, Parse}
import graft.sources.{RpcClient, RpcConfig}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Client-side timing of `RpcClient.getBlock`, wrapped around the
  * program's public fetcher. Executors share the driver JVM in local
  * mode, so the counters are plain statics. */
object FetchStats {
  val calls = new LongAdder
  val busyNs = new LongAdder
  val latNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
  def reset(): Unit = { calls.reset(); busyNs.reset(); latNs.clear() }
}

final class TimedFetcher(f: Backfill.BlockFetcher) extends (Long => Option[String]) with Serializable {
  def apply(slot: Long): Option[String] = {
    val t0 = System.nanoTime()
    try f(slot)
    finally {
      val d = System.nanoTime() - t0
      FetchStats.calls.increment(); FetchStats.busyNs.add(d); FetchStats.latNs.add(d)
    }
  }
}

/** The reference's whole job on a seeded chain behind a local JSON-RPC
  * stub, repeated on fresh sinks. One pass:
  *   1. cold `Backfill.runTo` of the history through `RpcClient.fetcher`
  *      into an empty parquet sink (one big append);
  *   2. an identical replay of the same range, which must land 0 rows;
  *   3. catch-up of the backlog through the DSv2 `BlockSource` and
  *      `Incremental.startFromRaw`, `AvailableNow`, `maxSlotsPerTrigger` =
  *      75 (the reference's 30-s poll at 400-ms slots), into the same
  *      sink and date partition (many small appends);
  *   4. `AnalyticsRunner.runAll` over the sink;
  *   5. repeated `Incremental.slotLag` health probes.
  */
final class PipelineWorkload(spark: SparkSession, cpus: Int, work: Path, seed: Long,
    history: Int, backlog: Int) extends Workload {
  val name = "pipeline"
  val chain = new Chain(seed)
  val first = 1000L
  val mid: Long = first + history
  val end: Long = mid + backlog
  val SlotsPerTrigger = 75
  val Probes = 3
  val out = new Outcomes
  var rendered: Rendered = _
  var stub: RpcStub = _
  lazy val historyTruth: RangeTruth = rendered.truth(first, mid)
  lazy val truth: RangeTruth = rendered.truth(first, end)

  val namedUnits: Map[String, String] = Map(
    "backfill_blocks_per_s" -> "blocks/s", "backfill_events_per_s" -> "events/s",
    "replay_blocks_per_s" -> "blocks/s", "refresh_s" -> "s", "health_p50_ms" -> "ms",
    "sink_bytes_per_event" -> "B/event", "trigger_p50_ms" -> "ms", "trigger_p90_ms" -> "ms",
    "catchup_blocks_per_s" -> "blocks/s")

  def prepareInputs(): Unit = {
    if (stub != null) stub.stop()
    rendered = null
    rendered = Rendered(chain, first, end, cpus)
    stub = RpcStub.start(rendered, end - 1, cpus)
  }

  override def close(): Unit = if (stub != null) stub.stop()

  /** Pacing off; retries on, as the reference's client has them. */
  def rpc: RpcConfig = RpcConfig(url = stub.url, maxRetries = 3, ratePerSec = 0.0, retryBaseMs = 10L)

  def dir(kind: String, i: Int): Path = work.resolve(s"$name-$kind-$i")

  /** The tables `runAll` writes (no parsed blocks are passed, so the two
    * block-level fact projections are not among them). */
  def tables(fact: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "analytics_transaction_volume" -> (() => AnalyticsRunner.transactionVolume(fact, chain.anchor)),
    "analytics_hourly_volume" -> (() => AnalyticsRunner.hourlyVolume(fact, chain.anchor)),
    "analytics_active_programs" -> (() => AnalyticsRunner.activePrograms(fact)),
    "analytics_token_transfers" -> (() => AnalyticsRunner.tokenTransfers(fact)),
    "analytics_top_tokens" -> (() => AnalyticsRunner.topTokens(fact)),
    "analytics_failed_transactions" -> (() => AnalyticsRunner.failedTransactions(fact)),
    "analytics_top_errors" -> (() => AnalyticsRunner.topErrors(fact)),
    "analytics_wallet_activity" -> (() => AnalyticsRunner.walletActivity(fact, chain.anchor)),
    "analytics_top_wallets" -> (() => AnalyticsRunner.topWallets(fact)),
    "analytics_program_trends" -> (() => AnalyticsRunner.programTrends(fact, chain.anchor)),
    "dim_wallets" -> (() => AnalyticsRunner.dimWallets(fact)),
    "dim_programs" -> (() => AnalyticsRunner.dimPrograms(fact)),
    "dim_tokens" -> (() => AnalyticsRunner.dimTokens(fact)),
    "fact_telemetry" -> (() => AnalyticsRunner.factTelemetry(fact)))

  /** One untimed pass over the same chain, replay, probes and checks
    * skipped, so the measured pass runs compiled code at its own sizes. */
  def warmup(): Unit = pass(-1, None)

  def pass(i: Int, trace: Option[Trace]): PassResult = {
    val measured = i >= 0
    val sink = dir("sink", i); val ckpt = dir("ckpt", i); val tablesDir = dir("tables", i)
    val sinkStr = sink.toString
    val cpu0 = Proc.cpuS()
    if (trace.isDefined) { FetchStats.reset(); stub.resetCounters() }
    val fetcher = if (trace.isDefined) new TimedFetcher(RpcClient.fetcher(rpc)) else RpcClient.fetcher(rpc)
    var spans = Map.empty[String, Span]
    def timed[T](n: String)(f: => T): (Option[T], Double) = trace match {
      case Some(t) => val ((r, s), sp) = t.span(n, s"pass-$i")(out.timed(n)(f)); spans += n -> sp; (r, s)
      case None => out.timed(n)(f)
    }
    def count() = if (measured) spark.read.parquet(sinkStr).count() else 0L
    val (_, backfillS) = timed("ingest.backfill")(
      Backfill.runTo(spark, first, mid, cpus, Backfill.FileSink(sinkStr), fetcher))
    val fetchMetrics = if (trace.isDefined) sourceMetrics() else Map.empty[String, Double]
    val n1 = count()
    val (sinkFiles, sinkBytes) = Files2.dataFiles(sink)
    val (_, replayS) = if (measured) timed("ingest.replay")(
      Backfill.runTo(spark, first, mid, cpus, Backfill.FileSink(sinkStr), fetcher)) else (None, 0.0)
    val n2 = count()
    val (files0, _) = Files2.dataFiles(sink)
    val (q, drainS) = timed("incremental.drain") {
      val query = drain(sink, ckpt, mid, end); query.awaitTermination(); query
    }
    val triggers = q.map(_.recentProgress.toSeq).getOrElse(Nil)
      .map(_.durationMs.get("triggerExecution").longValue.toDouble)
    val (_, refreshS) = timed("analytics.refresh")(
      AnalyticsRunner.runAll(spark, spark.read.parquet(sinkStr), chain.anchor, tablesDir.toString))
    val probes = (0 until (if (measured) Probes else 0)).map { k =>
      timed(s"ingest.health.$k")(Incremental.slotLag(spark, sinkStr, end - 1))
    }
    val wall = backfillS + replayS + drainS + refreshS + probes.map(_._2).sum
    val cpu = Proc.cpuS() - cpu0
    if (measured) {
      val fact = spark.read.parquet(sinkStr)
      val n3 = fact.count()
      out.check("pipeline: backfill lands every generated event")(n1 == historyTruth.events)
      out.check("pipeline: replay lands 0 rows")(n2 == n1)
      out.check("pipeline: catch-up count equals history plus new events")(n3 == truth.events)
      out.check("pipeline: event_id unique")(fact.select("event_id").distinct().count() == n3)
      out.check("pipeline: health probe returns the last landed slot")(
        probes.forall(_._1.contains(end - 1 - truth.lastSlot)))
      checkTables(tablesDir, truth)
    }
    val named = Map(
      "backfill_blocks_per_s" -> historyTruth.blocksLanded / backfillS,
      "backfill_events_per_s" -> historyTruth.events / backfillS,
      "replay_blocks_per_s" -> historyTruth.blocksLanded / replayS,
      "refresh_s" -> refreshS,
      "health_p50_ms" -> Stats.median(probes.map(_._2 * 1e3)),
      "sink_bytes_per_event" -> sinkBytes.toDouble / math.max(1L, n1),
      "trigger_p50_ms" -> Stats.median(triggers),
      "trigger_p90_ms" -> Stats.quantile(triggers, 0.9),
      "catchup_blocks_per_s" -> (end - mid) / drainS)
    val layer = trace.fold(Map.empty[String, Double]) { t =>
      val ingest = ingestMetrics(t, i, spans, sink, sinkFiles, sinkBytes, tablesDir)
      fetchMetrics ++ ingest ++ incrementalMetrics(t, spans("incremental.drain"), sink, files0)
    }
    Seq(sink, ckpt, tablesDir).foreach(Files2.deleteRecursively)
    PassResult(wall, cpu, triggers, named, layer)
  }

  private def drain(sink: Path, ckpt: Path, from: Long, until: Long) = {
    val raw = spark.readStream.format("graft.sources.BlockSource")
      .option("startSlot", from).option("tipSlot", until).option("workers", cpus)
      .option("maxSlotsPerTrigger", SlotsPerTrigger).option("endpoint", stub.url)
      .option("ratePerSec", 0.0).option("maxRetries", 3).option("retryBaseMs", 10L)
      .load()
    Incremental.startFromRaw(raw, sink.toString, ckpt.toString, Trigger.AvailableNow())
  }

  private def checkTables(dir: Path, t: RangeTruth): Unit = {
    def table(n: String): Array[Row] = spark.read.parquet(dir.resolve(n).toString).collect()
    def ranked(n: String) = table(n).map(r => (r.getString(0), r.getLong(1).toInt))
      .sortBy { case (k, c) => (-c, k) }.toSeq
    out.check("pipeline: analytics_transaction_volume equals truth") {
      val r = table("analytics_transaction_volume").head
      (0 until 4).forall(k => r.getLong(k) == t.txs)
    }
    out.check("pipeline: analytics_failed_transactions equals truth") {
      val r = table("analytics_failed_transactions").head
      val rate = BigDecimal(t.failed * 100.0 / t.txs).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      r.getLong(0) == t.failed && BigDecimal(r.getDecimal(1)) == rate
    }
    out.check("pipeline: analytics_token_transfers equals truth") {
      val r = table("analytics_token_transfers").head
      r.getLong(0) == t.transfers && r.getLong(1) == t.mints && r.getLong(2) == t.receivers
    }
    out.check("pipeline: analytics_wallet_activity equals truth") {
      val r = table("analytics_wallet_activity").head
      (0 until 3).forall(k => r.getLong(k) == t.walletTx.size)
    }
    out.check("pipeline: analytics_top_wallets equals truth")(
      ranked("analytics_top_wallets") == t.top(t.walletTx, 20))
    out.check("pipeline: analytics_active_programs equals truth")(
      ranked("analytics_active_programs") == t.top(t.programEvents, 50))
  }

  /** The stub's and the fetcher's counters since the pass started. */
  private def sourceMetrics(): Map[String, Double] = {
    val lat = FetchStats.latNs.toArray.map(_.asInstanceOf[java.lang.Long].longValue / 1e6).toSeq
    val requests = stub.getBlockRequests.get
    Map(
      "sources.get_block.calls" -> FetchStats.calls.sum.toDouble,
      "sources.get_block.busy_s" -> FetchStats.busyNs.sum / 1e9,
      "sources.get_block.p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "sources.stub.requests" -> stub.requests.sum.toDouble,
      "sources.stub.bytes" -> stub.bytes.sum.toDouble,
      "sources.stub.busy_s" -> stub.busyNanos.sum / 1e9,
      "sources.retry_ratio" -> (if (requests == 0) 0.0 else stub.retries.toDouble / requests))
  }

  /** Counters of the backfill, replay, health and refresh spans, plus a
    * separate `Parse.parse` over the cached raw blocks and one call per
    * analytics table. */
  private def ingestMetrics(t: Trace, i: Int, spans: Map[String, Span], sink: Path, sinkFiles: Long,
      sinkBytes: Long, tablesDir: Path): Map[String, Double] = {
    val raw = rawBlocks()
    val (_, parseSpan) = t.span("ingest.parse", s"pass-$i")(
      Parse.parse(raw).write.format("noop").mode(SaveMode.Overwrite).save())
    raw.unpersist()
    val fact = spark.read.parquet(sink.toString)
    val perTable = tables(fact).map { case (n, df) =>
      val target = tablesDir.resolve("traced").resolve(n).toString
      val (_, sp) = t.span(s"analytics.$n", s"pass-$i") {
        df().write.mode(SaveMode.Overwrite).parquet(target)
        spark.read.parquet(target).count()
      }
      s"analytics.$n.wall_s" -> sp.wallS
    }
    t.flush()
    val bf = spans("ingest.backfill"); val rp = spans("ingest.replay"); val rf = spans("analytics.refresh")
    val cb = t.counters(bf); val cr = t.counters(rp); val cf = t.counters(rf)
    val qeR = t.qesOf(rp)
    val health = spans.filter(_._1.startsWith("ingest.health")).values.toSeq
    perTable.toMap ++ Map(
      "ingest.parse.wall_s" -> parseSpan.wallS,
      "ingest.parse.cpu_s" -> t.counters(parseSpan).cpuS,
      "ingest.backfill.wall_s" -> bf.wallS,
      "ingest.backfill.jobs" -> cb.jobs.toDouble,
      "ingest.backfill.tasks" -> cb.tasks.toDouble,
      "ingest.backfill.cpu_s" -> cb.cpuS,
      "ingest.backfill.shuffle_bytes" -> cb.shuffleBytes.toDouble,
      "ingest.backfill.output_bytes" -> sinkBytes.toDouble,
      "ingest.backfill.output_files" -> sinkFiles.toDouble,
      "ingest.replay.wall_s" -> rp.wallS,
      "ingest.replay.jobs" -> cr.jobs.toDouble,
      "ingest.replay.input_bytes" -> cr.inputBytes.toDouble,
      "ingest.replay.shuffle_bytes" -> cr.shuffleBytes.toDouble,
      "ingest.replay.rows_written" -> qeR.map(_.writeRows).sum.toDouble,
      "ingest.replay.events_parsed" -> qeR.map(_.generatedRows).sum.toDouble,
      "ingest.health.input_bytes" -> health.map(s => t.counters(s).inputBytes).sum.toDouble,
      "analytics.refresh.jobs" -> cf.jobs.toDouble,
      "analytics.refresh.input_bytes" -> cf.inputBytes.toDouble,
      "analytics.refresh.cpu_s" -> cf.cpuS,
      "analytics.refresh.driver_gap_s" -> t.driverGapS(rf),
      "analytics.refresh.fact_scans" -> cf.inputBytes.toDouble / math.max(1L, Files2.dataFiles(sink)._2))
  }

  /** Per-trigger phase times from `StreamingQueryProgress.durationMs`,
    * jobs and bytes by Spark's batch-id property. */
  private def incrementalMetrics(t: Trace, s: Span, sink: Path, files0: Long): Map[String, Double] = {
    val ps = t.progressIn(s).sortBy(_.batchId)
    def d(p: Trace.Progress, k: String*) = k.map(p.durations.getOrElse(_, 0L)).sum.toDouble
    def p50(k: String*) = Stats.median(ps.map(d(_, k: _*)))
    val perBatch = ps.map { p =>
      val js = t.jobsOfBatch(s.startMs, s.endMs, p.batchId)
      (p, js, t.counters(js))
    }
    val gaps = perBatch.map { case (p, js, _) =>
      t.gapS(p.startMs, p.startMs + d(p, "triggerExecution").toLong, js) * 1e3 }
    val guard = perBatch.map(_._3.inputBytes.toDouble)
    val written = perBatch.map(_._3.outputBytes).sum
    val (filesEnd, _) = Files2.dataFiles(sink)
    val triggers = math.max(1, ps.size)
    Map(
      "incremental.triggers" -> ps.size.toDouble,
      "incremental.add_batch.p50_ms" -> p50("addBatch"),
      "incremental.add_batch.p90_ms" -> Stats.quantile(ps.map(d(_, "addBatch")), 0.9),
      "incremental.planning.p50_ms" -> p50("queryPlanning"),
      "incremental.offsets.p50_ms" -> p50("latestOffset", "getBatch"),
      "incremental.commit.p50_ms" -> p50("walCommit", "commitOffsets"),
      "incremental.driver_gap.p50_ms" -> Stats.median(gaps),
      "incremental.jobs_per_trigger" -> perBatch.map(_._2.size).sum.toDouble / triggers,
      "incremental.guard_bytes.first" -> guard.headOption.getOrElse(0.0),
      "incremental.guard_bytes.last" -> guard.lastOption.getOrElse(0.0),
      "incremental.guard_read_per_written" -> guard.sum / math.max(1L, written),
      "incremental.output_files_per_trigger" -> (filesEnd - files0).toDouble / triggers,
      "incremental.sink_files_end" -> filesEnd.toDouble,
      "incremental.cpu_s" -> t.counters(s).cpuS)
  }

  /** The chain's raw (slot, block_json) rows, cached, as the fetch
    * step hands them to the parser. */
  private def rawBlocks(): DataFrame = {
    import spark.implicits._
    val prefix = "{\"jsonrpc\":\"2.0\",\"result\":".length
    val suffix = ",\"id\":1}".length
    val rows = (first until end).flatMap { s =>
      val b = new String(rendered.body(s), java.nio.charset.StandardCharsets.UTF_8)
      val json = b.substring(prefix, b.length - suffix)
      if (json == "null") None else Some((s, json))
    }
    val df = rows.toDF("slot", "block_json").repartition(cpus).cache()
    df.count()
    df
  }
}

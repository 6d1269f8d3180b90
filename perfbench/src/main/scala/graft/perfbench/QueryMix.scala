package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** A fixed sample from `SparkEntry.orderedQueries`, at least one query
  * from each name-prefix family, run in a seeded order. Each query
  * writes to the noop sink, as the program's own bench does; batch
  * queries are warmed in setup (that pass also dumps their results for
  * the digest checks), stream queries are not.
  *
  * The checks: each dumped result's digest must equal the DuckDB digest
  * of its `SparkEntry.oracleSql`. run.py computes and compares the
  * digests once the JVM has exited. Every sampled query has oracle SQL; a
  * query that loses it fails its check, so the sample gets revised.
  */
final class QueryMixWorkload(spark: SparkSession, work: Path, dataDir: String, seed: Long)
    extends Workload {
  import QueryMixWorkload._
  val name = "query_mix"
  val out = new Outcomes
  private val all = graft.SparkEntry.orderedQueries.toMap
  private val oracle = graft.SparkEntry.oracleSql
  val order: Seq[String] = new scala.util.Random(seed).shuffle(Sample)
  private val results = work.resolve("query_mix-results")

  val namedUnits: Map[String, String] = Map("query_mix_s" -> "s", "query_p50_ms" -> "ms")

  /** The inputs are the committed tables and the seeded order. */
  def prepareInputs(): Unit = ()

  def isStream(n: String): Boolean = n.startsWith("stream_")

  /** Writes a query's result where run.py digests it. */
  private def dump(df: DataFrame, n: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(results.resolve(n).toString)

  /** Batch queries only: a stream query's run restages its inputs and
    * replays every micro-batch, so warming it reaches no steady state. */
  def warmup(): Unit = {
    Sample.foreach(n => out.check(s"query_mix: $n exists with oracle SQL")(all.contains(n) && oracle.contains(n)))
    Sample.filterNot(isStream).filter(all.contains).foreach { n =>
      out.timed(s"$n (setup)") { dump(all(n)(spark, dataDir), n); spark.catalog.clearCache() }
    }
  }

  def pass(i: Int, trace: Option[Trace]): PassResult = {
    val cpu0 = Proc.cpuS()
    val timed = order.filter(all.contains).map { n =>
      val run = () => out.timed(n) {
        val df = all(n)(spark, dataDir)
        // a stream query's cost is its whole stream run inside `fn`; the
        // result it returns is small, so its measured run writes it for
        // the digest check instead of running the stream a second time
        if (isStream(n)) dump(df, n) else df.write.format("noop").mode(SaveMode.Overwrite).save()
        spark.catalog.clearCache()
      }._2
      n -> trace.fold((run(), Option.empty[Span])) { t => val (s, sp) = t.span(n, s"pass-$i")(run()); (s, Some(sp)) }
    }
    val cpu = Proc.cpuS() - cpu0
    val ms = timed.map(_._2._1 * 1e3)
    val named = Map("query_mix_s" -> ms.sum / 1e3, "query_p50_ms" -> Stats.median(ms))
    val layer = trace.fold(Map.empty[String, Double]) { t =>
      t.flush()
      val spans = timed.flatMap { case (n, (_, sp)) => sp.map(n -> _) }
      layerMetrics(t, spans)
    }
    PassResult(ms.sum / 1e3, cpu, ms, named, layer)
  }

  private def layerMetrics(t: Trace, spans: Seq[(String, Span)]): Map[String, Double] = {
    val byFamily = spans.groupBy(x => family(x._1))
    val fam = Families.flatMap { f =>
      val ss = byFamily.getOrElse(f, Nil).map(_._2)
      Seq(s"query.$f.wall_s" -> ss.map(_.wallS).sum,
        s"query.$f.jobs" -> ss.map(s => t.jobsOf(s).size).sum.toDouble,
        s"query.$f.driver_gap_s" -> ss.map(t.driverGapS).sum)
    }
    val c = spans.map(x => t.counters(x._2)).foldLeft(Counters())(_ + _)
    fam.toMap ++ Map(
      "query.planning_s" -> spans.map(x => t.planningS(x._2)).sum,
      "query.cpu_s" -> c.cpuS,
      "query.shuffle_bytes" -> c.shuffleBytes.toDouble,
      "query.spill_bytes" -> c.spillBytes.toDouble,
      "query.stream.triggers" -> spans.filter(x => isStream(x._1)).map(x => t.progressIn(x._2).size).sum.toDouble)
  }

  /** The oracle SQL of each dumped result, for run.py. */
  override def finish(): Unit =
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.obj(Sample.flatMap(n => oracle.get(n).map(n -> Json.str(_)))))
}

object QueryMixWorkload {
  val Families: Seq[String] =
    Seq("evt", "rel", "sql", "star", "audit", "text", "dedup", "sim", "emb", "mm", "prep",
      "ingest", "lake", "stream", "fn")

  def family(n: String): String = n.takeWhile(_ != '_')

  /** The sample, chosen once so that a whole run fits the benchmark's
    * time budget: the cheapest query of each family by a full sf0.01
    * sweep on 4 CPUs, except `corpus` and `graph`, whose cheapest queries
    * cost 2.4 s and 1.5 s warm (their modules' share of the ext package is
    * still run by the other ext families). Every query here has oracle
    * SQL. */
  val Sample: Seq[String] = Seq(
    "evt_point_lookup", "rel_top_orders",
    "sql_never_ordered", "star_dim_programs", "audit_events_profile", "text_fingerprint",
    "dedup_simhash_expr", "sim_knn_brute", "emb_pca_power_step", "mm_binary_meta",
    "prep_sample_weighted",
    "ingest_net_transfers", "lake_time_travel", "stream_ivf_assign", "fn_base58_contract")
}

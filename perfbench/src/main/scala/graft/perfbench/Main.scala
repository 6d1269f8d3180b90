package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.Bench

/** One benchmark run in one JVM: set up, then closed-loop passes of the
  * workload until `--seconds` have elapsed, then checks; writes its
  * results as one JSON file for run.py to assemble.
  *
  * {{{
  *   Main --workload pipeline|query_mix --seed N --seconds S
  *        --trace 0|1 --cpus N --work DIR --data DIR --out FILE
  * }}}
  *
  * With tracing on, passes alternate untraced and traced: the traced
  * ones give the per-layer metrics, and the difference between the two
  * halves is the tracing overhead.
  *
  * The program's own CPU canary, `Bench.canary`, runs after the passes
  * and is reported as a fact about the host, beside the times it does not
  * change: over ten seeds, dividing the times by a factor from it
  * narrowed their spread in some sets and widened it past the bound in
  * another.
  */
object Main {
  /** Slots per pipeline pass: the backfilled history, then the backlog
    * the catch-up drains in two 75-slot triggers. */
  val HistorySlots = 60
  val BacklogSlots = 150

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)

    val (spark, sessionS) = Timed(Session.build(cpus, work))
    val wl: Workload = workload match {
      case "pipeline" => new PipelineWorkload(spark, cpus, work, seed, HistorySlots, BacklogSlots)
      case "query_mix" => new QueryMixWorkload(spark, work, opts("data"), seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val outcomes = wl.out
    try {
      val inputsS = (1 to 3).map(_ => Timed(wl.prepareInputs())._2)
      val (_, warmS) = Timed(wl.warmup())
      val setupS = sessionS + Stats.median(inputsS) + warmS

      val trace = if (tracing) Some(new Trace(spark)) else None
      // traced runs go untraced, traced, untraced, so the JIT still
      // warming during the first pass does not read as tracing overhead
      val minPasses = if (tracing) 3 else 1
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Boolean, PassResult)]
      while (passes.size < minPasses || System.nanoTime() < deadline) {
        val traced = trace.filter(_ => passes.size % 2 == 1)
        traced.foreach(_.enable())
        val r = try wl.pass(passes.size, traced) finally traced.foreach(_.disable())
        passes += ((traced.isDefined, r))
      }
      // after the passes, once the warm-up's compiler threads have settled
      val canary = Bench.canary(spark)
      wl.finish()
      val rss = Proc.peakRssMb()

      def e2e(ps: Seq[PassResult]): Seq[(String, Double)] =
        Seq("pass_s" -> Stats.median(ps.map(_.wallS)), "pass_cpu_s" -> Stats.median(ps.map(_.cpuS)),
          "op_geomean_ms" -> Stats.geomean(ps.flatMap(_.opsMs)))
      val plain = passes.filterNot(_._1).map(_._2).toSeq
      val traced = passes.filter(_._1).map(_._2).toSeq
      val endToEnd = Seq("setup_s" -> setupS) ++ e2e(plain)
      val named = wl.namedUnits.toSeq.sortBy(_._1).map { case (n, u) =>
        n -> Json.obj(Seq("value" -> Json.num(Stats.median(plain.map(_.named(n)))), "unit" -> Json.str(u)))
      }
      val layer: Seq[(String, Double)] =
        if (traced.isEmpty) Nil
        else {
          val keys = traced.flatMap(_.layer.keys).distinct.sorted
          keys.map(k => k -> Stats.median(traced.flatMap(_.layer.get(k)))) ++
            e2e(traced).zip(e2e(plain)).map { case ((k, a), (_, b)) => s"trace_overhead.$k" -> (a - b) } ++
            Seq("jvm.gc_s" -> Proc.gcS(), "jvm.heap_peak_mb" -> Proc.heapPeakMb(), "jvm.peak_rss_mb" -> rss)
        }
      trace.foreach(_.writeSpans(Paths.get(opts("out") + ".spans.jsonl")))
      val conf = spark.conf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.app.name" }
      val facts = Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "cpus" -> cpus.toString,
        "canary_s" -> Json.num(canary),
        "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "java" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }))
      val json = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "passes" -> passes.size.toString, "traced_passes" -> traced.size.toString,
        "peak_rss_mb" -> Json.num(rss),
        "end_to_end" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
        "named" -> Json.obj(named),
        "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
        "attempted" -> outcomes.attempted.toString, "failed" -> outcomes.failed.toString,
        "failures" -> outcomes.failures.take(20).map(Json.str).mkString("[", ",", "]"),
        "host" -> Json.obj(facts)))
      Files.writeString(Paths.get(opts("out")), json)
    } finally {
      wl.close()
      spark.stop()
    }
  }
}

package etlbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The traced pass and its per-layer metrics. Every workload reports every
  * metric; a layer the workload does not exercise reads 0. */
object Layers {
  val Tiers: Seq[String] = Seq("core", "releasecc", "centroids", "merges", "pack", "postings",
    "positions", "fingerprints", "classifier", "dsir", "bigramlm", "drift", "cdc")
  val Doors: Seq[String] = Seq("cross_split", "quality", "dsir", "perplexity", "cdc")

  /** Every per-layer metric, in print order, with its unit. */
  val Metrics: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_s" -> "s", "spark.busy_share" -> "ratio", "spark.driver_gap_s" -> "s",
      "spark.plan_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "spark.codegen_compile_s" -> "s", "spark.codegen_classes" -> "count",
      "jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "jvm.jit_s" -> "s", "jvm.peak_heap_mb" -> "MB") ++
    AnalystQueries.Families.map(f => s"queries.family.${f._1}_s" -> "s") ++
    Seq("queries.terminal_sorts" -> "count", "queries.jobs_per_op" -> "count",
      "queries.stages_per_op" -> "count", "queries.plan_share" -> "ratio",
      "queries.driver_gap_share" -> "ratio", "ops.persisted_mb_peak" -> "MB",
      "sources.csv_s" -> "s", "sources.lake_s" -> "s", "sources.files" -> "count",
      "sources.input_mb" -> "MB", "functions.jobparse_ms_per_page" -> "ms",
      "html.parse_mb_s" -> "MB/s") ++
    Seq("ingest", "unique", "ledger", "parse", "impute", "backfill", "quality", "write")
      .map(s => s"jobs.${s}_s" -> "s") ++
    Seq("jobs.rows_out" -> "count", "state.fold_s" -> "s", "state.gen_growth" -> "ratio",
      "state.bytes_written" -> "bytes", "state.files_written" -> "count",
      "state.write_amp" -> "ratio") ++
    Doors.map(d => s"state.screen.${d}_s" -> "s") ++
    Tiers.map(t => s"state.tier.${t}_s" -> "s") ++
    Seq("stream.trigger_s" -> "s", "stream.addbatch_s" -> "s", "stream.getbatch_s" -> "s",
      "stream.commit_s" -> "s", "stream.start_s" -> "s", "stream.rows_per_s" -> "1/s",
      "web.gzip_mb_s" -> "MB/s", "web.warc_records_per_s" -> "1/s",
      "web.http_parse_per_s" -> "1/s", "web.body_gzip_mb_s" -> "MB/s",
      "web.body_deflate_mb_s" -> "MB/s", "web.body_br_mb_s" -> "MB/s",
      "bench.trace_overhead" -> "ratio", "bench.fail_ratio" -> "ratio")

  private val TierLine = """\[ingest\] gen=(\d+) (\S+)\s+([\d.]+) s""".r.unanchored

  /** Run `wl`'s op list traced, capturing the engine's per-tier ingest log. */
  private def tracedPass(spark: SparkSession, wl: Workload, tr: Trace): (Main.Pass, Seq[(Int, String, Double)]) = {
    spark.conf.set("spark.graft.ingestTimings", "true")
    // the tier log goes to Console.out of the thread that starts the
    // stream; capture it rather than mix it into the result stream
    val log = new ByteArrayOutputStream()
    val p = try Console.withOut(new PrintStream(log, true, "UTF-8"))(tr.span("pass")(Main.pass(spark, wl, tr)))
      finally spark.conf.set("spark.graft.ingestTimings", "false")
    val tiers = new String(log.toByteArray, UTF_8).linesIterator.collect {
      case TierLine(g, t, s) => (g.toInt, t, s.toDouble) }.toSeq
    (p, tiers)
  }

  private def stats(wl: Workload, tr: Trace): Seq[OpStats] =
    wl.ops.map(o => tr.opStats.getOrElse(o.id, new OpStats))

  /** The `state.`, `stream.` and `web.` layers from a traced corpus pass. */
  private def corpusLayers(ci: CorpusIngest, tr: Trace, p: Main.Pass,
      tiers: Seq[(Int, String, Double)]): Map[String, Double] = {
    val st = stats(ci, tr)
    def stream(key: String*): Double = st.map(s => key.map(s.stream).sum).sum / 1e3
    val trigS = stream("triggerExecution")
    val byGen = tiers.groupBy(_._1).map { case (g, ts) => g -> ts.map(_._3).sum }
    val probes = ci.layerProbes()
    val stateBytes = probes("state.bytes_written")
    probes ++ Map(
      "state.fold_s" -> tiers.map(_._3).sum,
      "state.gen_growth" -> (if (byGen.isEmpty) 0.0 else byGen(byGen.keys.max) / byGen(byGen.keys.min)),
      "state.write_amp" -> st.map(_.outputBytes).sum / stateBytes,
      "stream.trigger_s" -> trigS, "stream.addbatch_s" -> stream("addBatch"),
      "stream.getbatch_s" -> stream("getBatch"),
      "stream.commit_s" -> stream("commitOffsets", "walCommit"),
      "stream.start_s" -> (st.map(_.wallMs).sum / 1e3 - trigS),
      "stream.rows_per_s" -> st.map(_.streamRows).sum / trigS) ++
      tiers.groupBy(_._2).map { case (t, xs) => s"state.tier.${t}_s" -> xs.map(_._3).sum }
  }

  def tracedReport(spark: SparkSession, a: Main.Args, work: Path, plain: Report,
      wl: Workload, tr: Trace): Report = {
    val k = Session.cores
    val gc0 = Trace.gcMs; val gcN0 = Trace.gcCount; val jit0 = Trace.jitMs
    val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgMs0 = cgN0 * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    val cls0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    val (p, tiers) = tracedPass(spark, wl, tr)
    val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgMs = cgN * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean - cgMs0
    val gcS = (Trace.gcMs - gc0) / 1e3; val gcN = Trace.gcCount - gcN0; val jitS = (Trace.jitMs - jit0) / 1e3
    // analyst_queries is read-only: the first pass's check covers these outputs
    val bad = p.failed ++ (if (wl.isInstanceOf[AnalystQueries]) Set.empty[Int]
      else tr.span("check")(wl.check(a.plant)))

    val st = stats(wl, tr)
    def total(f: OpStats => Long): Double = st.map(f).sum.toDouble
    val runS = p.runS
    val taskS = total(_.taskNs) / 1e9
    val gapS = total(_.gapMs) / 1e3
    val planS = total(_.planNs) / 1e9
    val n = wl.ops.size.toDouble
    val isAnalyst = wl.isInstanceOf[AnalystQueries]
    val families: Map[String, Double] = wl match {
      case aq: AnalystQueries => wl.ops.indices.groupBy(i => aq.family(i))
        .map { case (f, is) => s"queries.family.${f}_s" -> is.map(p.opSeconds).sum }
      case _ => Map.empty
    }
    val generic: Map[String, Double] = families ++ Map(
      "spark.jobs" -> total(_.jobs), "spark.stages" -> total(_.stages),
      "spark.tasks" -> total(_.tasks), "spark.task_s" -> taskS,
      "spark.busy_share" -> taskS / (runS * k), "spark.driver_gap_s" -> gapS,
      "spark.plan_s" -> planS, "spark.shuffle_write_bytes" -> total(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> total(_.shuffleRead), "spark.spill_bytes" -> total(_.spill),
      "spark.input_bytes" -> total(_.inputBytes), "spark.output_bytes" -> total(_.outputBytes),
      "spark.codegen_compile_s" -> cgMs / 1e3,
      "spark.codegen_classes" -> (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - cls0).toDouble,
      "jvm.gc_s" -> gcS, "jvm.gc_count" -> gcN.toDouble, "jvm.jit_s" -> jitS,
      "jvm.peak_heap_mb" -> p.heapMb.max,
      "queries.terminal_sorts" -> (if (isAnalyst) total(_.terminalSorts) else 0.0),
      "queries.jobs_per_op" -> (if (isAnalyst) total(_.jobs) / n else 0.0),
      "queries.stages_per_op" -> (if (isAnalyst) total(_.stages) / n else 0.0),
      "queries.plan_share" -> (if (isAnalyst) planS / runS else 0.0),
      "queries.driver_gap_share" -> (if (isAnalyst) gapS / runS else 0.0),
      "ops.persisted_mb_peak" -> st.map(_.persistedPeak).max / 1e6,
      "bench.trace_overhead" -> runS / plain.pass.runS,
      "bench.fail_ratio" -> (plain.bad ++ bad).size / n)
    dump(a, wl, tr, p, tiers)

    // the corpus layers: from the pass itself on corpus_ingest; on
    // analyst_queries from a small traced corpus run of their own, after
    // the analyst numbers above are taken
    val layerValues: Map[String, Double] = tr.span("probes")(wl match {
      case ci: CorpusIngest => corpusLayers(ci, tr, p, tiers)
      case _: AnalystQueries =>
        tr.opStats.clear()
        val ci = new CorpusIngest(spark, a.seed, Size.corpusProbe, work.resolve("probe"), tr)
        ci.stage()
        val (cp, ct) = tracedPass(spark, ci, tr)
        if (cp.failed.nonEmpty) throw new IllegalStateException("corpus layer probe failed")
        corpusLayers(ci, tr, cp, ct)
      case other => other.layerProbes()
    })
    val values = generic ++ layerValues
    plain.copy(bad = plain.bad ++ bad,
      layers = Some(Metrics.map { case (m, u) => (m, values.getOrElse(m, 0.0), u) }))
  }

  /** Write the spans, per-layer self times and per-op records once, at the end. */
  private def dump(a: Main.Args, wl: Workload, tr: Trace, p: Main.Pass,
      tiers: Seq[(Int, String, Double)]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spans = tr.allSpans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    val self = tr.selfTimes.toSeq.sortBy(_._1).map { case (n, v) => s"${q(n)}:$v" }
    val ops = wl.ops.map { o =>
      val s = tr.opStats.getOrElse(o.id, new OpStats)
      s"""{"op":${o.id},"label":${q(o.label)},"wall":${p.opSeconds(o.id)},"plan_s":${s.planNs / 1e9},""" +
        s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},"task_s":${s.taskNs / 1e9},""" +
        s""""shuffle_write_bytes":${s.shuffleWrite},"spill_bytes":${s.spill},"gc_s":${s.taskGcMs / 1e3},""" +
        s""""terminal_sort":${s.terminalSorts > 0}}"""
    }
    val tierRows = tiers.map { case (g, t, s) => s"""{"gen":$g,"tier":${q(t)},"s":$s}""" }
    val dir = Paths.get(".bench_build", "trace")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${a.workload}-seed${a.seed}.json")
    Files.write(f, (s"""{"workload":${q(a.workload)},"seed":${a.seed},""" +
      s""""spans":[${spans.mkString(",\n")}],\n"self_s":{${self.mkString(",")}},\n""" +
      s""""ops":[${ops.mkString(",\n")}],\n"tiers":[${tierRows.mkString(",")}]}""" + "\n").getBytes(UTF_8))
    println(s"[etlbench] trace written to $f")
  }
}

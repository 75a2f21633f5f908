package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cli.IngestApp
import graft.config.GraftConfig
import graft.format.LogTemplate
import graft.pipeline.Ingest
import graft.plans.{ChSqlRewriter, GraftExtensions}
import graft.streaming.StreamingIngest

/** The benchmark's JVM side: runs one workload over inputs that run.py
  * generated, times its units of work, and writes the raw measurements
  * (and, when traced, spans and listener totals) to `<work>/result.json`.
  * run.py turns them into metrics and checks the outputs.
  *
  * Usage: `perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  * --work <dir> --cores <n> --config <yaml> [workload flags]`.
  */
object Main {

  final class Ctx(val spark: SparkSession, val opts: Map[String, String],
      val tracer: Tracer) {
    def apply(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work: String = apply("work")
    val seconds: Double = apply("seconds").toDouble
    val traced: Boolean = apply("trace") == "1"
    val cores: Int = apply("cores").toInt
    val cfgPath: String = apply("config")
    val cfg: GraftConfig = GraftConfig.fromYamlFile(cfgPath).fold(sys.error, identity)
    /** When timed measurement began (epoch ms); run.py derives setup_s. */
    private var startMs: Double = 0.0
    def measureStartMs: Double = startMs
    /** The host's CPU time counters (`/proc/stat`) when measurement began
      * and when the workload ended: run.py reports the steal share of the
      * measured window.
      */
    var cpuStat: Seq[Seq[Long]] = Nil
    def startMeasuring(atMs: Double): Unit = { startMs = atMs; cpuStat = Seq(procStat()) }
    val units = ArrayBuffer.empty[Map[String, Any]]
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val work = opts("work")
    val cores = opts("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session settings graft.Bench uses
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    val ctx = new Ctx(spark, opts, new Tracer(spark))
    log("session ready")
    try {
      opts("workload") match {
        case "ingest_stream" => stream(ctx)
        case "ingest_batch" => batch(ctx)
        case "ch_dashboard" => dashboard(ctx)
        case "curation" => curation(ctx)
        case other => sys.error(s"unknown workload: $other")
      }
      ctx.cpuStat :+= procStat()
      log("workload done")
      if (ctx.traced) {
        ctx.extra("microbench") = microbench(ctx)
        if (opts("workload") != "curation") ctx.extra("queries_probe") = queriesProbe(ctx)
      }
      writeResult(ctx)
    } finally spark.stop()
  }

  // ---- shared helpers --------------------------------------------------

  private val jvmStart = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] jvm +${(System.nanoTime() - jvmStart) / 1e9}%.1f s: $msg")

  private def nowMs(ctx: Ctx): Double = ctx.tracer.nowMs

  /** The aggregate `cpu` line of `/proc/stat`: user, nice, system, idle,
    * iowait, irq, softirq, steal, ... in clock ticks.
    */
  private def procStat(): Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").toSeq.drop(1).map(_.toLong) finally src.close()
  }

  /** Run `body` as one timed unit of work; traced units switch the
    * tracer on around it.
    */
  private def unit[T](ctx: Ctx, name: String, trace: String, traced: Boolean,
      fields: Map[String, Any] = Map.empty)(body: => T): T = {
    if (traced) ctx.tracer.on()
    val t0 = nowMs(ctx)
    val out = ctx.tracer.span(name, trace)(body)
    val t1 = nowMs(ctx)
    if (traced) ctx.tracer.off()
    ctx.units += fields ++ Map("name" -> name, "trace" -> trace, "traced" -> traced,
      "start_ms" -> t0, "ms" -> (t1 - t0))
    out
  }

  /** Units alternate traced / untraced in a traced run, so both halves
    * see the same drift.
    */
  private def tracedUnit(ctx: Ctx, k: Int): Boolean = ctx.traced && k % 2 == 1

  private def until(ctx: Ctx): Double = nowMs(ctx) + ctx.seconds * 1000

  private def ingestArgs(ctx: Ctx, input: String, out: String, deadLetter: String) =
    Array("--config", ctx.cfgPath, "--mode", "batch", "--input", input,
      "--sink", "parquet", "--output", out, "--dead-letter", deadLetter,
      "--master", s"local[${ctx.cores}]")

  private def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  /** Parquet files and bytes under `dir` (the sink's layout). */
  private def parquetFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }

  private def writeResult(ctx: Ctx): Unit = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    val hwmKb = status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    val spans = ctx.tracer.allSpans.map(s => Map("id" -> s.id, "trace" -> s.trace,
      "name" -> s.name, "parent" -> s.parent, "start" -> s.start, "end" -> s.end))
    val result = Map(
      "measure_start_ms" -> ctx.measureStartMs,
      "cpu_stat" -> ctx.cpuStat,
      "peak_rss_kb" -> hwmKb,
      "units" -> ctx.units,
      "extra" -> ctx.extra,
      "counters" -> ctx.tracer.counters.toJson,
      "spans" -> spans)
    val pw = new PrintWriter(s"${ctx.work}/result.json", "UTF-8")
    try pw.write(Json(result)) finally pw.close()
  }

  /** A result row as JSON-ready values: timestamps as epoch micros, dates
    * as epoch days, decimals as doubles.
    */
  private def cell(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => cell(t.toInstant)
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case s: scala.collection.Seq[_] => s.map(cell)
    case r: Row => r.toSeq.map(cell)
    case other => other
  }

  private def rowsJson(df: DataFrame, rows: Array[Row]): Map[String, Any] =
    Map("columns" -> df.columns.toSeq, "rows" -> rows.toSeq.map(r => r.toSeq.map(cell)))

  // ---- ingest_stream ---------------------------------------------------

  /** syslog-tcp → envelope strip → parse with dead-letter split → parquet
    * sink with trigger 0. The generator listens; the source dials it.
    */
  private def stream(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val total = ctx("lines").toLong
    val progress = ArrayBuffer.empty[Map[String, Any]]
    @volatile var lastEnd = -1L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val recv = ctx.tracer.nowMs
        val p = e.progress
        def off(s: String): Long = Option(s).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
        val src = p.sources.head
        val end = off(src.endOffset)
        progress.synchronized {
          progress += Map("recv_ms" -> recv, "batch" -> p.batchId,
            "trigger_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "start" -> off(src.startOffset), "end" -> end, "rows" -> p.numInputRows,
            "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
        lastEnd = end
      }
    }
    // JIT warm-up: the same transform as a batch job, twice
    (0 until 2).foreach { k =>
      val (g, _) = Ingest.parseWithDeadLetter(StreamingIngest.stripSyslogEnvelope(
        spark.read.text(ctx("prewarm")).toDF("value")), ctx.cfg)
      Ingest.withInsertDate(g).write.parquet(s"${ctx.work}/stream/prewarm-$k")
      deleteTree(s"${ctx.work}/stream/prewarm-$k")
    }
    spark.streams.addListener(listener)
    val out = s"${ctx.work}/stream/out"
    val lines = StreamingIngest.stripSyslogEnvelope(
      StreamingIngest.syslogTcpSource(spark, "127.0.0.1", ctx("port").toInt))
    val (good, _) = Ingest.parseWithDeadLetter(lines, ctx.cfg)
    val query = StreamingIngest.parquetSink(good, out, s"${ctx.work}/stream/checkpoint",
      flushIntervalMs = 0L).start()

    // the first micro-batch is empty (the source connects while it is
    // planned); the generator starts pacing after it
    val deadline = System.currentTimeMillis() + 120000L
    while (lastEnd < 0 && System.currentTimeMillis() < deadline &&
      query.exception.isEmpty) Thread.sleep(2)
    new File(ctx("go")).createNewFile()
    val planFile = new File(ctx("plan"))
    while (!planFile.exists() && System.currentTimeMillis() < deadline &&
      query.exception.isEmpty) Thread.sleep(5)
    Thread.sleep(20)
    val plan = scala.io.Source.fromFile(planFile).getLines()
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v.toDouble }.toMap
    val rate = plan("rate")
    val steadyStartMs = plan("t_start_ms") + plan("warm") / rate * 1000
    while (nowMs(ctx) < steadyStartMs && query.exception.isEmpty) Thread.sleep(1)
    ctx.startMeasuring(steadyStartMs)
    // a traced run alternates untraced and traced windows through the
    // steady phase, so the overhead estimate is not skewed by the JIT
    // still warming up; tracing stays on for the flood
    val steadyEndMs = steadyStartMs + plan("steady") / rate * 1000
    val windowMs = 1000.0
    def tracedAt(t: Double): Boolean = t >= steadyEndMs ||
      (t >= steadyStartMs && ((t - steadyStartMs) / windowMs).toInt % 2 == 1)
    if (ctx.traced) {
      var w = 0
      while (steadyStartMs + w * windowMs < steadyEndMs) {
        while (nowMs(ctx) < steadyStartMs + w * windowMs) Thread.sleep(1)
        if (w % 2 == 1) ctx.tracer.on() else ctx.tracer.off()
        w += 1
      }
      while (nowMs(ctx) < steadyEndMs) Thread.sleep(1)
      ctx.tracer.on()
    }
    while (lastEnd < total && System.currentTimeMillis() < deadline + 60000L &&
      query.exception.isEmpty) Thread.sleep(2)
    val failure = query.exception.map(_.toString)
    query.stop()
    if (ctx.traced) ctx.tracer.off()
    spark.streams.removeListener(listener)
    failure.foreach(f => ctx.extra("query_failure") = f)

    val batches = progress.synchronized(progress.toList)
    // micro-batches become root spans with their durationMs phases laid
    // out in execution order as children
    if (ctx.traced) batches.foreach { b =>
      val start = b("trigger_ms").asInstanceOf[Long].toDouble
      if (tracedAt(start)) {
        val d = b("durations").asInstanceOf[Map[String, Long]]
        val trace = s"batch-${b("batch")}"
        val root = ctx.tracer.newId()
        ctx.tracer.add(Span(root, trace, "streaming.trigger", 0L, start,
          start + d.getOrElse("triggerExecution", 0L)))
        var t = start
        Seq("latestOffset" -> "sources.latest_offset", "queryPlanning" -> "plans.query_planning",
          "walCommit" -> "streaming.wal_commit", "addBatch" -> "sink.add_batch",
          "commitOffsets" -> "streaming.commit_offsets").foreach { case (k, name) =>
          val ms = d.getOrElse(k, 0L)
          ctx.tracer.add(Span(ctx.tracer.newId(), trace, name, root, t, t + ms))
          t += ms
        }
      }
    }
    val (files, bytes) = parquetFiles(out)
    ctx.extra ++= Map("progress" -> batches, "steady_start_ms" -> steadyStartMs,
      "steady_end_ms" -> steadyEndMs, "trace_window_ms" -> windowMs,
      "files_written" -> files, "bytes_written" -> bytes, "output" -> out)
  }

  // ---- ingest_batch ----------------------------------------------------

  /** Repeated bounded passes of `IngestApp --mode batch` over the same
    * generated text files, each into a fresh output directory.
    */
  private def batch(ctx: Ctx): Unit = {
    val input = ctx("input")
    val base = s"${ctx.work}/batch"
    def pass(tag: String): Unit =
      IngestApp.main(ingestArgs(ctx, input, s"$base/out-$tag", s"$base/dl-$tag"))
    // one warm-up pass: JIT and codegen caches, not timed
    pass("w")
    deleteTree(s"$base/out-w"); deleteTree(s"$base/dl-w")
    ctx.startMeasuring(nowMs(ctx))
    val end = until(ctx)
    var k = 0
    while (k < 2 || nowMs(ctx) < end) {
      val tag = f"$k%03d"
      unit(ctx, "bench.pass", s"pass-$k", tracedUnit(ctx, k), Map("tag" -> tag)) {
        pass(tag)
      }
      val (files, bytes) = parquetFiles(s"$base/out-$tag")
      ctx.units(ctx.units.size - 1) ++= Map("files_written" -> files, "bytes_written" -> bytes)
      k += 1
    }
    ctx.extra("base") = base
  }

  // ---- ch_dashboard ----------------------------------------------------

  /** One closed-loop client issuing ClickHouse-dialect statements through
    * the front door (`ChSqlRewriter`) over the ingested `access_log` and
    * the analytical tables.
    */
  private def dashboard(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val access = s"${ctx.work}/dash/access_log"
    // the table the dashboard reads is written by the ingest path itself
    val setupT0 = nowMs(ctx)
    if (ctx.traced) ctx.tracer.on()
    ctx.tracer.span("bench.setup_ingest", "setup") {
      IngestApp.main(ingestArgs(ctx, ctx("input"), access, s"${ctx.work}/dash/dead_letter"))
    }
    if (ctx.traced) ctx.tracer.off()
    // the set-up write is the dashboard's sink figure; statements start
    // from zeroed listener totals
    ctx.extra("setup_parquet_ms") = ctx.tracer.counters.parquetWriteMs
    ctx.extra("setup_input_bytes_read") = ctx.tracer.counters.inputBytes
    ctx.tracer.counters.reset()
    log("access_log ingested")
    val (files, bytes) = parquetFiles(access)
    ctx.extra ++= Map("setup_ingest_ms" -> (nowMs(ctx) - setupT0),
      "files_written" -> files, "bytes_written" -> bytes, "access_log" -> access)
    spark.read.parquet(access).createOrReplaceTempView("access_log")
    Seq("events", "orders", "lineitem", "customer", "nation").foreach { t =>
      spark.read.parquet(s"${ctx("tables")}/$t.parquet").createOrReplaceTempView(t)
    }
    def load(path: String): Seq[(String, String)] =
      scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty)
        .map(_.split("\t", 2)).map(a => a(0) -> a(1)).toSeq
    def run(text: String): (DataFrame, Array[Row]) = {
      val sql = ctx.tracer.span("plans.rewrite")(ChSqlRewriter.rewrite(text))
      val df = ctx.tracer.span("plans.sql")(spark.sql(sql))
      (df, ctx.tracer.span("bench.collect")(df.collect()))
    }
    // warm-up: the JIT settles only after many statements, so the untimed
    // refreshes run on one client per core, sharing one queue
    val warm = new java.util.concurrent.ConcurrentLinkedQueue(load(ctx("warmup")).asJava)
    val clients = (0 until ctx.cores).map { _ =>
      new Thread(() => Iterator.continually(warm.poll()).takeWhile(_ != null)
        .foreach { case (_, text) => run(text) })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    log("warm-up statements done")
    val statements = load(ctx("statements"))
    val results = new PrintWriter(s"${ctx.work}/dash/results.jsonl", "UTF-8")
    try {
      ctx.startMeasuring(nowMs(ctx))
      val end = until(ctx)
      // whole rounds only, so every template is timed equally often
      val cycle = ctx("cycle").toInt
      var k = 0
      while (nowMs(ctx) < end || k % cycle != 0) {
        val (tid, text) = statements(k % statements.size)
        val (df, rows) = unit(ctx, "bench.statement", s"stmt-$k", tracedUnit(ctx, k / cycle),
          Map("template" -> tid, "index" -> (k % statements.size)))(run(text))
        if (k < statements.size)
          results.println(Json(Map("index" -> k) ++ rowsJson(df, rows)))
        k += 1
      }
    } finally results.close()
  }

  // ---- curation ----------------------------------------------------------

  private val curationNames = Seq("p03_quality_curation_pipeline", "s07_ann_ivfpq",
    "d03_minhash_neardups", "t18_bpe_tokenize", "d22_paragraph_dedup")

  /** Bounded passes over five catalog pipelines, each written to the noop
    * sink. The set-up pass collects every result for the output check.
    */
  private def curation(ctx: Ctx): Unit = {
    val dir = ctx("corpus")
    val q = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val check = new PrintWriter(s"${ctx.work}/curation_results.jsonl", "UTF-8")
    try curationNames.foreach { name =>
      val df = q(name)(ctx.spark, dir)
      check.println(Json(Map("name" -> name, "oracle" -> oracle.get(name)) ++
        rowsJson(df, df.collect())))
    } finally check.close()
    ctx.startMeasuring(nowMs(ctx))
    val end = until(ctx)
    var k = 0
    while (k < 2 || nowMs(ctx) < end) {
      val builds = ArrayBuffer.empty[Double]
      val perName = ArrayBuffer.empty[Double]
      unit(ctx, "bench.pass", s"pass-$k", tracedUnit(ctx, k)) {
        curationNames.foreach { name =>
          val t0 = nowMs(ctx)
          val df = ctx.tracer.span("queries.build")(q(name)(ctx.spark, dir))
          val t1 = nowMs(ctx)
          ctx.tracer.span("bench.noop_write") {
            df.write.format("noop").mode("overwrite").save()
          }
          builds += t1 - t0
          perName += nowMs(ctx) - t0
        }
      }
      ctx.units(ctx.units.size - 1) ++= Map("build_ms" -> builds.sum,
        "pipeline_ms" -> curationNames.zip(perName).toMap)
      k += 1
    }
  }

  // ---- layer probes (traced runs) ------------------------------------------

  /** Time to construct each curation pipeline's DataFrame (the eager
    * driver work of the `queries` layer), without executing it.
    */
  private def queriesProbe(ctx: Ctx): Map[String, Double] = {
    val q = graft.SparkEntry.queries
    curationNames.map { name =>
      val t0 = nowMs(ctx)
      q(name)(ctx.spark, ctx("corpus"))
      name -> (nowMs(ctx) - t0)
    }.toMap
  }


  /** Per-core parse rates on one partition: `Ingest.extracted` and
    * `Ingest.parse`, each to the noop sink, plus the reject split.
    */
  private def microbench(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val lines = spark.read.text(ctx("micro")).toDF("value").coalesce(1).cache()
    val n = lines.count()
    val tpl = LogTemplate.compile(ctx.cfg.logFormat)
    def median(df: => DataFrame): Double = {
      val ts = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.size / 2)
    }
    val extractS = median(Ingest.extracted(lines, tpl))
    val parseS = median(Ingest.parse(lines, ctx.cfg))
    val matched = Ingest.extracted(lines, tpl).count()
    val good = Ingest.parse(lines, ctx.cfg).count()
    lines.unpersist()
    Map("lines" -> n, "extract_s" -> extractS, "parse_cast_s" -> parseS,
      "rejected_no_match" -> (n - matched), "rejected_cast" -> (matched - good))
  }
}

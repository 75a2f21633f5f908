package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The dev harness: one main whose subcommands share one
  * [[GraftSession.local]] session at Bench's default of 32 cores (so
  * `plans` hashes compare against a Bench run's `PLANS_r{N}.json` unless
  * `SPARK_GRAFT_CPUS` says otherwise) and Bench's own timing and
  * parse-rate code, so a local number predicts the bench's.
  *
  * {{{
  * Dev time <names|all> [sfDir] [reps]          sf0.001 warm-up, then noop-write reps: median, min
  * Dev show <name> [sfDir] [maxRows]            print an entry's rows (self-check flags)
  * Dev plans [sfDir] [names|all] [--write f]    canonical-plan fingerprints, PLANS file format
  * Dev explain <names|all> <outDir> <suffix> [sfDir]
  *                                              formatted plans to <outDir>/<name>_<suffix>.txt
  * Dev calib                                    the bench's fixed-work calibration probes
  * Dev parse-rate [sfDir] [reps] [replicate]    the bench's per-core parse rate
  * }}}
  * `names` is a comma list of catalog entries.
  */
object Dev {
  private val usage =
    "usage: Dev time|show|plans|explain|calib|parse-rate [args] (see graft.Dev scaladoc)"

  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    def arg(i: Int, default: String): String = rest.lift(i).getOrElse(default)
    val run: SparkSession => Unit = args.headOption match {
      case Some("time") =>
        time(_, entries(rest(0)), arg(1, "/root/testdata/sf0.1"), arg(2, "3").toInt)
      case Some("show") => spark =>
        SparkEntry.queries(rest(0))(spark, arg(1, "/root/testdata/sf0.01"))
          .show(arg(2, "50").toInt, truncate = false)
      case Some("plans") => plans(_, rest.toSeq)
      case Some("explain") =>
        explain(_, entries(rest(0)), rest(1), rest(2), arg(3, "/root/testdata/sf0.1"))
      case Some("calib") => calib
      case Some("parse-rate") =>
        parseRate(_, arg(0, "/root/testdata/sf0.1"), arg(1, "5").toInt, arg(2, "1").toInt)
      case _ => sys.error(usage)
    }
    val spark = GraftSession.local("graft-dev", defaultCpus = 32)
    try run(spark) finally spark.stop()
  }

  private def entries(spec: String): Seq[String] =
    if (spec == "all") SparkEntry.queries.keys.toSeq.sorted else spec.split(",").toSeq

  private def time(spark: SparkSession, names: Seq[String], sfDir: String, reps: Int): Unit = {
    Bench.warmup(spark, names, "time")
    names.foreach { name =>
      val s = Bench.Stat.of(Bench.timeEntry(spark, name, sfDir, reps, "time"))
      println(f"[time] $name%-28s median ${s.median}%8.2fs  min ${s.min}%8.2fs")
    }
  }

  /** Bench's session precondition: the top-k-per-key rule + strategy are
    * installed as a SIDE EFFECT of building q39/q43/t09/… during Bench's
    * warm-up, so every Bench plan sees them. Without it, entries that
    * PLAN onto the operator (q09, s01, s03) show the stock Sort/Window
    * plan — structurally wrong shapes that read as "replanned".
    */
  private def asBenched(spark: SparkSession): Unit = graft.plans.TopKPerKey.install(spark)

  private def plans(spark: SparkSession, args: Seq[String]): Unit = {
    // flags first, then positionals — `--write` in the positional slot
    // (a forgotten "all") must not be parsed as an entry-name list and
    // silently clobber the artifact with one ERROR row
    val w = args.indexOf("--write")
    require(w < 0 || args.isDefinedAt(w + 1), "--write needs a file")
    val writeTo = if (w >= 0) Some(args(w + 1)) else None
    val positional = if (w >= 0) args.patch(w, Nil, 2) else args
    require(!positional.exists(_.startsWith("--")), s"unknown flag in ${args.mkString(" ")}")
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.01")
    asBenched(spark)
    val rows = Bench.planRows(spark, sfDir, entries(positional.lift(1).getOrElse("all")))
    rows.foreach { case (name, h, _) => println(s"[plan] $name $h") }
    writeTo.foreach { f =>
      Bench.writePlans(f, rows)
      println(s"[plan] wrote $f")
    }
  }

  private def explain(spark: SparkSession, names: Seq[String], outDir: String,
      suffix: String, sfDir: String): Unit = {
    asBenched(spark)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        val out = s"$outDir/${name}_$suffix.txt"
        Files.write(Paths.get(out), txt.getBytes(StandardCharsets.UTF_8))
        println(s"[explain] $name -> $out")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: $e")
      }
    }
  }

  /** The probes [[Calib]] defines — the same code Bench stamps into
    * `BENCH_r{N}.json` — for framing an out-of-bench re-measurement
    * against the box state the bench numbers were taken under.
    */
  private def calib(spark: SparkSession): Unit = {
    spark.range(1L << 20).count() // absorb first-action init
    val (cpu, sink) = Calib.cpuProbeMs()
    val query = Calib.queryProbeMs(spark)
    println(f"[calib] cpu=$cpu%.0fms query=$query%.0fms (sink=$sink)")
  }

  /** `replicate` 10 reproduces Bench's regime; a figure is only
    * comparable to the bench's at the same replication.
    */
  private def parseRate(spark: SparkSession, sfDir: String, reps: Int, replicate: Int): Unit = {
    val (n, times) = Bench.parseTimes(spark, sfDir, replicate, reps)
    println(s"[parse-rate] $n lines (${replicate}x), 1 partition")
    times.zipWithIndex.foreach { case (t, i) =>
      println(f"[parse-rate] rep${i + 1} $t%6.2fs  ${n / t}%,.0f lines/s/core")
    }
    println(f"[parse-rate] BEST ${n / times.min}%,.0f lines/s/core")
  }
}

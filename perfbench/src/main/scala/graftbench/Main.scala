package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/**
 * Entry point of the benchmark:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
 *
 * Sets up the workload, runs its closed loop (one client, one call in
 * flight) for `--seconds`, checks every op, and prints the result as the
 * last stdout line. `--trace 0` reports the end-to-end metrics; `--trace 1`
 * installs the bench-owned listeners and counting filesystem and reports
 * the per-layer metrics instead. Exits non-zero if any op failed.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work")).getAbsoluteFile
    work.mkdirs()

    val spark = session(work, traced)
    val jobs = new JobListener
    val queries = new QueryListener
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(queries)
      Trace.enable(spark.sparkContext)
    }
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val wl = Workload(workload, Ctx(spark, new File(work, workload), seed))
    val rec = new Recorder
    val (stageS, buildS) =
      try {
        val stage = (1 to SetupRounds).map(_ => timed(Trace.op("setup.stage")(wl.stage())))
        val build = timed(Trace.op("setup.build") {
          wl.build()
          val warm = new Recorder
          (1 to wl.warmSteps).foreach(_ => wl.step(warm))
          require(warm.failures.isEmpty, s"warm-up failed: ${warm.failures.mkString("; ")}")
        })
        // at least one step, then whole steps until the time is up
        val t0 = System.nanoTime()
        wl.step(rec)
        while ((System.nanoTime() - t0) / 1e9 < seconds) wl.step(rec)
        (stage, build)
      } catch {
        case e: Exception =>
          // a set-up failure: report no result
          e.printStackTrace()
          sys.exit(2)
      }
    val setupS = sessionS + Stats.median(stageS) + buildS

    val e2e = Trace.op("report")(endToEnd(wl, rec, setupS))
    val metrics =
      if (!traced) e2e
      else {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        val layers = new Layers(jobs, queries, Trace.all, rec, wl)
        opts.get("trace-out").foreach(f => layers.dump(new File(f)))
        layers.metrics ++ Seq(
          ("trace.op_p50_s", e2e.find(_._1 == "op_p50_s").get._2, "s"),
          ("trace.ops_per_s", e2e.find(_._1 == "ops_per_s").get._2, "1/s"))
      }
    detail(workload, wl, rec, e2e, stageS, buildS, sessionS)
    spark.stop()

    val failed = rec.ops.count(!_.ok)
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${rec.ops.size}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  val SetupRounds = 3

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def session(work: File, traced: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.base", new File(work, "catalog").getAbsolutePath)
    if (traced) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(s)
    s
  }

  /** The end-to-end metrics: (name, value, unit). Throughput counts each
   *  op at its kind's median latency: the loop runs whole steps, so the mix
   *  of kinds is fixed, and a median is not thrown by one stalled op. */
  def endToEnd(wl: Workload, rec: Recorder, setupS: Double): Seq[(String, Double, String)] = {
    val byKind = wl.kinds.map(k => rec.okOps(k._1)).filter(_.nonEmpty)
    val medians = byKind.map(os => Stats.median(os.map(_.seconds)))
    val busy = byKind.zip(medians).map { case (os, m) => os.size * m }.sum
    val stored = wl.storedBytes.values.sum
    def per(x: Double) = if (busy == 0) 0.0 else x / busy
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", per(byKind.map(_.size).sum.toDouble), "1/s"),
      ("rows_per_s", per(byKind.map(_.map(_.rows).sum).sum.toDouble), "rows/s"),
      ("op_p50_s", if (medians.isEmpty) 0.0 else Stats.geomean(medians), "s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"),
      ("bytes_per_user_byte", stored.toDouble / math.max(wl.userBytes, 1L), "ratio"))
  }

  /** Human-readable lines on stdout before the result: every end-to-end
   *  metric of the workload by name and unit, including the per-kind
   *  latencies the gated geometric mean summarises. */
  private def detail(name: String, wl: Workload, rec: Recorder,
      e2e: Seq[(String, Double, String)], stageS: Seq[Double], buildS: Double,
      sessionS: Double): Unit = {
    val lines = Seq.newBuilder[String]
    e2e.foreach { case (n, v, u) => lines += f"$n%-22s $v%14.6f $u" }
    wl.kinds.foreach { case (k, metric) =>
      val xs = rec.okOps(k).map(_.seconds)
      if (xs.nonEmpty) {
        lines += f"$metric%-22s ${Stats.median(xs)}%14.6f s   (n=${xs.size}, $k)"
        // a tail is named only where at least 10 samples lie beyond it
        if (xs.size >= 100) {
          val tail = metric.replace("p50", "p90")
          lines += f"$tail%-22s ${Stats.quantile(xs, 0.9)}%14.6f s   (n=${xs.size})"
        }
      }
    }
    wl.extraLines(rec).foreach { case (n, v, u) => lines += f"$n%-22s $v%14.6f $u" }
    val attempted = rec.ops.size
    val failed = rec.ops.count(!_.ok)
    lines += f"${"error_rate"}%-22s ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%14.6f ratio (${failed}/${attempted})"
    lines += f"${"setup.session_s"}%-22s $sessionS%14.6f s"
    lines += f"${"setup.stage_s"}%-22s ${stageS.map(s => f"$s%.3f").mkString(" ")} s (median taken)"
    lines += f"${"setup.build_s"}%-22s $buildS%14.6f s"
    lines.result().foreach(l => println(s"[$name] $l"))
  }
}

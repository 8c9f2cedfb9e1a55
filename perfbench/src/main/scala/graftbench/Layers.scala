package graftbench

import java.io.{File, PrintWriter}

/**
 * Per-layer metrics of a traced run, derived from the spans the bench
 * recorded around its calls and the jobs and queries its listeners saw.
 * Jobs belong to the span whose tag they carried; a query belongs to the
 * span its SQL execution started under (or, failing that, the innermost
 * span open when it was analysed). A metric whose layer the workload never
 * calls reads 0; the snapshot-log, deletion-vector and DML metrics are
 * reported only for a workload that commits snapshots and runs DML.
 */
final class Layers(
    jobs: JobListener, queries: QueryListener, spans: Seq[Span], rec: Recorder, wl: Workload) {

  private val jobList = jobs.jobs.values.toSeq
  private val jobsBySpan = jobList.groupBy(_.span)
  private val queryList = queries.queries.toSeq.map(q =>
    q -> jobs.execSpan.getOrElse(q.id, spanAt(q.startMs)))
  private val queriesBySpan = queryList.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }

  private def spanAt(ms: Long): Int =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).map(_.id).maxOption.getOrElse(0)

  private val subtrees = spans.map(s => s.id -> Trace.subtree(s)).toMap
  private def jobsOf(s: Span): Seq[JobRec] = subtrees(s.id).toSeq.flatMap(jobsBySpan.getOrElse(_, Nil))
  private def queriesOf(s: Span): Seq[QueryRec] = subtrees(s.id).toSeq.flatMap(queriesBySpan.getOrElse(_, Nil))
  private def fsOf(s: Span): Seq[Long] =
    subtrees(s.id).toSeq.map(Trace.fsOpsOf).foldLeft(Trace.FsKinds.map(_ => 0L))((a, b) =>
      a.zip(b).map { case (x, y) => x + y })

  /** Seconds of the span covered by at least one of its jobs. */
  private def jobSeconds(s: Span): Double =
    Trace.covered(jobsOf(s).map(j =>
      (math.max(j.startMs, s.startMs), math.min(math.max(j.endMs, j.startMs), s.endMs)))) / 1e3

  private def driverSeconds(s: Span): Double = math.max(0.0, s.seconds - jobSeconds(s))

  /** Timed ops are the top-level spans named after an op kind. */
  private val kindNames = wl.kinds.map(_._1).toSet
  private val opSpans = spans.filter(s => s.parent == 0 && kindNames.contains(s.name))
  private def named(names: String*): Seq[Span] = opSpans.filter(s => names.contains(s.name))
  /** Spans inside timed ops (not those of warm-up ops run during set-up). */
  private val timed: Set[Int] = opSpans.flatMap(s => subtrees(s.id)).toSet
  private def inner(name: String): Seq[Span] = spans.filter(s => s.name == name && timed.contains(s.id))
  /** Side passes the traced run adds between timed ops. */
  private def side(name: String): Seq[Span] = spans.filter(s => s.name == name && s.parent == 0)

  /** Rows of each op span, pairing spans and recorded ops of one kind in order. */
  private val rowsOf: Map[Int, Long] = opSpans.groupBy(_.name).toSeq.flatMap { case (k, ss) =>
    ss.zip(rec.ops.filter(_.kind == k)).map { case (s, o) => s.id -> o.rows }
  }.toMap

  private def mean(xs: Seq[Double]): Double = Stats.mean(xs)
  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def perCall(calls: Seq[Span])(f: Span => Double): Double = mean(calls.map(f))
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics: Seq[(String, Double, String)] = {
    val out = Seq.newBuilder[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    put("token.pass_s", median(side("token.pass").map(_.seconds)), "s")

    val writes = named("write.load", "write.upsert")
    put("write.jobs", perCall(writes)(jobsOf(_).size.toDouble), "count")
    put("write.job_s", perCall(writes)(jobSeconds), "s")
    put("write.driver_s", perCall(writes)(driverSeconds), "s")
    put("write.input_read_ratio", ratio(writes.flatMap(jobsOf).map(_.inputRecords).sum.toDouble,
      writes.map(s => rowsOf.getOrElse(s.id, 0L)).sum.toDouble), "ratio")
    put("write.shuffle_bytes", perCall(writes)(jobsOf(_).map(_.shuffleWrite).sum.toDouble), "bytes")
    put("write.spill_bytes", perCall(writes)(jobsOf(_).map(_.spill).sum.toDouble), "bytes")
    put("write.task_cpu_s", perCall(writes)(jobsOf(_).map(_.cpuNs).sum / 1e9), "s")
    val stored = wl.storedBytes
    val classes = if (wl.commits) Seq("data", "manifest", "log", "deletes", "dv") else Seq("data", "manifest", "deletes")
    classes.foreach(c =>
      put(s"write.stored_bytes.$c", stored.getOrElse(c, 0L).toDouble, "bytes"))

    val reads = named("sources.point", "sources.scan", "operators.merged_scan")
    def phase(f: QueryRec => Long)(s: Span): Double = queriesOf(s).map(f).sum / 1e3
    put("sources.plan_s", perCall(reads)(phase(q => q.analysisMs + q.optimizationMs + q.planningMs)), "s")
    put("sources.analysis_s", perCall(reads)(phase(_.analysisMs)), "s")
    put("sources.optimization_s", perCall(reads)(phase(_.optimizationMs)), "s")
    put("sources.planning_s", perCall(reads)(phase(_.planningMs)), "s")
    put("sources.jobs_per_read", perCall(reads)(jobsOf(_).size.toDouble), "count")
    put("sources.files_listed", perCall(reads)(queriesOf(_).map(_.filesListed).sum.toDouble), "count")
    put("sources.files_planned", perCall(reads)(queriesOf(_).map(_.filesPlanned).sum.toDouble), "count")
    put("sources.bytes_planned", perCall(reads)(queriesOf(_).map(_.bytesPlanned).sum.toDouble), "bytes")
    put("sources.rows_scanned_per_row_returned",
      ratio(reads.flatMap(queriesOf).map(_.rowsScanned).sum.toDouble,
        reads.map(s => rowsOf.getOrElse(s.id, 0L)).sum.toDouble), "ratio")
    Trace.FsKinds.zipWithIndex.foreach { case (k, i) =>
      put(s"sources.fs_ops.$k", perCall(reads)(fsOf(_)(i).toDouble), "count")
    }

    if (wl.commits) {
      val dml = named("sources.merge_cow", "sources.merge_mor")
      put("sources.dml_jobs", perCall(dml)(jobsOf(_).size.toDouble), "count")
      put("sources.dml_shuffle_bytes", perCall(dml)(jobsOf(_).map(_.shuffleWrite).sum.toDouble), "bytes")
      val extras = wl.layerExtras
      put("sources.dml_files_rewritten", extras.getOrElse("sources.dml_files_rewritten", 0.0), "count")
      put("sources.dml_dvs_added", extras.getOrElse("sources.dml_dvs_added", 0.0), "count")
    }

    val merged = named("operators.merged_scan")
    put("operators.normalize.exchanges", perCall(merged)(queriesOf(_).map(_.exchanges).sum.toDouble), "count")
    put("operators.normalize.shuffle_bytes",
      perCall(merged)(jobsOf(_).map(_.shuffleWrite).sum.toDouble), "bytes")
    Seq("exact", "frequent_lines", "near_dup", "tfidf").foreach { op =>
      val ss = inner(s"operators.$op")
      put(s"operators.$op.s", median(ss.map(_.seconds)), "s")
      put(s"operators.$op.jobs", perCall(ss)(jobsOf(_).size.toDouble), "count")
      put(s"operators.$op.shuffle_bytes", perCall(ss)(jobsOf(_).map(_.shuffleWrite).sum.toDouble), "bytes")
    }
    put("functions.minhash_pass_s", median(side("functions.minhash_pass").map(_.seconds)), "s")

    def perOp(f: Seq[JobRec] => Double): Double = perCall(opSpans)(s => f(jobsOf(s)))
    put("spark.jobs", perOp(_.size.toDouble), "count")
    put("spark.stages", perOp(_.map(_.stages).sum.toDouble), "count")
    put("spark.tasks", perOp(_.map(_.tasks).sum.toDouble), "count")
    put("spark.task_s", perOp(_.map(_.taskMs).sum / 1e3), "s")
    put("spark.gc_s", perOp(_.map(_.gcMs).sum / 1e3), "s")
    put("spark.driver_gap_s", perCall(opSpans)(driverSeconds), "s")
    put("spark.untagged_jobs", jobList.count(_.span == 0).toDouble, "count")
    put("spark.shuffle_read_bytes", perOp(_.map(_.shuffleRead).sum.toDouble), "bytes")
    put("spark.shuffle_write_bytes", perOp(_.map(_.shuffleWrite).sum.toDouble), "bytes")
    put("spark.spill_bytes", perOp(_.map(_.spill).sum.toDouble), "bytes")
    out.result()
  }

  /** Write every span, job and query of the run as one JSON document. */
  def dump(f: File): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spanJson = spans.map { s =>
      val own = jobsBySpan.getOrElse(s.id, Nil)
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "trace": ${s.trace}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "seconds": ${s.seconds}, """ +
        s""""self_s": ${Trace.selfSeconds(s)}, "jobs": [${own.map(_.id).mkString(",")}], """ +
        s""""fs_ops": [${Trace.fsOpsOf(s.id).mkString(",")}]}"""
    }
    val jobJson = jobList.map { j =>
      s"""{"id": ${j.id}, "span": ${j.span}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
        s""""sql_exec": ${j.sqlExec}, "stages": ${j.stages}, "tasks": ${j.tasks}, """ +
        s""""task_ms": ${j.taskMs}, "cpu_ns": ${j.cpuNs}, "gc_ms": ${j.gcMs}, """ +
        s""""shuffle_read": ${j.shuffleRead}, "shuffle_write": ${j.shuffleWrite}, """ +
        s""""spill": ${j.spill}, "input_records": ${j.inputRecords}}"""
    }
    val queryJson = queryList.map { case (q, span) =>
      s"""{"id": ${q.id}, "span": $span, "analysis_ms": ${q.analysisMs}, """ +
        s""""optimization_ms": ${q.optimizationMs}, "planning_ms": ${q.planningMs}, """ +
        s""""exchanges": ${q.exchanges}, "files_listed": ${q.filesListed}, """ +
        s""""files_planned": ${q.filesPlanned}, "bytes_planned": ${q.bytesPlanned}, """ +
        s""""rows_scanned": ${q.rowsScanned}}"""
    }
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("{\"fs_kinds\": " + Trace.FsKinds.map(str).mkString("[", ", ", "]") + ",")
      w.println(" \"spans\": [\n  " + spanJson.mkString(",\n  ") + "],")
      w.println(" \"jobs\": [\n  " + jobJson.mkString(",\n  ") + "],")
      w.println(" \"queries\": [\n  " + queryJson.mkString(",\n  ") + "]}")
    } finally w.close()
  }
}

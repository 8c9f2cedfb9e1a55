package graftbench

import scala.collection.mutable

/** One timed operation: its kind, latency, user rows it wrote, read or
 *  curated, and whether it ran without error and passed its check. */
final case class OpRec(kind: String, seconds: Double, rows: Long, ok: Boolean)

/**
 * Closed-loop op runner: one call in flight on the driver thread. Only the
 * call itself is timed; its correctness check runs after the clock stops.
 * An exception or a failed check makes the op a failure.
 */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Time `run`, then verify its result with `check`. Returns the result
   *  when the op succeeded. */
  def op[T](kind: String, rows: T => Long)(run: => T)(check: T => Boolean): Option[T] = {
    val t0 = System.nanoTime()
    val result =
      try Right(Trace.op(kind)(run))
      catch { case e: Exception => Left(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val dt = (System.nanoTime() - t0) / 1e9
    val verdict = result.flatMap { r =>
      try { if (Trace.op(s"check.$kind")(check(r))) Right(r) else Left(s"$kind: wrong result") }
      catch { case e: Exception => Left(s"$kind check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    verdict.left.foreach { msg => failures += msg; System.err.println(s"[perfbench] FAILED $msg") }
    ops += OpRec(kind, dt, result.map(rows).getOrElse(0L), verdict.isRight)
    verdict.toOption
  }

  def okOps(kind: String): Seq[OpRec] = ops.filter(o => o.kind == kind && o.ok).toSeq
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Bytes of every regular file under the table directories `dirs`, by
   *  storage class. */
  def diskBytes(dirs: String*): Map[String, Long] =
    sumBytes(dirs.map(new java.io.File(_)).filter(_.exists()).map { dir =>
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
      files(dir).groupBy(f => category(dir.toPath.relativize(f.toPath).toString))
        .map { case (k, fs) => k -> fs.map(_.length()).sum }
    })

  def sumBytes(maps: Seq[Map[String, Long]]): Map[String, Long] =
    maps.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

  /** Storage class of a table file, by the engine's directory names. */
  private def category(rel: String): String = {
    val top = rel.split('/').head
    if (top == graft.write.Manifest.Dir) "manifest"
    else if (top == graft.write.Snapshots.Dir) "log"
    else if (top == graft.write.TokenSortedWriter.DeletesDir) "deletes"
    else if (top == graft.write.DeletionVectors.Dir) "dv"
    else "data"
  }

  /** Peak resident memory of this process in MB (driver and executors
   *  share the JVM in local mode). */
  def peakRssMb(): Double = {
    val status = new java.io.File("/proc/self/status")
    val hwm =
      if (!status.exists()) None
      else scala.io.Source.fromFile(status).getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0)
    hwm.getOrElse {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
  }
}

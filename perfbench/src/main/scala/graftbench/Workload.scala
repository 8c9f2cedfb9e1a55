package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload runs against: the session, its own scratch directory
 *  inside the run's work directory, and the seed its inputs derive from. */
final case class Ctx(spark: SparkSession, dir: File, seed: Long) {
  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/**
 * A closed-loop workload. `stage` generates and stages its fixtures (run
 * several times so the set-up time is a median); `build` is the one-off
 * rest of set-up: tables built from the staged fixtures plus a warm-up
 * pass of every op kind; `step` runs one or more timed ops. Set-up ends
 * with `warmSteps` untimed steps, so the timed ops start once the JIT has
 * settled.
 */
trait Workload {
  /** Timed op kinds → the end-to-end metric reporting each kind's median. */
  def kinds: Seq[(String, String)]
  def stage(): Unit
  def build(): Unit
  def step(rec: Recorder): Unit
  /** Untimed steps after `build`, counted in set-up. */
  def warmSteps: Int
  /** On-disk bytes of the workload's tables, by storage class. */
  def storedBytes: Map[String, Long]
  /** Raw column bytes of the live user rows those tables hold. */
  def userBytes: Long
  /** Whether the workload commits snapshot versions and runs DML: only
   *  then does a traced run report the log, deletion-vector and DML metrics. */
  def commits: Boolean = false
  /** Figures printed beside the per-kind latencies, not in the result. */
  def extraLines(rec: Recorder): Seq[(String, Double, String)] = Nil
  /** Traced runs only: per-layer metrics this workload alone can derive. */
  def layerExtras: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "bulk" => new Bulk(new BulkWrite(ctx), new BulkRead(ctx))
    case "bulk_write" => new BulkWrite(ctx)
    case "bulk_read" => new BulkRead(ctx)
    case "lifecycle" => new Lifecycle(ctx)
    case "curation" => new Curation(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${(Names ++ Extras).mkString(", ")})")
  }

  /** The benchmark's workloads. */
  val Names: Seq[String] = Seq("bulk", "curation")
  /** Runnable on their own for a focused look, but not in the benchmark:
   *  the two halves of `bulk`, and the table lifecycle. */
  val Extras: Seq[String] = Seq("bulk_write", "bulk_read", "lifecycle")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}

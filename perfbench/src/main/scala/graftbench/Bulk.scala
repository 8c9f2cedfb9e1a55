package graftbench

/**
 * The paper's Bulk Writer and Bulk Reader in one session: each step is one
 * load (see [[BulkWrite]]) followed by one round of the read mix (see
 * [[BulkRead]]). The loads go to fresh directories and the reads to tables
 * built in set-up, so neither disturbs the other's tables, and the op kinds
 * keep their own latencies.
 */
final class Bulk(write: BulkWrite, read: BulkRead) extends Workload {
  val kinds: Seq[(String, String)] = write.kinds ++ read.kinds

  def stage(): Unit = { write.stage(); read.stage() }

  def build(): Unit = { read.build(); write.build() }

  def step(rec: Recorder): Unit = { write.step(rec); read.step(rec) }

  def warmSteps: Int = 2

  def storedBytes: Map[String, Long] = Stats.sumBytes(Seq(write.storedBytes, read.storedBytes))

  def userBytes: Long = write.userBytes + read.userBytes
}

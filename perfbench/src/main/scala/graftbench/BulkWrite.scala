package graftbench

import java.io.File

import graft.functions.graft_token
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * The paper's Bulk Writer: repeated loads of one staged table into fresh
 * table directories through the `format("graft")` sink with default
 * options (murmur3 tokens, range-partitioned, token-sorted). `token` and
 * `write` do almost all the work; `sources` does almost none.
 */
final class BulkWrite(ctx: Ctx) extends Workload {
  import BulkWrite._

  private val spark = ctx.spark
  private val events = new Events(ctx.seed)
  private val stagedPath = ctx.path("staged")
  private var expected = Digest.Empty
  private var raw = 0L
  private var loads = 0
  private var lastStored = Map.empty[String, Long]

  val kinds: Seq[(String, String)] = Seq("write.load" -> "write_p50_s")

  private def staged: DataFrame = spark.read.parquet(stagedPath)

  def stage(): Unit = {
    events.range(spark, 0, Rows, 0).write.mode(SaveMode.Overwrite).parquet(stagedPath)
    val (d, bytes) = Events.digestAndBytes(staged)
    expected = d
    raw = bytes
  }

  private def load(rec: Option[Recorder]): Unit = {
    loads += 1
    val dir = ctx.path(s"load-$loads")
    def write(): Digest = {
      staged.write.format("graft").option("path", dir)
        .option("pk", Events.Schema.partitionKeys.mkString(","))
        .option("ck", Events.Schema.clusteringKeys.mkString(","))
        .mode(SaveMode.Append).save()
      Digest(Rows, 0L)
    }
    def check(d: Digest): Boolean = {
      val back = spark.read.format("graft").option("path", dir)
        .option("pk", Events.Schema.partitionKeys.mkString(","))
        .option("ck", Events.Schema.clusteringKeys.mkString(",")).load()
      Events.digest(back.select(Events.Columns.map(col): _*)) == expected
    }
    rec match {
      case Some(r) => r.op("write.load", (d: Digest) => d.rows)(write())(check)
      case None => Trace.op("setup.warmup") { require(check(write()), "warm-up load read back wrong") }
    }
    lastStored = Stats.diskBytes(dir)
    Workload.deleteRecursively(new File(dir))
  }

  def build(): Unit = load(None)

  def step(rec: Recorder): Unit = {
    load(Some(rec))
    if (Trace.enabled) {
      Trace.op("token.pass") {
        staged.select(graft_token(Events.Schema.partitionKeys.map(col): _*).as("t"))
          .agg(bit_xor(col("t"))).head()
      }
    }
  }

  def warmSteps: Int = 2

  def storedBytes: Map[String, Long] = lastStored
  def userBytes: Long = raw
}

object BulkWrite {
  val Rows = 60000L
}

package graftbench

import java.io.File

import graft.write.TokenSortedWriter
import graft.write.TokenSortedWriter.WriteConf
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * The paper's Bulk Reader: a warm-session read mix over tables built in
 * set-up, with nothing written while timed. The merged table has three
 * generations: a base load, an overlapping upsert at a later writetime
 * (some keys rewritten, some new) and partition tombstones after both. A
 * single-generation copy of its resolved state serves plain scans. Both
 * tables sit well inside the 64-directory listing cache, which stays warm.
 *
 * Each round of the mix runs, in a seeded order: `=` partition lookups
 * (hits, tombstoned keys and never-written keys) and small `IN` lookups
 * through `readNormalized`, one `readNormalized` full scan, and one
 * `format("graft")` full scan of the copy, each full scan with a checksum
 * over all columns.
 */
final class BulkRead(ctx: Ctx) extends Workload {
  import BulkRead._

  private val spark = ctx.spark
  private val events = new Events(ctx.seed)
  private val mergedDir = ctx.path("merged")
  private val scanDir = ctx.path("compacted")
  private val rnd = new scala.util.Random(ctx.seed)
  private val parts = (Rows + NewRows) / Events.PartRows
  private var expected = Digest.Empty
  private var raw = 0L
  /** Expected digest of every partition a lookup may name; absent = no rows. */
  private var partExpected = Map.empty[(Int, Long), Digest]
  private val pool: IndexedSeq[Long] = IndexedSeq.fill(PoolSize)(rnd.nextLong(parts - 2 * Events.Tenants))

  val kinds: Seq[(String, String)] = Seq(
    "sources.point" -> "point_p50_s",
    "operators.merged_scan" -> "merged_scan_p50_s",
    "sources.scan" -> "scan_p50_s")

  private def staged(name: String): DataFrame = spark.read.parquet(ctx.path(s"staged-$name"))

  private def upserted(i: org.apache.spark.sql.Column) =
    i >= Rows || pmod(xxhash64(lit(ctx.seed), lit("u"), i), lit(100L)) < UpsertPct
  private def tombstoned(p: org.apache.spark.sql.Column) =
    pmod(xxhash64(lit(ctx.seed), lit("d"), p), lit(100L)) < TombstonePct

  /** Generate the three write batches and the closed-form final state. */
  def stage(): Unit = {
    val ids = spark.range(0, Rows + NewRows).select(col("id").as("i"))
    events.rows(ids.filter(col("i") < Rows).withColumn("g", lit(0)))
      .write.mode(SaveMode.Overwrite).parquet(ctx.path("staged-base"))
    events.rows(ids.filter(upserted(col("i"))).withColumn("g", lit(1)))
      .write.mode(SaveMode.Overwrite).parquet(ctx.path("staged-upsert"))
    spark.range(0, parts).filter(tombstoned(col("id")))
      .select(pmod(col("id"), lit(Events.Tenants.toLong)).cast("int").as("tenant"),
        (floor(col("id") / Events.Tenants).cast("long") * Events.Stride + lit(events.salt + 1)).as("user_id"))
      .write.mode(SaveMode.Overwrite).parquet(ctx.path("staged-tombstones"))
    val finalState = events.rows(ids
      .filter(!tombstoned(floor(col("i") / Events.PartRows).cast("long")))
      .filter(col("i") < Rows || upserted(col("i")))
      .withColumn("g", when(upserted(col("i")), 1).otherwise(0)))
      .localCheckpoint(eager = true)
    val (d, bytes) = Events.digestAndBytes(finalState)
    expected = d
    raw = bytes
    val lookedUp = pool.flatMap(p => (0 until InSize).map(k => p + k * Events.Tenants)).distinct
    val keys = events.partitionKeys(spark, lookedUp)
    partExpected = finalState.join(keys, Seq("tenant", "user_id"))
      .groupBy("tenant", "user_id")
      .agg(count(lit(1)), bit_xor(xxhash64(Events.Columns.map(col): _*)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> Digest(r.getLong(2), r.getLong(3))).toMap
    finalState.unpersist()
  }

  def build(): Unit = {
    Seq(mergedDir, scanDir).foreach(d => Workload.deleteRecursively(new File(d)))
    val s = Events.Schema
    TokenSortedWriter.write(staged("base"), s, mergedDir, SaveMode.Append,
      WriteConf(writetimeMicros = Some(1000L)))
    TokenSortedWriter.write(staged("upsert"), s, mergedDir, SaveMode.Append,
      WriteConf(writetimeMicros = Some(2000L)))
    TokenSortedWriter.writeDeletes(staged("tombstones"), s, mergedDir, Some(3000L))
    TokenSortedWriter.write(TokenSortedWriter.readNormalized(spark, s, mergedDir), s, scanDir)
    // warm-up: one pass of every op kind, checked like a timed one
    val warm = new Recorder
    round(warm, Seq(In(0), Merged, Scan))
    require(warm.failures.isEmpty, s"warm-up failed: ${warm.failures.mkString("; ")}")
  }

  private sealed trait Op
  private final case class Eq(poolIdx: Int) extends Op
  private final case class In(poolIdx: Int) extends Op
  private final case class Miss(q: Int) extends Op
  private case object Merged extends Op
  private case object Scan extends Op

  private def merged: DataFrame = TokenSortedWriter.readNormalized(spark, Events.Schema, mergedDir)

  private def lookup(rec: Recorder, tenant: Int, users: Seq[Long]): Unit = {
    val want = users.map(u => partExpected.getOrElse((tenant, u), Digest.Empty)).reduce(_ + _)
    rec.op("sources.point", (d: Digest) => d.rows) {
      Events.digest(merged.filter(Events.pkFilter(tenant, users)))
    }(_ == want)
  }

  private def round(rec: Recorder, ops: Seq[Op]): Unit = ops.foreach {
    case Eq(k) => lookup(rec, events.tenantOf(pool(k)), Seq(events.userOf(pool(k))))
    case In(k) =>
      val ps = (0 until InSize).map(j => pool(k) + j * Events.Tenants)
      lookup(rec, events.tenantOf(pool(k)), ps.map(events.userOf))
    case Miss(q) => lookup(rec, q % Events.Tenants, Seq(events.missUser(q)))
    case Merged =>
      rec.op("operators.merged_scan", (d: Digest) => d.rows)(Events.digest(merged))(_ == expected)
    case Scan =>
      rec.op("sources.scan", (d: Digest) => d.rows) {
        Events.digest(spark.read.format("graft").option("path", scanDir)
          .option("pk", Events.Schema.partitionKeys.mkString(","))
          .option("ck", Events.Schema.clusteringKeys.mkString(",")).load()
          .select(Events.Columns.map(col): _*))
      }(_ == expected)
  }

  def step(rec: Recorder): Unit = {
    def pick() = rnd.nextInt(PoolSize)
    val lookups = Seq.fill(EqPerRound)(Eq(pick())) ++ Seq.fill(InPerRound)(In(pick())) :+
      Miss(rnd.nextInt(1 << 20))
    round(rec, rnd.shuffle(lookups :+ (Merged: Op)) :+ Scan)
  }

  def warmSteps: Int = 2

  def storedBytes: Map[String, Long] = Stats.diskBytes(mergedDir, scanDir)

  /** Both tables hold the same live rows. */
  def userBytes: Long = 2 * raw
}

object BulkRead {
  val Rows = 30000L
  val NewRows = 3000L
  val UpsertPct = 30L
  val TombstonePct = 5L
  val PoolSize = 256
  val InSize = 3
  val EqPerRound = 3
  val InPerRound = 1
}

package graftbench

import scala.collection.mutable

import graft.write.{Snapshots, TokenSortedWriter}
import graft.write.TokenSortedWriter.WriteConf
import org.apache.spark.sql.{DataFrame, SaveMode}

/**
 * Writes beside reads, in small commits. Each cycle:
 *  1. an upsert batch at a new writetime, then a partition-tombstone batch,
 *     on a `TokenSortedWriter` snapshot table;
 *  2. one MERGE INTO (matched update, matched delete, not-matched insert)
 *     on a copy-on-write catalog table and the same on a merge-on-read one;
 *  3. a point read after every commit, each of which misses the listing
 *     cache because the commit changed the table.
 * Every `MaintenanceEvery`-th cycle also runs one maintenance pass, and a
 * step is one round of that many cycles, so every run holds the same mix:
 * `compactInPlace` on the snapshot table, `diffRows` from the version before
 * the cycle's upsert to the compacted head, then `optimizeSmallFiles` and
 * `vacuum` on the merge-on-read table (and `vacuum` on the copy-on-write
 * one, so its stored bytes level off too).
 *
 * Every read is checked against an in-memory model of each table.
 */
final class Lifecycle(ctx: Ctx) extends Workload {
  import Lifecycle._

  private val spark = ctx.spark
  private val events = new Events(ctx.seed)
  private val rnd = new scala.util.Random(ctx.seed)
  private val snapDir = ctx.path("snapshot")
  private val catBase = spark.conf.get("spark.sql.catalog.bench.base")
  private def catDir(t: String) = s"$catBase/db/$t"
  private val pkCols = Events.Schema.primaryKey

  /** Live generation (or -1) and writetime of every row a table may hold. */
  private final class Model(val gen: mutable.ArrayBuffer[Int], val wt: mutable.ArrayBuffer[Long]) {
    def copy: Model = new Model(gen.clone(), wt.clone())
    def grow(parts: Long): Unit = while (gen.size < parts * Events.PartRows) { gen += -1; wt += 0L }
    def rowsOf(p: Long): Range = (p * Events.PartRows).toInt until ((p + 1) * Events.PartRows).toInt
    def live(ps: Seq[Long]): Seq[(Long, Int)] =
      ps.flatMap(rowsOf).filter(i => i < gen.size && gen(i) >= 0).map(i => (i.toLong, gen(i)))
    def all: Seq[(Long, Int)] = gen.indices.filter(gen(_) >= 0).map(i => (i.toLong, gen(i)))
  }
  private def emptyModel = new Model(mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty)
  private val snap = emptyModel
  private val cow = emptyModel
  private val mor = emptyModel
  /** Latest partition-tombstone writetime per partition (snapshot table). */
  private val tombs = mutable.Map.empty[Long, Long]
  private var nextPart = Rows / Events.PartRows
  private var cycle = 0
  private val dmlRewritten = mutable.ArrayBuffer.empty[Double]
  private val dmlDvsAdded = mutable.ArrayBuffer.empty[Double]

  val kinds: Seq[(String, String)] = Seq(
    "write.upsert" -> "write_p50_s",
    "write.tombstone" -> "tombstone_p50_s",
    "sources.point" -> "point_p50_s",
    "sources.merge_cow" -> "dml_cow_p50_s",
    "sources.merge_mor" -> "dml_mor_p50_s",
    "write.maintenance" -> "maintenance_p50_s")

  def stage(): Unit =
    events.range(spark, 0, Rows, 0).write.mode(SaveMode.Overwrite).parquet(ctx.path("staged"))

  def build(): Unit = {
    val base = spark.read.parquet(ctx.path("staged"))
    TokenSortedWriter.write(base, Events.Schema, snapDir, SaveMode.Append,
      WriteConf(writetimeMicros = Some(Writetime0), snapshot = true))
    Seq("cow" -> "", "mor" -> ", dmlMode 'merge-on-read'").foreach { case (t, mode) =>
      spark.sql(s"CREATE TABLE bench.db.$t (${Events.Ddl}) USING graft OPTIONS " +
        s"(pk '${Events.Schema.partitionKeys.mkString(",")}', " +
        s"ck '${Events.Schema.clusteringKeys.mkString(",")}', snapshot 'true'$mode)")
      base.writeTo(s"bench.db.$t").append()
    }
    Seq(snap, cow, mor).foreach { m =>
      m.grow(nextPart)
      (0 until Rows.toInt).foreach { i => m.gen(i) = 0; m.wt(i) = Writetime0 }
    }
    // warm-up: one full cycle with a maintenance pass, checked like a timed one
    val warm = new Recorder
    runCycle(warm, maintain = true)
    require(warm.failures.isEmpty, s"warm-up failed: ${warm.failures.mkString("; ")}")
  }

  /** One round: `MaintenanceEvery` cycles, the last with maintenance, so
   *  every run holds the same mix of op kinds. */
  def step(rec: Recorder): Unit =
    (1 to MaintenanceEvery).foreach(k => runCycle(rec, maintain = k == MaintenanceEvery))

  private def somePartitions(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextLong(nextPart)).distinct
  private def freshPartitions(n: Int): Seq[Long] = {
    val ps = nextPart until nextPart + n
    nextPart += n
    Seq(snap, cow, mor).foreach(_.grow(nextPart))
    ps
  }
  private def rowsOf(ps: Seq[Long]): Seq[Long] = ps.flatMap(p => snap.rowsOf(p).map(_.toLong))

  private def expect(m: Model, ps: Seq[Long]): Digest = {
    val rows = m.live(ps)
    if (rows.isEmpty) Digest.Empty else Events.digest(events.of(spark, rows))
  }

  /** `table` is built inside the timed call: building a read already
   *  plans it and may run jobs. */
  private def pointRead(rec: Recorder, table: => DataFrame, m: Model, p: Long): Unit =
    rec.op("sources.point", (d: Digest) => d.rows) {
      Events.digest(table.filter(Events.pkFilter(events.tenantOf(p), Seq(events.userOf(p)))))
    }(_ == expect(m, Seq(p)))

  private def snapTable: DataFrame = TokenSortedWriter.readNormalized(spark, Events.Schema, snapDir)

  private def runCycle(rec: Recorder, maintain: Boolean): Unit = {
    cycle += 1
    val wt = Writetime0 + 10L * cycle

    // 1. upsert batch + tombstone batch on the snapshot table
    val upParts = somePartitions(UpsertParts) ++ freshPartitions(UpsertNewParts)
    val upRows = rowsOf(upParts)
    val before = snap.copy
    val fromVersion = Snapshots.latestVersion(spark, snapDir).get
    val batch = events.of(spark, upRows.map(i => (i, cycle)))
    rec.op("write.upsert", (_: Unit) => upRows.size.toLong) {
      TokenSortedWriter.write(batch, Events.Schema, snapDir, SaveMode.Append,
        WriteConf(writetimeMicros = Some(wt), snapshot = true))
    }(_ => Snapshots.latestVersion(spark, snapDir).contains(fromVersion + 1)).foreach { _ =>
      upRows.foreach { i => snap.gen(i.toInt) = cycle; snap.wt(i.toInt) = wt }
    }
    pointRead(rec, snapTable, snap, upParts.head)

    val tombParts = somePartitions(TombstoneParts)
    val keys = events.partitionKeys(spark, tombParts)
    rec.op("write.tombstone", (_: Unit) => tombParts.size.toLong) {
      TokenSortedWriter.writeDeletes(keys, Events.Schema, snapDir, Some(wt + 5))
    }(_ => true).foreach { _ =>
      tombParts.foreach { p =>
        tombs(p) = wt + 5
        snap.rowsOf(p).foreach(i => snap.gen(i) = -1)
      }
    }
    pointRead(rec, snapTable, snap, tombParts.head)

    // 2. the same MERGE on the copy-on-write and the merge-on-read table
    val updParts = somePartitions(MergeUpdateParts)
    val delParts = somePartitions(MergeDeleteParts).filterNot(updParts.contains)
    val insParts = freshPartitions(MergeInsertParts)
    val src = rowsOf(updParts).map(i => (i, cycle, "u")) ++ rowsOf(delParts).map(i => (i, cycle, "d")) ++
      rowsOf(insParts).map(i => (i, cycle, "i"))
    import spark.implicits._
    events.rows(src.toDF("i", "g", "op"), Seq("op")).createOrReplaceTempView("lifecycle_src")
    Seq(("cow", "sources.merge_cow", cow), ("mor", "sources.merge_mor", mor)).foreach {
      case (t, kind, m) =>
        val state = if (Trace.enabled) Some(Trace.op("check.state")(tableState(catDir(t)))) else None
        val v0 = Snapshots.latestVersion(spark, catDir(t)).get
        rec.op(kind, (_: Unit) => src.size.toLong) {
          spark.sql(mergeSql(s"bench.db.$t"))
          ()
        }(_ => Snapshots.latestVersion(spark, catDir(t)).contains(v0 + 1))
          .foreach { _ =>
            src.foreach { case (i, g, op) => m.gen(i.toInt) = if (op == "d") -1 else g }
          }
        state.foreach { case (files, dvs) =>
          val (after, afterDvs) = Trace.op("check.state")(tableState(catDir(t)))
          dmlRewritten += (files -- after).size
          dmlDvsAdded += math.max(0, afterDvs - dvs)
        }
        pointRead(rec, spark.table(s"bench.db.$t"), m, updParts.head)
    }

    // 3. maintenance
    if (maintain) {
      rec.op("write.maintenance", (d: Digest) => d.rows) {
        Trace.span("write.compact") {
          TokenSortedWriter.compactInPlace(spark, Events.Schema, snapDir, vacuumRetain = KeepVersions)
        }
        val toVersion = Snapshots.latestVersion(spark, snapDir).get
        val diff = Trace.span("write.diff") {
          Digest.of(TokenSortedWriter.diffRows(spark, Events.Schema, snapDir, fromVersion, toVersion),
            pkCols :+ "op")
        }
        Trace.span("write.optimize")(TokenSortedWriter.optimizeSmallFiles(spark, Events.Schema, catDir("mor")))
        Trace.span("write.vacuum") {
          Snapshots.vacuum(spark, catDir("mor"), keepLast = 1)
          Snapshots.vacuum(spark, catDir("cow"), keepLast = 1)
        }
        diff
      } { diff =>
        diff == expectedDiff(before, snap) &&
          Events.digest(snapTable) == expect(snap, 0L until nextPart) &&
          Events.digest(spark.table("bench.db.mor")) == expect(mor, 0L until nextPart)
      }
      pointRead(rec, snapTable, snap, upParts.head)
    }
  }

  private def mergeSql(table: String): String = {
    val values = Events.Columns.filterNot(pkCols.contains)
    s"""MERGE INTO $table t USING lifecycle_src s
       |ON ${pkCols.map(c => s"t.$c = s.$c").mkString(" AND ")}
       |WHEN MATCHED AND s.op = 'd' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${values.map(c => s"$c = s.$c").mkString(", ")}
       |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (${Events.Columns.mkString(", ")})
       |  VALUES (${Events.Columns.map(c => s"s.$c").mkString(", ")})""".stripMargin
  }

  /** `diffRows` from the state before this cycle's upsert to now. Both
   *  pinned reads apply every tombstone present now, so a row the from
   *  state held is gone there too if a later tombstone covers its write. */
  private def expectedDiff(from: Model, to: Model): Digest = {
    def fromLive(i: Int) = i < from.gen.size && from.gen(i) >= 0 &&
      tombs.get(i / Events.PartRows).forall(_ < from.wt(i))
    val ops = to.gen.indices.flatMap { i =>
      val a = fromLive(i)
      val b = to.gen(i) >= 0
      if (a && !b) Some(i -> "delete")
      else if (!a && b) Some(i -> "insert")
      else if (a && b && from.gen(i) != to.gen(i)) Some(i -> "update")
      else None
    }
    if (ops.isEmpty) Digest.Empty
    else {
      import spark.implicits._
      val df = ops.map { case (i, op) => (i.toLong, 0, op) }.toDF("i", "g", "op")
      Digest.of(events.rows(df, Seq("op")), pkCols :+ "op")
    }
  }

  private def tableState(dir: String): (Set[String], Int) = {
    val v = Snapshots.latestVersion(spark, dir).get
    (Snapshots.files(spark, dir, v).toSet, Snapshots.deletionVectors(spark, dir, v).size)
  }

  def warmSteps: Int = 0

  override def commits: Boolean = true

  def storedBytes: Map[String, Long] = Stats.diskBytes(snapDir, catDir("cow"), catDir("mor"))

  def userBytes: Long = Seq(snap, cow, mor).map(m => Events.rawBytes(events.of(spark, m.all))).sum

  override def layerExtras: Map[String, Double] = Map(
    "sources.dml_files_rewritten" -> Stats.mean(dmlRewritten.toSeq),
    "sources.dml_dvs_added" -> Stats.mean(dmlDvsAdded.toSeq))
}

object Lifecycle {
  val Rows = 8000L
  val Writetime0 = 1000000L
  val UpsertParts = 24
  val UpsertNewParts = 8
  val TombstoneParts = 4
  val MergeUpdateParts = 4
  val MergeDeleteParts = 2
  val MergeInsertParts = 2
  val MaintenanceEvery = 2
  /** Versions the snapshot table keeps through compaction: enough that the
   *  version before the cycle's upsert is still readable by the diff. */
  val KeepVersions = 4
}

package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import graft.write.TokenSortedWriter
import graft.write.TokenSortedWriter.WriteConf
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Differential check of the footer-derived schemas against Spark's own
 *  `mergeSchema` inference (names, order, types, nested nullability,
 *  metadata): on every layout the footer merge either equals Spark's
 *  stripped result exactly or declines, and the schema the source reports
 *  is Spark's either way. */
class SchemaInferenceSpec extends SparkSpec {

  private val schema = CqlSchema("t", Seq("id"), Seq("ck"))

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_schema_$tag").toString + "/t"

  private def rows(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "ck", "s")
  }

  /** The footer path must agree with Spark (or decline); the reported
   *  schema is Spark's. Returns whether the footer path took the layout. */
  private def same(dir: String): Boolean = {
    TokenPruner.invalidateListing(dir)
    val want = TokenPruner.sparkTableSchema(spark, dir)
    val got = TokenPruner.footerTableSchema(spark, dir)
    got.foreach(g => assert(g.json == want.json, s"$dir:\n footer $g\n spark  $want"))
    assert(TokenPruner.schemas(spark, dir).table.json == want.json)
    got.isDefined
  }

  private def sameTombstones(dir: String): Unit = {
    TokenPruner.invalidateListing(dir)
    val want = TokenPruner.sparkTombstoneSchema(spark, dir)
    val got = TokenPruner.footerTombstoneSchema(spark, dir)
    assert(got.map(_.json).contains(want.json), s"$dir:\n footer $got\n spark  $want")
    assert(TokenPruner.schemas(spark, dir).tombstones.map(_.json).contains(want.json))
  }

  test("plain, zorder and random-partitioner tables: footer schema == Spark's") {
    val plain = fresh("plain")
    TokenSortedWriter.write(rows(50), schema, plain, SaveMode.Append,
      WriteConf(numPartitions = 3, keepTokenColumn = true))
    assert(same(plain))
    val z = fresh("zorder")
    TokenSortedWriter.write(rows(50), schema, z, SaveMode.Append,
      WriteConf(numPartitions = 2, zorderBy = Seq("ck", "s")))
    assert(same(z))
    val r = fresh("random")
    TokenSortedWriter.write(rows(50), schema, r, SaveMode.Append,
      WriteConf(numPartitions = 2, partitioner = "random", keepTokenColumn = true))
    assert(same(r))
  }

  test("partitionBy twins: graft_p_* keys stripped exactly like Spark's discovery") {
    import spark.implicits._
    val d = fresh("parts")
    val df = (1 to 40).map(i => (i.toLong, i % 2, s"a${i % 3}", s"b${i % 2}", i * 1.5))
      .toDF("id", "ck", "a", "b", "v")
    TokenSortedWriter.write(df, schema, d, SaveMode.Append,
      WriteConf(numPartitions = 2, keepTokenColumn = true, partitionBy = Seq("a", "b")))
    assert(same(d))
    // an append into existing and new partition dirs
    TokenSortedWriter.write(df.withColumn("a", lit("new")), schema, d, SaveMode.Append,
      WriteConf(numPartitions = 1, keepTokenColumn = true, partitionBy = Seq("a", "b")))
    assert(same(d))
  }

  test("feature-column evolution and nested struct/map/array columns") {
    val d = fresh("evolve")
    TokenSortedWriter.write(rows(30), schema, d, SaveMode.Append, WriteConf(numPartitions = 2))
    assert(same(d))
    TokenSortedWriter.write(rows(30), schema, d, SaveMode.Append,
      WriteConf(numPartitions = 2, writetimeMicros = Some(10L), ttlSeconds = Some(60L)))
    assert(same(d))
    TokenSortedWriter.write(rows(30).withColumn("extra", col("id") * 2), schema, d,
      SaveMode.Append, WriteConf(numPartitions = 1, writetimeMicros = Some(20L)))
    assert(same(d))

    val n = fresh("nested")
    val nested = rows(20)
      .withColumn("st", struct(col("ck").as("x"), array(col("s")).as("xs")))
      .withColumn("m", map(col("s"), struct(col("id").as("y"))))
      .withColumn("arr", array(struct(col("ck").as("z"))))
    TokenSortedWriter.write(nested, schema, n, SaveMode.Append, WriteConf(numPartitions = 2))
    // a later generation with a wider nested struct: Spark merges nested
    // fields, and nullability relaxes at every level
    TokenSortedWriter.write(
      nested.withColumn("st", struct(col("ck").as("x"), array(col("s")).as("xs"),
        lit(1L).as("w"))), schema, n, SaveMode.Append, WriteConf(numPartitions = 1))
    assert(same(n))
  }

  test("compacted-in-place gen-* layouts, empty and missing dirs") {
    val d = fresh("gen")
    TokenSortedWriter.write(rows(40), schema, d, SaveMode.Append,
      WriteConf(numPartitions = 2, writetimeMicros = Some(1L), snapshot = true))
    TokenSortedWriter.write(rows(10), schema, d, SaveMode.Append,
      WriteConf(numPartitions = 1, writetimeMicros = Some(2L), snapshot = true))
    TokenSortedWriter.compactInPlace(spark, schema, d)
    assert(same(d), "gen-* only layout: Spark's recursive retry reads every file")
    // retained pre-compaction files beside the generation: Spark's first
    // discovery reads the root files only — a layout the footer path leaves
    // to Spark
    val kept = fresh("gen_kept")
    TokenSortedWriter.write(rows(40), schema, kept, SaveMode.Append,
      WriteConf(numPartitions = 2, writetimeMicros = Some(1L), snapshot = true))
    TokenSortedWriter.compactInPlace(spark, schema, kept, vacuumRetain = 2)
    assert(!same(kept))

    val empty = fresh("empty")
    new java.io.File(empty).mkdirs()
    assert(same(empty))
    val missing = fresh("missing") + "/nope"
    assert(TokenPruner.schemas(spark, missing).table == new StructType())
    assert(TokenPruner.sparkTableSchema(spark, missing) == new StructType())
  }

  test("layouts the footer merge cannot prove equal take Spark's inference") {
    // a key=value dir that is not a graft_p twin: Spark adds a column
    val kv = fresh("kv")
    rows(10).withColumn("k", col("ck")).write.partitionBy("k").parquet(kv)
    assert(!same(kv))
    assert(TokenPruner.schemas(spark, kv).table.fieldNames.contains("k"))
    // conflicting types: Spark refuses, and so does the source
    val clash = fresh("clash")
    rows(5).write.parquet(clash)
    rows(5).withColumn("s", col("id")).write.mode(SaveMode.Append).parquet(clash)
    TokenPruner.invalidateListing(clash)
    assert(TokenPruner.footerTableSchema(spark, clash).isEmpty)
    intercept[Exception](TokenPruner.sparkTableSchema(spark, clash))
    intercept[Exception](TokenPruner.schemas(spark, clash).table)
    // a non-parquet file Spark would read, and a summary file
    val stray = fresh("stray")
    rows(5).write.parquet(stray)
    Files.write(java.nio.file.Paths.get(stray, "notes.txt"), "x".getBytes)
    TokenPruner.invalidateListing(stray)
    assert(TokenPruner.footerTableSchema(spark, stray).isEmpty)
    val summary = fresh("summary")
    rows(5).write.parquet(summary)
    val part = new java.io.File(summary).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(summary, "_common_metadata"))
    assert(!same(summary))
  }

  test("every tombstone mix: footer tombstone schema == Spark's mergeSchema") {
    import spark.implicits._
    val keys = Seq((1L, 1), (2L, 2)).toDF("id", "ck")
    val ranges = Seq((3L, 0, 1)).toDF("id", "ck_min", "ck_max")
    type Mix = String => Unit
    val partition: Mix = d => TokenSortedWriter.writeDeletes(keys, schema, d, Some(5L))
    val unstamped: Mix = d => TokenSortedWriter.writeDeletes(keys, schema, d)
    val row: Mix = d => TokenSortedWriter.writeDeletes(keys, schema, d, Some(6L), rowLevel = true)
    val range: Mix = d => TokenSortedWriter.writeRangeDeletes(ranges, schema, d, Some(7L))
    val mixes: Seq[(String, Seq[Mix])] = Seq(
      "partition" -> Seq(partition), "row" -> Seq(row), "range" -> Seq(range),
      "unstamped+row" -> Seq(unstamped, row), "range+partition" -> Seq(range, partition),
      "all" -> Seq(partition, row, range, unstamped))
    mixes.foreach { case (name, writes) =>
      val d = fresh(s"tomb_${name.replace('+', '_')}")
      TokenSortedWriter.write(rows(10), schema, d, SaveMode.Append, WriteConf(numPartitions = 1))
      assert(TokenPruner.schemas(spark, d).tombstones.isEmpty, s"$name: no tombstones yet")
      writes.foreach(_(d))
      sameTombstones(d)
    }
  }

  test("diffRows with a tombstone horizon reads mixed partition/row/range " +
      "tombstones through the one tombstone reader and keeps the candidate-key path") {
    import spark.implicits._
    val d = fresh("diff_tombs")
    def w(df: DataFrame, wt: Long): Unit = TokenSortedWriter.write(df, schema, d,
      SaveMode.Append, WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(wt), snapshot = true))
    w((1L to 6L).flatMap(i => Seq((i, 0, s"v$i"), (i, 1, s"v$i"))).toDF("id", "ck", "s"), 1000L)
    w(Seq((1L, 0, "u"), (1L, 1, "u")).toDF("id", "ck", "s"), 2000L)
    TokenSortedWriter.writeDeletes(Seq(3L).toDF("id"), schema, d, Some(3000L))
    TokenSortedWriter.writeDeletes(Seq((4L, 0)).toDF("id", "ck"), schema, d, Some(3000L),
      rowLevel = true)
    TokenSortedWriter.writeRangeDeletes(Seq((5L, 0, 0)).toDF("id", "ck_min", "ck_max"),
      schema, d, Some(3000L))
    val diff = TokenSortedWriter.diffRows(spark, schema, d, 1L, 2L,
      fromTombstoneHorizonMicros = Some(1500L))
    assert(diff.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "the candidate-key pre-filter must survive mixed tombstone schemas")
    val got = diff.select("id", "ck", "op").as[(Long, Int, String)].collect().sorted.toSeq
    assert(got == Seq((1L, 0, "update"), (1L, 1, "update"), (3L, 0, "delete"),
      (3L, 1, "delete"), (4L, 0, "delete"), (5L, 0, "delete")))
  }
}

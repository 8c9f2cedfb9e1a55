package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import graft.model.CqlSchema
import graft.token.Murmur3Token
import graft.write.TokenSortedWriter
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.graftshim.ParquetScanBridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * The graft DSv2 source/sink — the rebuild of the reference's connector
 * surface (SURVEY §2.1) as an idiomatic Spark DataSource V2:
 *
 *  - S1 `CassandraDataSource`/`CassandraTableProvider` (spark3/…/
 *    CassandraDataSource.java:31-55) → [[GraftDataSource]]: registered
 *    short name `graft`, schema inference + role metadata from options.
 *  - S2 `CassandraScanBuilder` (CassandraScanBuilder.java:50-149) →
 *    [[GraftScanBuilder]]: `SupportsPushDownFilters` +
 *    `SupportsPushDownRequiredColumns`.
 *  - S3 input partition planning (CassandraScanBuilder.java:108-113) →
 *    [[GraftScan.planInputPartitions]]: token-pruned file list, split by
 *    Spark's size-based file splitting.
 *  - S4 partition reader (CassandraPartitionReaderFactory.java:53-68) →
 *    Spark's vectorized parquet reader via [[ParquetScanBridge]] (the
 *    decode delegation mirrors the reference delegating to Cassandra's
 *    CompactionIterator).
 *  - P2/P3 partition-key =/IN pushdown → token pruning
 *    (`DataLayer.unsupportedPushDownFilters():304-337`,
 *    `CassandraScanBuilder.buildPartitionKeyFilters():127-148`,
 *    `FilterUtils.cartesianProduct():79`) → [[TokenPruner.keyTokens]]: the
 *    cartesian product of pushed IN/= values over ALL partition-key columns
 *    becomes a set of Murmur3 tokens checked against per-file token stats.
 *  - P4-P6 token-range overlap skip / bloom / index probe
 *    (`SSTableReader.java:283-320`) → [[TokenPruner.prune]]: parquet footer
 *    min/max of the `_graft_token` column (written by
 *    [[TokenSortedWriter]] with `keepTokenColumn=true`) or of the partition
 *    key column itself; row-group/page pruning inside the scan comes from
 *    parquet statistics on the pushed filters.
 *  - S10 DSv1 sink (`CassandraDataSink.java:40-108`, a
 *    `CreatableRelationProvider`) → [[GraftDataSource.createRelation]]:
 *    delegates to [[TokenSortedWriter]] (tokenize → range-repartition →
 *    sort-within-partitions → rolling files), rejecting Overwrite exactly
 *    like the reference (:96-99).
 *
 * Usage:
 * {{{
 *   spark.read.format("graft")
 *     .option("path", dir).option("pk", "l_orderkey").option("ck", "l_linenumber")
 *     .load()
 *   df.write.format("graft")
 *     .option("path", dir).option("pk", "l_orderkey").mode(SaveMode.Append).save()
 * }}}
 *
 * Scale design: planning is O(#files) driver-side footer reads (cached FS
 * listing; at 100 TB with 128 MiB files that is ~800k footers — the same
 * order the reference handles via its snapshot listing cache; a production
 * deployment would persist token ranges in a manifest, which
 * `_graft_token` stats make trivial). Everything row-wise is executor-side,
 * vectorized, whole-stage-codegen'd, with exact per-scan statistics
 * reported so Catalyst/AQE pick broadcast joins correctly.
 */
class GraftDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  /** `writeStream.format("graft")`: the table does not advertise
   *  STREAMING_WRITE, so Spark falls back to this V1 sink — micro-batches
   *  through the bulk write pipeline with an exactly-once txn marker in
   *  the snapshot log ([[GraftStreamSink]]). */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft streaming sink takes layout from its own options " +
        "(partitionBy/ringSplits), not partitionBy() on the writer")
    new GraftStreamSink(parameters, outputMode)
  }

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft source requires a 'path' option")
    p
  }

  // the listing-cache entry's schema: no Spark job and no walk beyond the
  // fingerprint when the table is unchanged (TokenPruner.Schemas)
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TokenPruner.schemas(SparkSession.active, pathOf(options)).table

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    // changeFeedMode=rows: the row-level CDC surface (inserts + delete
    // preimages, _change_type-tagged) — a read-only table over the same
    // snapshot log, batch and micro-batch
    if (GraftCdf.isRowMode(options))
      return new GraftCdfTable(pathOf(options), schema, options)
    val cql = GraftDataSource.cqlFrom(options, schema)
    new GraftTable(pathOf(options), GraftDataSource.annotateStruct(cql, schema), cql, options)
  }

  // ---- S10: DSv1 write path (CreatableRelationProvider, like the reference sink)

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    // counter columns are unwritable too: the reference's bulk writer has no
    // counter support (counters mutate by delta, a bulk file cannot carry
    // one) — fail at write-resolve, not at some later read
    GraftDataSource.validateWriteTypes(options)
    val cql = GraftDataSource.cqlFrom(options, data.schema)
    val conf = TokenSortedWriter.WriteConf(
      numPartitions = options.getInt("partitions", 0),
      maxRecordsPerFile = options.getLong("maxRecordsPerFile", 0L),
      allowOverwrite = options.getBoolean("allowOverwrite", false),
      keepTokenColumn = options.getBoolean("keepToken", true),
      snapshot = options.getBoolean("snapshot", false),
      partitionBy = Option(options.get("partitionBy"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      zorderBy = GraftDataSource.zorderByFrom(options),
      rowTracking = options.getBoolean("rowTracking", false))
    TokenSortedWriter.write(
      GraftDataSource.renameColumns(data, GraftDataSource.colMapFrom(options)),
      cql, pathOf(options), mode, conf)
    val outerSql = sqlContext
    val outSchema = data.schema
    new BaseRelation {
      override def sqlContext: SQLContext = outerSql
      override def schema: StructType = outSchema
    }
  }
}

object GraftDataSource {
  /** Computed DSv2 metadata columns: the physical coordinates a row lives
   *  at — the row ID merge-on-read DML deletes by, and the provenance
   *  columns audits select. Never stored; emitted by the position-aware
   *  readers (requesting either forces whole-file row-based reads). */
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"

  /** Stable row id (row tracking): `coalesce(stored materialized id,
   *  base-row-id + physical position)` — survives OPTIMIZE and DML
   *  rewrites, unlike the physical `_graft_file`/`_graft_pos` pair. */
  val RowIdCol = "_graft_row_id"

  /** Bounded in-engine retries for an identity-allocation write that lost
   *  the log-mark race to a concurrent allocator (each retry re-reads the
   *  mark, re-assigns, re-writes — a multi-writer ingest loop converges
   *  without caller-side re-runs; exhaustion rethrows the race). */
  val MaxIdentityWriteAttempts = 5

  /** `zorderBy` option (written by the catalog's CLUSTER BY): csv column
   *  list driving the Z-order write layout. */
  def zorderByFrom(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("zorderBy"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  // ---- column name mapping (`colmap` option, written by the catalog's
  // RENAME COLUMN): logical→physical indirection in the Delta column-
  // mapping style. Physical parquet names NEVER change after first write;
  // renames move only the logical name, re-adds of dropped names mint
  // fresh physical names. Scans translate schemas/filters logical→
  // physical (rows are positional, so no per-row rename exists), writes
  // rename the frame before the sink.

  def colMapFrom(options: CaseInsensitiveStringMap): Map[String, String] =
    GraftCatalog.parseColMap(Option(options.get("colmap")))

  def renameStruct(s: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else StructType(s.fields.map(f => m.get(f.name).fold(f)(p => f.copy(name = p))))

  def renameColumns(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else {
      // SIMULTANEOUS rename, mirroring renameStruct: a sequential
      // withColumnRenamed fold breaks when one mapping's physical name
      // equals another mapping's logical name (legal after a rename
      // cycle, e.g. RENAME a TO tmp; RENAME b TO a; RENAME tmp TO b
      // yields {a→b, b→a}) — an intermediate step would duplicate a
      // column name and poison every subsequent write
      val target = df.columns.map(c => m.getOrElse(c, c))
      if (target.sameElements(df.columns)) df else df.toDF(target.toIndexedSeq: _*)
    }

  /** Translate a pushed filter's attribute names logical→physical. None =
   *  a filter shape this translator doesn't know that REFERENCES a mapped
   *  column — the caller drops it (pushdown/pruning are best-effort; the
   *  residual copy above the scan keeps correctness). */
  def renameFilter(f: Filter, m: Map[String, String]): Option[Filter] = {
    import org.apache.spark.sql.sources._
    if (m.isEmpty) return Some(f)
    def n(a: String) = m.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => Some(EqualTo(n(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(n(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(n(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(n(a), v))
      case LessThan(a, v) => Some(LessThan(n(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(n(a), v))
      case In(a, vs) => Some(In(n(a), vs))
      case IsNull(a) => Some(IsNull(n(a)))
      case IsNotNull(a) => Some(IsNotNull(n(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(n(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(n(a), v))
      case StringContains(a, v) => Some(StringContains(n(a), v))
      case And(l, r) =>
        for { a <- renameFilter(l, m); b <- renameFilter(r, m) } yield And(a, b)
      case Or(l, r) =>
        for { a <- renameFilter(l, m); b <- renameFilter(r, m) } yield Or(a, b)
      case Not(c) => renameFilter(c, m).map(Not)
      case other =>
        if (other.references.exists(m.contains)) None else Some(other)
    }
  }

  def renameFilters(fs: Array[Filter], m: Map[String, String]): Array[Filter] =
    if (m.isEmpty) fs else fs.flatMap(renameFilter(_, m))

  /** Role mapping from options (`pk`, `ck` comma-separated), falling back to
   *  role metadata already present on the schema (the reference gets roles
   *  from the externally-declared CQL schema, `DataLayer.java:118-129`). */
  def cqlFrom(options: CaseInsensitiveStringMap, schema: StructType): CqlSchema = {
    def list(key: String): Seq[String] =
      Option(options.get(key)).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val table = Option(options.get("table")).getOrElse("graft_table")
    val pk = list("pk")
    if (pk.nonEmpty) CqlSchema(table, pk, list("ck"), list("static"))
    else {
      val recovered = CqlSchema.fromStruct(table, schema)
      require(recovered.partitionKeys.nonEmpty,
        "graft source requires a 'pk' option (or role metadata on the schema)")
      recovered
    }
  }

  /** One parser for the `cqlTypes` option (`"col:type,col:type"`) — both
   *  validators consume this so read and write can never disagree about a
   *  declaration's shape. */
  private def parseCqlTypes(options: CaseInsensitiveStringMap): Seq[(String, String)] =
    Option(options.get("cqlTypes")).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { e =>
        e.split(":", 2) match {
          case Array(c0, t0) => (c0.trim, t0.trim.toLowerCase)
          case _ => (e, "")
        }
      }

  /** Reject CQL types the read path cannot faithfully represent, exactly
   *  like the reference: counter tables throw on read (reference:
   *  cassandra-analytics-core `AbstractStreamScanner.java:84-91` "Reading
   *  counter tables is not supported"), and duration has no Spark SQL
   *  representation (`SparkSqlTypeConverter` has no duration mapping).
   *  Types other than counter/duration (uuid, timeuuid, inet, varint, …)
   *  are accepted and documented by their Spark surface. */
  def validateReadTypes(options: CaseInsensitiveStringMap): Unit =
    parseCqlTypes(options).foreach {
      case (c, "counter") => throw new UnsupportedOperationException(
        s"Reading counter column '$c' is not supported (counter tables cannot be read)")
      case (c, "duration") => throw new UnsupportedOperationException(
        s"Reading duration column '$c' is not supported (no Spark SQL representation)")
      case _ => ()
    }

  /** Write-side twin of [[validateReadTypes]]: counter tables cannot be
   *  bulk-written either (counters mutate by delta; a bulk-loaded file
   *  cannot carry one — the reference's writer has no counter path), and
   *  duration is rejected EXPLICITLY on both sides: the reference's own
   *  Spark converter for duration is a `NotImplementedFeatures` stub
   *  (reference `SparkDuration.java:23`), so a loud resolve-time error is
   *  exact parity — and kinder than accepting a write that no read path
   *  (ours or the reference's `AbstractStreamScanner.java:84-91`) could
   *  ever hand back. */
  def validateWriteTypes(options: CaseInsensitiveStringMap): Unit =
    parseCqlTypes(options).foreach {
      case (c, "counter") => throw new UnsupportedOperationException(
        s"Writing counter column '$c' is not supported (bulk writes cannot carry counter deltas)")
      case (c, "duration") => throw new UnsupportedOperationException(
        s"Writing duration column '$c' is not supported (no Spark SQL representation; " +
          "the reference's Spark duration converter is not implemented either)")
      case _ => ()
    }

  /** [[CqlSchema.annotate]] for a bare StructType (no DataFrame). */
  def annotateStruct(cql: CqlSchema, schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = CqlSchema.roleMetadata(
        f.metadata, cql.role(f.name), cql.positionOf(f.name, i)))
    })
}

/** S1's Table: schema with role metadata, batch + micro-batch read
 *  capabilities (the reference advertises MICRO_BATCH_READ without an
 *  implementation, `CassandraTable.java:59-62`; ours is real —
 *  [[GraftMicroBatchStream]]) plus a V1 batch-write fallback so SQL
 *  `INSERT INTO` flows through the token-sorted sink — the same DSv1
 *  delegation the reference's `CassandraDataSink` uses. */
class GraftTable(
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    tableOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Constraints the catalog descriptor carries (see
   *  [[GraftTableConstraints]]). Reporting them here is what arms stock
   *  Spark: `ResolveTableConstraints` turns the enforced CHECKs into
   *  `CheckInvariant` write guards on every V2 write path (INSERT /
   *  ReplaceData / WriteDelta); PK and UNIQUE surface in DESCRIBE. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    GraftTableConstraints.parseOption(Option(tableOptions.get("constraints")))
      .map(_.toConnector).toArray

  /** `_graft_token` as a DSv2 METADATA column: `SELECT *` never sees it,
   *  but a query can ask for the ring position (debugging skew, building
   *  co-location keys, auditing pruning) without the source leaking the
   *  engine column into normal schemas. Nullable: files written without
   *  `keepTokenColumn` have no stored token and read as null (the
   *  metadata reflects the LAYOUT, it is not recomputed — recompute with
   *  the SQL function `graft_token(pk…)` when you need the value
   *  regardless of layout). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = TokenSortedWriter.TokenCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = true
      override def comment(): String =
        "murmur3 ring token this row was laid out under (null on token-less layouts)"
    },
    // physical row coordinates — computed by the position-aware readers
    // (whole-file row-based scan when requested); the merge-on-read DML
    // row ID, and the provenance handle for audits
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftDataSource.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file this row was read from"
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftDataSource.PosCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "0-based physical row position within _graft_file (deleted rows counted)"
    }) ++ (if (!tableOptions.getBoolean("rowTracking", false)) Array.empty[
      org.apache.spark.sql.connector.catalog.MetadataColumn]
    else Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftDataSource.RowIdCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "stable row id (base + position, materialized across rewrites) — " +
            "survives OPTIMIZE and DML"
      }))

  /** SQL `UPDATE` / `MERGE INTO` / predicate `DELETE`: group-based
   *  copy-on-write by default ([[GraftRowLevelOperation]]; file = group),
   *  or positional deletion vectors with `dmlMode 'merge-on-read'`
   *  ([[GraftDeltaOperation]] — O(changed rows) writes on snapshot-logged
   *  tables, falling back to copy-on-write when there is no log). Full-pk
   *  `DELETE` keeps taking the metadata fast path ([[deleteWhere]] —
   *  Spark's `OptimizeMetadataOnlyDeleteFromTable` prefers it). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    Option(tableOptions.get("dmlMode")).map(_.trim.toLowerCase)
      .getOrElse("copy-on-write") match {
      case "copy-on-write" =>
        new GraftRowLevelOperationBuilder(dir, annotated, cql, tableOptions, info)
      case "merge-on-read" =>
        new GraftDeltaOperationBuilder(dir, annotated, cql, tableOptions, info)
      case other => throw new IllegalArgumentException(
        s"unknown dmlMode '$other' (want copy-on-write or merge-on-read)")
    }

  /** SQL `DELETE FROM t WHERE …` — accepted only when the predicate is a
   *  conjunction of `=`/`IN` (plus redundant `IS NOT NULL`) covering the
   *  FULL partition key, the same all-or-nothing rule the reference
   *  applies to pushdown (`DataLayer.unsupportedPushDownFilters`): a pk
   *  delete removes every row of those partitions via file-pruned
   *  copy-on-write ([[graft.write.TokenSortedWriter.deleteRowsWhere]]).
   *  Anything else — non-key columns, ranges, clustering-key conditions —
   *  is refused so Spark reports DELETE unsupported rather than this
   *  table guessing. Returns None when unsupported; Some(keyRows) with
   *  one Row per pk combination otherwise (cartesian over IN lists,
   *  capped loudly). */
  private def deleteKeyRows(filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.sources.{And => FAnd, EqualTo, In, IsNotNull}
    // the ONE normalization point for pushed attribute names — do not fork it
    def unq(a: String): String = graft.model.CqlSchema.unquoted(a)
    def flat(f: org.apache.spark.sql.sources.Filter)
        : Seq[org.apache.spark.sql.sources.Filter] = f match {
      case FAnd(l, r) => flat(l) ++ flat(r)
      case o => Seq(o)
    }
    val pk = cql.partitionKeys
    val byCol = scala.collection.mutable.LinkedHashMap[String, Seq[Any]]()
    filters.toSeq.flatMap(flat).foreach {
      case IsNotNull(a) if pk.contains(unq(a)) => () // implied by pk
      case EqualTo(a, v) if pk.contains(unq(a)) && !byCol.contains(unq(a)) =>
        byCol += unq(a) -> Seq(v)
      case In(a, vs) if pk.contains(unq(a)) && !byCol.contains(unq(a)) =>
        byCol += unq(a) -> vs.toSeq
      case _ => return None
    }
    if (pk.exists(!byCol.contains(_))) return None
    val combos = pk.map(byCol).foldLeft(Seq(Seq.empty[Any])) {
      (acc, vals) => acc.flatMap(prefix => vals.map(prefix :+ _))
    }
    if (combos.length > 100000)
      throw new IllegalArgumentException(
        s"DELETE key cartesian product has ${combos.length} combinations (max 100000) — " +
          "split the statement")
    Some(combos.map(org.apache.spark.sql.Row.fromSeq))
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    // row-tracked and CDC-feed tables must take the ROW-LEVEL CoW path
    // (GraftRowLevel): the metadata-delete fast path rewrites surviving
    // rows without materializing their stable _graft_row_id (every
    // survivor would be silently renumbered) and commits no CDC sidecar
    // (changeEvents would refuse the version as "crosses a logical
    // rewrite"). Returning false here makes Spark keep the row-level
    // plan, which handles both.
    !tableOptions.getBoolean("rowTracking", false) &&
      !tableOptions.getBoolean("changeFeedCow", false) &&
      deleteKeyRows(filters).isDefined

  /** SQL `TRUNCATE TABLE`: on a snapshot-logged table, one atomic
   *  empty-set rewrite — pinned readers keep their history until vacuum,
   *  exactly like compaction. A log-less table physically deletes its
   *  data files (the log is the atomicity/history seam; without one,
   *  truncate is as irreversible as anywhere else). */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val head = graft.write.Snapshots.latestVersion(spark, dir)
    if (head.isDefined) {
      // guard against a concurrent append: losing one INTO a truncate is
      // arguably intent, but silently dropping it from the log (and later
      // vacuuming its files) is not — fail loudly, rerun the TRUNCATE
      graft.write.Snapshots.commitRewrite(spark, dir, Nil, expectedParent = head)
    } else {
      TokenPruner.listDataFiles(fs, fs.makeQualified(p))
        .foreach(s => fs.delete(s.getPath, false))
    }
    TokenPruner.invalidateListing(dir)
    true
  }

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val rows = deleteKeyRows(filters).getOrElse(throw new IllegalArgumentException(
      s"DELETE on graft table $dir supports only =/IN predicates covering the full " +
        s"partition key (${cql.partitionKeys.mkString(", ")})"))
    val spark = SparkSession.active
    val pkFields = StructType(cql.partitionKeys.map(n =>
      annotated.fields.find(_.name == n).getOrElse(
        throw new IllegalStateException(s"pk column $n missing from schema"))))
    val keys = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), pkFields)
    graft.write.TokenSortedWriter.deleteRowsWhere(spark, cql, dir, filters, keys)
    ()
  }

  override def name(): String = s"graft.`$dir`"
  override def schema(): StructType = annotated
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      // `MERGE WITH SCHEMA EVOLUTION`: Spark computes the AddColumn set
      // from the source's extra columns and routes it through the
      // catalog's alterTable (top-level nullable adds — exactly the
      // name-mapped-safe evolution GraftCatalog accepts); the merge then
      // runs against the evolved schema in the same statement
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    GraftDataSource.validateReadTypes(tableOptions)
    GraftDataSource.validateReadTypes(options)
    val pin = Option(options.get("snapshotVersion"))
      .orElse(Option(tableOptions.get("snapshotVersion")))
    // changeFeed=true (streaming): snapshot-version offset ledger; the
    // optional startingVersion is the version the feed starts AFTER
    val changeFeed =
      if (options.getBoolean("changeFeed", false) ||
          tableOptions.getBoolean("changeFeed", false))
        Some(Option(options.get("startingVersion"))
          .orElse(Option(tableOptions.get("startingVersion")))
          .map(_.trim.toLong).getOrElse(0L))
      else None
    val maxFilesPerTrigger =
      Option(options.get("maxFilesPerTrigger"))
        .orElse(Option(tableOptions.get("maxFilesPerTrigger")))
        .map(_.trim.toInt)
    maxFilesPerTrigger.foreach(n => require(n > 0,
      s"maxFilesPerTrigger must be positive, got $n"))
    val maxBytesPerTrigger =
      Option(options.get("maxBytesPerTrigger"))
        .orElse(Option(tableOptions.get("maxBytesPerTrigger")))
        .map(_.trim.toLong)
    maxBytesPerTrigger.foreach(n => require(n > 0,
      s"maxBytesPerTrigger must be positive, got $n"))
    new GraftScanBuilder(dir, annotated, cql,
      options.getBoolean("clustered", false), pin, changeFeed,
      maxFilesPerTrigger, maxBytesPerTrigger,
      GraftDataSource.colMapFrom(tableOptions))
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // the DSv2 write path (INSERT INTO / writeTo) must reject counters the
    // same way the V1 createRelation path does
    GraftDataSource.validateWriteTypes(tableOptions)
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwriteAll = false
      /** SQL `INSERT OVERWRITE`: on a snapshot-logged table this becomes
       *  ONE atomic logical overwrite ([[TokenSortedWriter
       *  .overwriteLogged]] — fresh generation + guarded log cutover,
       *  pinned history intact); log-less tables keep the reference
       *  sink's Overwrite rejection unless `allowOverwrite` opts into
       *  the destructive physical path. */
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteAll = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.V1Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (incoming: DataFrame, overwrite: Boolean) => {
              // GENERATED ALWAYS AS: compute null/omitted values, validate
              // provided ones — in the same projection, before renaming
              val generated = GeneratedColumns.fill(incoming, annotated)
              val ow = overwrite || overwriteAll
              // IDENTITY allocation can lose the log-mark race to a
              // concurrent allocator; the values are baked into the
              // written files, so the only sound retry is re-read mark →
              // re-assign → re-write. Bounded in-engine (Delta's shape):
              // the failed attempt's files are already deleted by the
              // writer's commit-race cleanup, so looping is clean.
              var attempt = 0
              var done = false
              while (!done) {
                attempt += 1
                // IDENTITY columns: allocate the increment's null cells from
                // the log-carried mark (two narrow jobs over the increment)
                val (withIds, idUpdate) = IdentityColumns.assign(
                  incoming.sparkSession, generated, annotated, dir)
                if (idUpdate.nonEmpty)
                  require(tableOptions.getBoolean("snapshot", false),
                    s"identity columns on $dir require snapshot 'true' — the " +
                      "allocation mark lives in the log")
                // logical → physical before the sink: files always store
                // the stable physical names (see the colmap notes above)
                val data = GraftDataSource.renameColumns(
                  withIds, GraftDataSource.colMapFrom(tableOptions))
                val conf = TokenSortedWriter.WriteConf(
                  numPartitions = tableOptions.getInt("partitions", 0),
                  maxRecordsPerFile = tableOptions.getLong("maxRecordsPerFile", 0L),
                  allowOverwrite = tableOptions.getBoolean("allowOverwrite", false),
                  keepTokenColumn = tableOptions.getBoolean("keepToken", true),
                  snapshot = tableOptions.getBoolean("snapshot", false),
                  partitionBy = Option(tableOptions.get("partitionBy"))
                    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
                  zorderBy = GraftDataSource.zorderByFrom(tableOptions),
                  rowTracking = tableOptions.getBoolean("rowTracking", false),
                  identityUpdate = idUpdate)
                try {
                  if (ow && graft.write.Snapshots
                      .latestVersion(data.sparkSession, dir).isDefined) {
                    require(idUpdate.isEmpty || idUpdate.values.forall(u => u._1 == u._2),
                      s"INSERT OVERWRITE allocating identity values on $dir is not " +
                        "supported — provide explicit values (BY DEFAULT tables) or " +
                        "append instead")
                    TokenSortedWriter.overwriteLogged(data, cql, dir, conf)
                  } else {
                    // overwriting NOTHING is an append: REPLACE TABLE …
                    // AS SELECT truncates the freshly-created (empty)
                    // table before its first write — only a non-empty
                    // log-less dir keeps the reference sink's Overwrite
                    // rejection (physical destruction needs the opt-in)
                    val fsp = new org.apache.hadoop.fs.Path(dir)
                    val pfs = fsp.getFileSystem(
                      data.sparkSession.sessionState.newHadoopConf())
                    val empty = ow && (!pfs.exists(fsp) ||
                      TokenPruner.listDataFiles(pfs, fsp).isEmpty)
                    val mode =
                      if (ow && !empty) SaveMode.Overwrite else SaveMode.Append
                    // the emptiness probe is check-then-act: on a logged
                    // table the COMMIT re-asserts it (expectEmpty), so two
                    // racing overwrite-of-empty writers refuse instead of
                    // silently unioning. Log-less empties keep plain-append
                    // semantics (identical to legal concurrent appends).
                    TokenSortedWriter.write(data, cql, dir, mode,
                      if (empty && conf.snapshot)
                        conf.copy(expectEmptyLog = true)
                      else conf)
                  }
                  done = true
                } catch {
                  case _: graft.write.Snapshots.IdentityAllocationRaceException
                      if idUpdate.nonEmpty &&
                        attempt < GraftDataSource.MaxIdentityWriteAttempts =>
                    () // lost the mark race — loop re-reads mark, re-assigns
                }
              }
            }
        }
    }
  }
}

/**
 * S2: pushdown + pruning. All filters are pushed to the parquet scan (the
 * reference only accepts =/IN covering the full partition key,
 * `DataLayer.unsupportedPushDownFilters():304-337` — parquet statistics give
 * us range predicates too, for free); all filters are ALSO returned to Spark
 * for re-evaluation (parquet stats-based skipping is best-effort, exactly
 * like the reference returning rows for Spark to re-filter).
 */
class GraftScanBuilder(
    dir: String,
    annotated: StructType,
    cql: CqlSchema,
    clustered: Boolean = false,
    snapshotPin: Option[String] = None,
    changeFeed: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    colMap: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = annotated
  private var limit: Option[Int] = None
  private var topN: Option[(String, Boolean, Int)] = None
  private var statsOps: Option[(Seq[GraftStatsScan.Op], Array[TokenPruner.FileMeta])] = None

  /** Top-k planning hint (`ORDER BY pk LIMIT k`): per-file min/max stats
   *  bound which files can possibly hold the k extreme rows, so an
   *  unfiltered top-k over a 100 TB table plans a handful of files
   *  instead of all of them. PARTIAL pushdown only — Spark still runs the
   *  final TakeOrderedAndProject; the scan just stops feeding it files
   *  that provably cannot contribute. Accepted only for a single-column
   *  ordering on a PARTITION KEY column (pk values are non-null by the
   *  table contract, so min/max stats — which ignore nulls — bound every
   *  row; an arbitrary nullable column's NULLS FIRST rows would be
   *  invisible to the stats and silently dropped). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (pushed.nonEmpty || limit.nonEmpty || orders.isEmpty) return false
    // multi-column orderings prune on the LEADING column alone — sound: a
    // file whose leading-column range lies strictly beyond the bound
    // cannot contain any top-k row regardless of tie-break columns (ties
    // AT the bound stay planned)
    val o = orders(0)
    val colName = o.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    if (!cql.partitionKeys.contains(colName)) return false
    topN = Some((colName,
      o.direction() == org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING, n))
    true
  } // isPartiallyPushed (shared with LIMIT pushdown) is always true below

  /** Unfiltered, ungrouped COUNT(*)/MIN/MAX answer from planning metadata
   *  alone (manifest/footer row counts and column ranges) — zero data
   *  reads, the Index.db-only trick of the metadata source applied to the
   *  MAIN table path. Complete pushdown only — partial (per-group) results
   *  are never produced here; MIN/MAX is accepted only for integral-stat
   *  columns whose statistics cover EVERY file (conservative: an all-null
   *  file or a missing-stats file disqualifies the column). */
  private def statsPlan(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Seq[GraftStatsScan.Op], Array[TokenPruner.FileMeta])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty || limit.nonEmpty) return None
    // deletion vectors make footer row counts an OVERcount (they include
    // logically deleted rows) — metadata-only answers are unsound until
    // OPTIMIZE folds the DVs away
    if (graft.write.Snapshots.dvsForPin(SparkSession.active, dir, snapshotPin).nonEmpty)
      return None
    def name(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    // the SAME snapshot is validated against AND captured into the scan: a
    // file appended between planning and execution can neither crash the
    // stats lookup nor silently shift the answer off the validated set
    val listed = TokenPruner.listFiles(SparkSession.active, dir)
    val files = graft.write.Snapshots.resolveListing(
      SparkSession.active, dir, snapshotPin, listed)
    def eligible(n: String): Boolean = {
      // footer stats are keyed by PHYSICAL names; renamed columns are
      // non-key by the catalog contract — conservatively decline rather
      // than answer from a stale key
      if (colMap.contains(n)) return false
      val ok = annotated.fields.find(_.name == n).map(_.dataType).exists {
        case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
      ok && files.nonEmpty && files.forall(_.pkRanges.contains(n))
    }
    val ops = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftStatsScan.CountOp)
      case m: Min => name(m.column()).filter(eligible)
        .map(n => GraftStatsScan.MinOp(n, annotated(n).dataType))
      case m: Max => name(m.column()).filter(eligible)
        .map(n => GraftStatsScan.MaxOp(n, annotated(n).dataType))
      case _ => None
    }
    if (ops.nonEmpty && ops.forall(_.isDefined)) Some((ops.flatten, files)) else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    statsPlan(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    statsPlan(agg) match {
      case s @ Some(_) => statsOps = s; true
      case None => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // Spark re-evaluates everything above the scan (safe)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT planning hint: with no filters, manifest row counts let the scan
   *  plan only enough files to cover the limit (an unordered LIMIT is
   *  satisfied by ANY n rows). Partial-push: Spark keeps its limit operator;
   *  the scan only shrinks the planned file set. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed: Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep role metadata on whatever survived pruning
    val byName = annotated.fields.map(f => f.name -> f).toMap
    required = StructType(requiredSchema.fields.map(f => byName.getOrElse(f.name, f)))
  }

  override def build(): Scan =
    statsOps match {
      case Some((ops, files)) => new GraftStatsScan(dir, ops, files)
      case None =>
        new GraftScan(dir, annotated, required, pushed, cql, clustered, limit,
          snapshotPin, changeFeed, topN, maxFilesPerTrigger, maxBytesPerTrigger,
          colMap)
    }
}

/** Complete COUNT(*)/MIN/MAX pushdown result: one row from planning
 *  metadata. (See GraftScanBuilder.pushAggregation — only unfiltered,
 *  ungrouped, unlimited aggregates over fully-stat-covered columns reach
 *  here, where file row counts and column ranges ARE the answer. Parquet
 *  min/max statistics ignore nulls, exactly like SQL MIN/MAX.) */
class GraftStatsScan(
    dir: String,
    ops: Seq[GraftStatsScan.Op],
    files: Array[TokenPruner.FileMeta]) extends Scan with Batch {

  override def readSchema(): StructType = StructType(ops.map {
    case GraftStatsScan.CountOp => org.apache.spark.sql.types.StructField(
      "count(*)", org.apache.spark.sql.types.LongType, nullable = false)
    case GraftStatsScan.MinOp(n, dt) =>
      org.apache.spark.sql.types.StructField(s"min($n)", dt, nullable = true)
    case GraftStatsScan.MaxOp(n, dt) =>
      org.apache.spark.sql.types.StructField(s"max($n)", dt, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftStatsScan dir=$dir ops=${ops.mkString(",")} (metadata-only aggregate)"

  override def planInputPartitions(): Array[InputPartition] = {
    def internal(v: Long, dt: org.apache.spark.sql.types.DataType): Any = dt match {
      case org.apache.spark.sql.types.LongType => v
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.DateType => v.toInt
      case org.apache.spark.sql.types.ShortType => v.toShort
      case org.apache.spark.sql.types.ByteType => v.toByte
      case other => throw new IllegalStateException(s"unexpected stats type $other")
    }
    val values: Array[Any] = ops.map {
      case GraftStatsScan.CountOp => files.map(_.rows).sum: Any
      case GraftStatsScan.MinOp(n, dt) =>
        if (files.isEmpty) null else internal(files.map(_.pkRanges(n)._1).min, dt)
      case GraftStatsScan.MaxOp(n, dt) =>
        if (files.isEmpty) null else internal(files.map(_.pkRanges(n)._2).max, dt)
    }.toArray
    Array(GraftStatsScan.StatsPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStatsScan.StatsReaderFactory
}

object GraftStatsScan {
  sealed trait Op
  case object CountOp extends Op
  final case class MinOp(col: String, dt: org.apache.spark.sql.types.DataType) extends Op
  final case class MaxOp(col: String, dt: org.apache.spark.sql.types.DataType) extends Op

  final case class StatsPartition(values: Array[Any]) extends InputPartition

  class StatsReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] =
      new org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] {
        private var emitted = false
        override def next(): Boolean = if (emitted) false else { emitted = true; true }
        override def get(): org.apache.spark.sql.catalyst.InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            p.asInstanceOf[StatsPartition].values)
        override def close(): Unit = ()
      }
  }
}

/**
 * S3/S4: the scan. File-level token pruning happens here (driver, once per
 * scan); decode is Spark's vectorized parquet reader.
 */
class GraftScan(
    dir: String,
    dataSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    cql: CqlSchema,
    clustered: Boolean = false,
    limit: Option[Int] = None,
    snapshotPin: Option[String] = None,
    changeFeed: Option[Long] = None,
    topN: Option[(String, Boolean, Int)] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    colMap: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.graftshim.ClusterReportingScan {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val keys = TokenPruner.keyTokens(effectivePushed, cql)
    s"GraftScan dir=$dir pk=${cql.partitionKeys.mkString(",")} " +
      s"pushedKeyTokens=${keys.map(_.size).getOrElse(-1)} files=${prunedFiles.length}" +
      snapshotPin.map(v => s" snapshot=$v").getOrElse("")
  }

  private lazy val spark = SparkSession.active

  // ---- runtime filtering (SURVEY §4.1 "optional SupportsRuntimeFiltering"):
  // after a broadcast join's build side materializes, Spark hands the scan
  // the actual pk values (DPP-style); re-pruning the file list against them
  // turns a dimension-filtered fact scan into a token-pruned one at runtime.
  private var runtime: Array[Filter] = Array.empty
  @volatile private var cachedPruned: Array[TokenPruner.FileMeta] = _
  @volatile private var cachedDelegate: Batch = _
  @volatile private var cachedPosBatch: Batch = _
  @volatile private var cachedDvs: Map[String, String] = _

  override def filterAttributes(): Array[NamedReference] =
    // Expressions.column SQL-parses the name — quote for exotic identifiers
    cql.partitionKeys.map(n => Expressions.column(CqlSchema.quoted(n))).toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters
    cachedPruned = null
    cachedDelegate = null
    cachedPosBatch = null
    cachedDvs = null
  }

  private def effectivePushed: Array[Filter] = pushed ++ runtime

  @volatile private var listedCount: Int = -1
  /** Statuses of the listed files, from the same listing as [[prunedFiles]]. */
  @volatile private var listedStatuses = Map.empty[String, FileStatus]

  /** All data files, then token/key-stat pruned against pushed + runtime
   *  pk filters (cache invalidated when runtime filters arrive). */
  private def prunedFiles: Array[TokenPruner.FileMeta] = {
    var files = cachedPruned
    if (files == null) {
      val entry = TokenPruner.listing(spark, dir)
      val listed = entry.files
      listedStatuses = entry.statuses
      // snapshot resolution BEFORE any pruning: explicit pin → that version;
      // unpinned but the table has a log → latest snapshot (a live listing
      // can hold a half-landed batch or both generations of a rewrite);
      // a recorded file absent from the listing fails the scan
      val all = graft.write.Snapshots.resolveListing(spark, dir, snapshotPin, listed)
      listedCount = listed.length
      // GENERATED column inference: filters on a source column imply
      // pruning-only conjuncts on its generated column (monotone shapes),
      // so a timestamp range prunes `PARTITIONED BY (day)` directories
      // without the query naming day. Never returned to Spark.
      val derived = GraftDataSource.renameFilters(
        GeneratedColumns.derive(effectivePushed, dataSchema, sessionZone), colMap)
      files = TokenPruner.prune(spark, all, physPushed ++ derived, cql)
      // row-count-based planning shrinks (LIMIT / top-k) are unsound while
      // deletion vectors hide rows inside files — footer counts overcount,
      // so a shrink could plan too few files and silently drop results
      val hasDvs = graft.write.Snapshots.dvsForPin(spark, dir, snapshotPin).nonEmpty
      // LIMIT planning: with no filters anywhere, any n rows satisfy an
      // unordered limit — plan only enough files (manifest/footer row
      // counts) instead of the whole table. Filters disable this (row
      // counts no longer bound the matching rows).
      limit.filter(_ => effectivePushed.isEmpty && !hasDvs).foreach { n =>
        var acc = 0L
        files = files.takeWhile { f => val need = acc < n; acc += f.rows; need }
      }
      // Top-k planning (ORDER BY pk LIMIT k): per-file min/max stats give
      // a sound value bound B — sort files by their upper bound (asc
      // order; lower bound for desc), accumulate row counts until ≥ k:
      // those files alone hold ≥ k rows with value ≤ B, so every one of
      // the k smallest is ≤ B and any file whose min exceeds B cannot
      // contribute. Ties at B stay planned (≤, not <). Disabled the
      // moment any filter exists — row counts then no longer bound the
      // MATCHING rows. The final TakeOrderedAndProject still runs
      // (partial pushdown); this only shrinks its input.
      topN.filter(_ => effectivePushed.isEmpty && !hasDvs).foreach { case (c, asc, k) =>
        if (files.nonEmpty && files.forall(_.pkRanges.contains(c))) {
          def lo(f: TokenPruner.FileMeta) = f.pkRanges(c)._1
          def hi(f: TokenPruner.FileMeta) = f.pkRanges(c)._2
          val byBound = if (asc) files.sortBy(hi) else files.sortBy(f => -lo(f))
          var acc = 0L
          var bound = Option.empty[Long]
          byBound.foreach { f =>
            if (bound.isEmpty) { acc += f.rows; if (acc >= k) bound = Some(if (asc) hi(f) else lo(f)) }
          }
          bound.foreach { b =>
            files = files.filter(f => if (asc) lo(f) <= b else hi(f) >= b)
          }
        }
      }
      cachedPruned = files
    }
    files
  }

  // ---- scan instrumentation (the reference's `Stats` hook surface,
  // `DataLayer.stats():344-347`, as DSv2 custom metrics → Spark UI SQL node)
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new GraftFilesListedMetric, new GraftFilesPlannedMetric, new GraftBytesPlannedMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val planned = prunedFiles
    def m(n: String, v: Long) = new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    Array(
      m("graftFilesListed", listedCount.toLong),
      m("graftFilesPlanned", planned.length.toLong),
      m("graftBytesPlanned", planned.map(_.sizeBytes).sum))
  }

  // ---- merge-on-read state: deletion-vector bindings for the planned
  // files, resolved at the SAME version as the file set, plus the computed
  // metadata columns (_graft_file/_graft_pos). Either forces the affected
  // files onto whole-file row-based readers (PositionAwareScan) — the
  // documented MoR read tax until OPTIMIZE folds the DVs away; a table
  // with no DVs and no metadata request never leaves the stock
  // split/vectorized path.
  private def dvMap: Map[String, String] = {
    var m = cachedDvs
    if (m == null) {
      val planned = prunedFiles.map(_.path).toSet
      m = graft.write.Snapshots.dvsForPin(spark, dir, snapshotPin)
        .filter { case (base, _) => planned(base) }
      cachedDvs = m
    }
    m
  }

  private lazy val metaFileRequested = required.fieldNames.contains(GraftDataSource.FileCol)
  private lazy val metaPosRequested = required.fieldNames.contains(GraftDataSource.PosCol)
  private lazy val metaRowIdRequested = required.fieldNames.contains(GraftDataSource.RowIdCol)
  /** Pushed filters with attribute names translated to the files' PHYSICAL
   *  column names (identity without a colmap). A def, NOT a lazy val:
   *  runtime filters arrive after construction and must be seen. */
  private def physPushed: Array[Filter] =
    GraftDataSource.renameFilters(effectivePushed, colMap)
  /** The session zone governs CAST(ts AS DATE) semantics — generated-column
   *  derivation must map bounds in the same zone the expression uses
   *  (a CREATE-time zone recorded in the field metadata wins inside
   *  [[GeneratedColumns.derive]]). */
  private def sessionZone: java.time.ZoneId = GeneratedColumns.sessionZone(spark)
  /** The schema the PARQUET readers produce — PHYSICAL names (rows are
   *  positional, so `readSchema()` stays logical): the computed metadata
   *  columns are appended by the position-aware wrapper, never read from
   *  files. They must be TRAILING in the requested schema (Spark puts
   *  DSv2 metadata output after data output; anything else is a planner
   *  bug we want loud). */
  private lazy val parquetRequired: StructType = {
    val metaIdx = required.fields.zipWithIndex.collect {
      case (f, i) if f.name == GraftDataSource.FileCol ||
        f.name == GraftDataSource.PosCol ||
        f.name == GraftDataSource.RowIdCol => i
    }
    val dataLen = required.length - metaIdx.length
    require(metaIdx.forall(_ >= dataLen),
      s"metadata columns must trail the requested schema, got ${required.fieldNames.mkString(",")}")
    // re-annotate EXISTS_DEFAULT from the table schema (Spark lifts
    // default metadata off relation output, so `required` arrives
    // stripped): the parquet readers fill a column absent from a
    // pre-evolution file with the folded default, per file
    GraftDataSource.renameStruct(ExistsDefaults.overlay(
      StructType(required.fields.take(dataLen)), dataSchema), colMap)
  }

  /** Rowid reads also fetch the stored materialized column (trailing, so
   *  the position-aware reader can hide it): files without it read null
   *  and fall back to base + position. */
  private lazy val positionedParquetRequired: StructType =
    if (!metaRowIdRequested) parquetRequired
    else StructType(parquetRequired.fields :+ org.apache.spark.sql.types
      .StructField(GraftDataSource.RowIdCol, org.apache.spark.sql.types.LongType))

  private def positionalMode: Boolean =
    dvMap.nonEmpty || metaFileRequested || metaPosRequested || metaRowIdRequested

  private def delegate: Batch = {
    var d = cachedDelegate
    if (d == null) {
      val paths =
        if (!positionalMode) prunedFiles.map(_.path).toSeq
        else if (metaFileRequested || metaPosRequested || metaRowIdRequested)
          Seq.empty // all positioned
        else prunedFiles.map(_.path).filterNot(dvMap.contains).toSeq
      d = ParquetScanBridge.parquetBatch(
        spark, paths, fullFileSchema, parquetRequired, physPushed, listedStatuses)
      cachedDelegate = d
    }
    d
  }

  /** Batch over the files that need position tracking — filter-FREE (all
   *  graft filters are residual, so Spark re-applies them above; a parquet
   *  row-group skip would shift every later position). */
  private def positionedBatch: Batch = {
    var d = cachedPosBatch
    if (d == null) {
      val paths =
        if (metaFileRequested || metaPosRequested || metaRowIdRequested)
          prunedFiles.map(_.path).toSeq
        else prunedFiles.map(_.path).filter(dvMap.contains).toSeq
      d = ParquetScanBridge.parquetBatch(
        spark, paths, fullFileSchema, positionedParquetRequired, Array.empty, listedStatuses)
      cachedPosBatch = d
    }
    d
  }

  /** Files may carry `_graft_token` beyond the table schema. PHYSICAL
   *  names — what the parquet footers actually store. */
  private lazy val fullFileSchema: StructType = {
    val physData = GraftDataSource.renameStruct(dataSchema, colMap)
    val withToken = prunedFiles.headOption.exists(_.hasTokenColumn)
    val base =
      if (withToken && !physData.fieldNames.contains(TokenSortedWriter.TokenCol))
        StructType(physData.fields :+
          org.apache.spark.sql.types.StructField(TokenSortedWriter.TokenCol,
            org.apache.spark.sql.types.LongType))
      else physData
    // rewritten files of a row-tracked table materialize ids into this
    // stored column; files without it read null (the base+pos path)
    if (metaRowIdRequested && !base.fieldNames.contains(GraftDataSource.RowIdCol))
      StructType(base.fields :+ org.apache.spark.sql.types.StructField(
        GraftDataSource.RowIdCol, org.apache.spark.sql.types.LongType))
    else base
  }

  /** S2 reported partitioning (reference `CassandraScanBuilder.java:122`):
   *  the layout clusters rows by pk iff every file carries `_graft_token`
   *  stats AND ranges are pairwise strictly disjoint (a boundary token
   *  shared by two files would let one pk span both). Multi-append dirs
   *  overlap and correctly disqualify themselves. Opt-in (`clustered`
   *  option) because the claim forces whole-file input partitions. */
  // the clustering claim pauses in positional mode: positioned partitions
  // are whole-file too, but mixing them with the claim's physical wrapper
  // is machinery this transitional state doesn't need — OPTIMIZE folds the
  // DVs and the claim resumes
  private lazy val clusteredLayout: Boolean = clustered && !positionalMode &&
    prunedFiles.nonEmpty && {
    val ranges = prunedFiles.flatMap(_.tokenRange)
    ranges.length == prunedFiles.length && {
      val sorted = ranges.sortBy(_._1)
      sorted.zip(sorted.tail).forall { case ((_, prevMax), (nextMin, _)) => prevMax < nextMin }
    }
  }

  override def clusteredPkNames: Option[Seq[String]] =
    if (clusteredLayout) Some(cql.partitionKeys) else None

  /** Partition order key per file: nominal ring start, else data token min,
   *  else path — keeps two co-located scans' partition indexes aligned on
   *  their shared ring layout (the co-located join itself is the explicit
   *  `graft.operators.Colocated`, which derives ranges from the manifest). */
  private def fileOrder: Map[String, Long] =
    prunedFiles.map(f => f.path ->
      f.ringSplit.map(_._1).orElse(f.tokenRange.map(_._1)).getOrElse(Long.MinValue)).toMap

  override def planInputPartitions(): Array[InputPartition] = {
    if (!positionalMode) {
      val planned = delegate.planInputPartitions()
      if (clusteredLayout)
        org.apache.spark.sql.graftshim.ClusteredScanUtil.wholeFilePartitions(planned, fileOrder)
      else planned
    } else {
      val plain = delegate.planInputPartitions()
      // coordinate columns append in the REQUESTED order (a projection may
      // list pos before file)
      val emitMeta = required.fields.collect {
        case f if f.name == GraftDataSource.FileCol => "file"
        case f if f.name == GraftDataSource.PosCol => "pos"
        case f if f.name == GraftDataSource.RowIdCol => "rowid"
      }.toSeq
      val ridBases =
        if (!metaRowIdRequested) Map.empty[String, Long]
        else graft.write.Snapshots.ridsForPin(spark, dir, snapshotPin)
      val positioned = org.apache.spark.sql.graftshim.PositionAwareScanUtil
        .positionedPartitions(positionedBatch.planInputPartitions(), dvMap, emitMeta,
          ridBases, storedRowIdTrails = metaRowIdRequested)
      plain ++ positioned
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (!positionalMode) delegate.createReaderFactory()
    else new org.apache.spark.sql.graftshim.PositionAwareReaderFactory(
      delegate.createReaderFactory(), positionedBatch.createReaderFactory(),
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()),
      forceRowBased = true)

  /** Streaming: micro-batches over the same planning and decode stack
   *  (pushdown, manifest listing, vectorized parquet). Default mode tails
   *  new-file arrival; `changeFeed=true` switches to the snapshot-log
   *  ledger (version = offset — exact, rewrite-aware increments). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a stream tails the LIVE table by definition; a pinned version would
    // either never produce data or silently ignore the pin — fail fast
    snapshotPin.foreach(v => throw new IllegalArgumentException(
      s"snapshotVersion=$v is a batch-read pin; streaming reads tail the live table"))
    // streams read the files directly: physical names throughout (rows
    // are positional, the stream's output schema stays logical upstream)
    val physRequired = GraftDataSource.renameStruct(required, colMap)
    val streamPushed = GraftDataSource.renameFilters(pushed, colMap)
    changeFeed match {
      case Some(startAfter) =>
        new GraftChangeFeedStream(
          spark, dir, fullFileSchema, physRequired, streamPushed, cql, startAfter)
      case None =>
        new GraftMicroBatchStream(spark, dir, fullFileSchema, physRequired,
          streamPushed, cql, maxFilesPerTrigger, maxBytesPerTrigger)
    }
  }

  /** Exact post-pruning statistics so Catalyst sizes joins correctly
   *  (the analog of the reference's `Sizing`/partition-size estimation,
   *  SURVEY M6). sizeInBytes is the UNCOMPRESSED footer total, not on-disk
   *  bytes: Spark compares it against autoBroadcastJoinThreshold as an
   *  in-memory estimate, and compressed bytes would let a highly-compressed
   *  table broadcast itself into an executor OOM. */
  override def estimateStatistics(): Statistics = new Statistics {
    // deletion vectors hide rows inside files: subtract their counts
    // (header-only probe, one int per carrier) so AQE join sizing sees
    // LIVE rows — footer counts alone would over-estimate a heavily
    // deleted table and block broadcasts it qualifies for
    private val deleted: Long =
      if (dvMap.isEmpty) 0L
      else {
        val hconf = spark.sessionState.newHadoopConf()
        dvMap.values.map { p =>
          graft.write.DeletionVectors.count(
            new org.apache.hadoop.fs.Path(p).getFileSystem(hconf), p)
        }.sum
      }
    private val allRows = prunedFiles.map(_.rows).sum
    private val liveRows = math.max(0L, allRows - deleted)
    private val rawBytes = prunedFiles.map(f => math.max(f.uncompressedBytes, f.sizeBytes)).sum
    // scale bytes by the live fraction (rows hidden ⇒ bytes never surface)
    private val bytes =
      if (deleted == 0L || allRows == 0L) rawBytes
      else math.max(1L, (rawBytes.toDouble * liveRows / allRows).toLong)
    override def sizeInBytes: util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows: util.OptionalLong = util.OptionalLong.of(liveRows)
  }
}

/**
 * P3-P6: partition-key filter → token file pruning over per-file statistics.
 * The reference analog chain: pushed key → serialized key → Murmur3 token
 * (`PartitionKeyFilter`), then per-SSTable range overlap check
 * (`SSTableReader.java:283-300`) and index/bloom probe (:303-320). Here the
 * "index" is, in preference order:
 *
 *  1. the write-time MANIFEST (`_graft_manifest/`, see
 *     [[graft.write.Manifest]]) — one small TSV read per scan, O(1) driver
 *     IO regardless of file count (the production answer to ~800k footers
 *     at 100 TB; the reference's Sidecar snapshot listing analog);
 *  2. parquet footers, read with a bounded thread pool, for files the
 *     manifest doesn't know (externally added / pre-manifest layouts).
 *
 * Pruning uses `_graft_token` min/max (token layout) or integral
 * partition-key column min/max (generic layout, `pkRanges`).
 */
// Top-level 0-arg classes: the Spark UI re-instantiates metric classes
// reflectively when aggregating (SQLAppStatusListener.aggregateMetrics).
class GraftFilesListedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftFilesListed"
  override def description(): String = "graft: data files listed"
}
class GraftFilesPlannedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftFilesPlanned"
  override def description(): String = "graft: files planned after pk/token pruning"
}
class GraftBytesPlannedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftBytesPlanned"
  override def description(): String = "graft: on-disk bytes planned"
}

object TokenPruner {

  final case class FileMeta(
      path: String,
      sizeBytes: Long,
      /** Sum of row-group `totalByteSize` (uncompressed) — what the data
       *  costs in memory, for broadcast-threshold decisions. */
      uncompressedBytes: Long,
      rows: Long,
      hasTokenColumn: Boolean,
      tokenRange: Option[(Long, Long)],
      /** Per-column min/max for integral (int32/int64) columns — the
       *  file-level pruning fallback for layouts without `_graft_token`. */
      pkRanges: Map[String, (Long, Long)],
      /** NOMINAL exact ring-split range `(start, end]` this file was written
       *  under (ringSplits layout; manifest-recorded). Unlike `tokenRange`
       *  (actual data extremes), two same-split tables share these exactly —
       *  the co-located-join compatibility proof. */
      ringSplit: Option[(Long, Long)] = None,
      /** xxhash64 of the file's full contents, recorded at write time (the
       *  reference digests every written SSTable, `SortedSSTableWriter
       *  .java:67-327`); None for pre-digest or externally-added files. */
      digest: Option[Long] = None,
      /** Per-column min/max for STRING columns (UTF8-annotated binary) —
       *  lets file-level pruning serve string predicates, which a Z-order
       *  layout over a string dimension makes narrow per file. Ordering is
       *  unsigned byte-wise over the UTF-8 encoding (Spark's UTF8String
       *  order AND modern parquet's UTF8 stats order). Empty for manifests
       *  written before the format carried it (conservative: no pruning). */
      strRanges: Map[String, (String, String)] = Map.empty)

  /** =/IN values pushed per pk column. Pushed attribute names arrive
   *  back-quoted when they need quoting (`EqualTo(\`user id\`, 1)`), so
   *  normalize before comparing against schema names. */
  def keyValues(pushed: Array[Filter], cql: CqlSchema): Map[String, Seq[Any]] = {
    val uq = CqlSchema.unquoted _
    pushed.collect {
      case EqualTo(c, v) if cql.partitionKeys.contains(uq(c)) => uq(c) -> Seq(v)
      case In(c, vs) if cql.partitionKeys.contains(uq(c)) => uq(c) -> vs.toSeq
    }.groupBy(_._1).map { case (c, hits) => c -> hits.map(_._2).minBy(_.size) }
  }

  /** Tokens only when ALL pk columns are covered (reference all-or-nothing
   *  rule, `DataLayer.unsupportedPushDownFilters():318-326`). */
  def keyTokens(pushed: Array[Filter], cql: CqlSchema): Option[Set[Long]] = {
    val valuesByCol = keyValues(pushed, cql)
    if (cql.partitionKeys.forall(valuesByCol.contains)) {
      // cartesian product over pk columns, in key order (FilterUtils.cartesianProduct:79)
      val combos = cql.partitionKeys.foldLeft(Seq(Seq.empty[Any])) { (acc, c) =>
        for (prefix <- acc; v <- valuesByCol(c)) yield prefix :+ v
      }
      Some(combos.map(Murmur3Token.tokenOf).toSet)
    } else None
  }

  // ---- listing cache (the last O(#dirs) driver cost at 100 TB) ----------
  // Keyed by table dir; validated by a ONE-round-trip root listStatus
  // fingerprint (child name/kind/mtime/len — which covers every mutation our
  // writer can make: new root files, new partition dirs, and, crucially,
  // `_graft_manifest/` and `_graft_deletes/` whose mtimes bump on every
  // write/delete because a new file lands directly inside them). An entry
  // carries everything derived from one fingerprint: the data files with
  // their planning stats, the `_graft_deletes/` children the fingerprint
  // already enumerates, and — memoized on first use — the table schema and
  // the tombstone schema, so a warm read infers its schema and finds its
  // tombstones with no Spark job and no second walk. Deep EXTERNAL edits
  // that change nothing at the root level are the documented blind spot,
  // for the schemas as for the files — use [[invalidateListing]] after
  // out-of-band surgery, or `graft.listing.cache=false`.
  private[graft] final class Listing(
      val sig: String,
      val files: Array[FileMeta],
      /** Hadoop status of every walked data file, by path: the scan hands
       *  them to Spark's file index, which then lists nothing. */
      val statuses: Map[String, FileStatus],
      /** `_graft_deletes/` children; None when the table has no such dir. */
      val deletes: Option[Array[FileStatus]],
      /** The walk skipped an entry Spark's own file listing reads (a `_k=v`
       *  dir, a summary file, a non-parquet file) or read one Spark skips:
       *  the two listings disagree, so footer-derived schemas decline. */
      val mismatch: Boolean,
      val cached: Boolean) {
    /** Memoized schemas by kind and parquet-conversion conf; None = the
     *  kind is absent (a table without tombstones). */
    val schemas = new java.util.concurrent.ConcurrentHashMap[String, Option[StructType]]()
  }

  private val listingCache = new java.util.concurrent.ConcurrentHashMap[String, Listing]()
  /** Number of full recursive walks performed (observable by specs). */
  private[graft] val fullWalks = new java.util.concurrent.atomic.AtomicLong(0)

  def invalidateListing(dir: String): Unit = listingCache.remove(dir)

  /** The root fingerprint and, when the listing succeeded, the
   *  `_graft_deletes/` children it enumerated (inner None = no such dir). */
  private def listingSignature(fs: org.apache.hadoop.fs.FileSystem, p: Path)
      : (String, Option[Option[Array[FileStatus]]]) =
    try {
      def render(ss: Array[FileStatus]): String =
        ss.map(s => s"${s.getPath.getName}:${s.isDirectory}:${s.getModificationTime}:${s.getLen}")
          .mkString("|")
      val root = fs.listStatus(p).sortBy(_.getPath.getName)
      // dir mtimes have finite granularity, so two writes inside one tick
      // could alias at the root level — but every writer mutation creates a
      // UNIQUELY-NAMED file inside the manifest/deletes dirs, so enumerating
      // those two children (still O(1) round trips) makes the signature
      // change-proof for all engine-driven mutations
      val meta = root.filter(s => s.isDirectory &&
          (s.getPath.getName == graft.write.Manifest.Dir ||
            s.getPath.getName == TokenSortedWriter.DeletesDir))
        .map(s => s.getPath.getName -> fs.listStatus(s.getPath).sortBy(_.getPath.getName))
      val metaSig = meta.map { case (n, ss) => s"[$n]" + render(ss) }.mkString("§")
      (render(root) + "§§" + metaSig,
        Some(meta.collectFirst { case (TokenSortedWriter.DeletesDir, ss) => ss }))
    } catch { case _: java.io.IOException => (s"unlistable-${System.nanoTime()}", None) }

  /** All data files with their planning stats: manifest rows when available,
   *  footer reads (bounded parallel) only for unknown files. Listing is
   *  recursive, skipping `_`/`.`-prefixed metadata dirs and files; a warm
   *  scan of an unchanged table costs ONE `listStatus` round-trip total. */
  def listFiles(spark: SparkSession, dir: String): Array[FileMeta] = listing(spark, dir).files

  private[graft] def listing(spark: SparkSession, dir: String): Listing = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    // Escape hatch for deployments where files mutate out-of-band below the
    // root level (the documented signature blind spot): session conf
    // `graft.listing.cache=false` forces a full walk on every scan.
    val cacheOn = spark.conf.getOption("graft.listing.cache").forall(_.toBoolean)
    val (sig, sigDeletes) = if (cacheOn) listingSignature(fs, p) else ("", None)
    if (cacheOn) {
      val cached = listingCache.get(dir)
      if (cached != null && cached.sig == sig) return cached
    }
    fullWalks.incrementAndGet()
    val (files, mismatch) = walkDataFiles(fs, p)
    val manifest = graft.write.Manifest.read(fs, p)
    val (known, unknown) = files.partition(f => manifest.contains(f.getPath.toString))
    val fromManifest = known.map(f => manifest(f.getPath.toString))
    val fromFooters = readFootersParallel(conf, unknown.map(f => (f.getPath, f.getLen)))
    val deletes = sigDeletes.getOrElse {
      try Some(fs.listStatus(new Path(p, TokenSortedWriter.DeletesDir)))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val result = new Listing(sig, fromManifest ++ fromFooters,
      files.map(f => f.getPath.toString -> f).toMap, deletes, mismatch, cacheOn)
    if (cacheOn) {
      if (listingCache.size() > 64) listingCache.clear() // bound driver state
      listingCache.put(dir, result)
    }
    result
  }

  def listDataFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path): Array[FileStatus] =
    walkDataFiles(fs, p)._1

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Entries Spark's own file listing reads (`InMemoryFileIndex
   *  .shouldFilterOutPathName`): not `_`/`.`-prefixed, except `k=v` and
   *  summary names; never an in-flight `._COPYING_` copy. */
  private def sparkListed(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) ||
      name.startsWith("_common_metadata") || name.startsWith("_metadata")

  /** The recursive data-file walk, plus whether Spark's own listing of
   *  the same tree would read an entry this walk skips, or skip one it
   *  reads — found with no extra IO, from the entries the walk lists. */
  private def walkDataFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path)
      : (Array[FileStatus], Boolean) = {
    var mismatch = false
    def walk(d: Path): Array[FileStatus] =
      fs.listStatus(d).flatMap { s =>
        val name = s.getPath.getName
        val ours = !hidden(name) && (s.isDirectory || name.endsWith(".parquet"))
        if (ours != sparkListed(name)) mismatch = true
        if (hidden(name)) Array.empty[FileStatus]
        else if (s.isDirectory) walk(s.getPath)
        else if (name.endsWith(".parquet")) Array(s)
        else Array.empty[FileStatus]
      }
    (walk(p), mismatch)
  }

  // ---- table and tombstone schemas, from the listing-cache entry ---------

  /** A table's schemas, resolved lazily against ONE listing-cache entry —
   *  a warm call costs the fingerprint and nothing else, so a normalized
   *  read that needs both pays one. On a miss each is merged from per-file
   *  footer schemas read in-process (zero Spark jobs, [[mergedFooterSchema]]);
   *  only layouts where that merge cannot be shown to equal Spark's
   *  inference run Spark's own. A missing or unlistable dir infers Spark's
   *  way. */
  final class Schemas private[TokenPruner] (spark: SparkSession, dir: String) {
    private val entry: Option[Listing] =
      try Some(listing(spark, dir)) catch { case _: java.io.IOException => None }

    /** What `spark.read.option("mergeSchema", "true").parquet(dir)` infers,
     *  minus engine columns: the schema the graft source reports for a
     *  table it reads without a catalog (empty for a missing dir — the
     *  write path resolves the table before its first file exists). */
    lazy val table: StructType = entry match {
      case Some(e) => memo(spark, e, "table")(e =>
        footerTableSchema(spark, dir, e).orElse(Some(sparkTableSchema(spark, dir)))).get
      case None => sparkTableSchema(spark, dir)
    }

    /** The union schema of every `_graft_deletes/` file — partition, row
     *  and range tombstones carry different columns — or None when the
     *  table has no tombstones (no such dir, or an empty one). */
    lazy val tombstones: Option[StructType] = {
      val del = new Path(dir, TokenSortedWriter.DeletesDir).toString
      entry match {
        case Some(e) => memo(spark, e, "tombstones") { e =>
          if (!e.deletes.exists(_.exists(s => sparkListed(s.getPath.getName)))) None
          else tombstoneParts(e)
            .flatMap(ps => mergedFooterSchema(spark, ps.map(_.getPath.toString).toSeq, e.cached))
            .orElse(Some(sparkInferred(spark, del)))
        }
        case None =>
          val p = new Path(del)
          if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
          else Some(sparkInferred(spark, del))
      }
    }

    /** Every tombstone under `_graft_deletes/`, read under [[tombstones]]
     *  (a file lacking a column reads it as null) — the one tombstone
     *  reader. Built from the part files the fingerprint listed when the
     *  dir holds only those (the read lists nothing), else through Spark's
     *  own listing of the dir. None when the table has no tombstones. */
    def tombstoneFrame: Option[org.apache.spark.sql.DataFrame] = tombstones.map { s =>
      val del = new Path(dir, TokenSortedWriter.DeletesDir)
      entry.flatMap(tombstoneParts).filter(_.nonEmpty) match {
        case Some(parts) =>
          val qualified = del.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(del)
          ParquetScanBridge.parquetFrame(spark, qualified, parts, s)
        case None => spark.read.schema(s).parquet(del.toString)
      }
    }
  }

  def schemas(spark: SparkSession, dir: String): Schemas = new Schemas(spark, dir)

  /** The `_graft_deletes/` part files the fingerprint listed, or None when
   *  Spark would read something there that is not a plain part file (a
   *  subdir, a summary or foreign file) — then Spark lists and infers. */
  private def tombstoneParts(entry: Listing): Option[Array[FileStatus]] = {
    val seen = entry.deletes.getOrElse(Array.empty[FileStatus])
      .filter(s => sparkListed(s.getPath.getName))
    val parts = seen.filter(s => s.isFile && !hidden(s.getPath.getName) &&
      s.getPath.getName.endsWith(".parquet"))
    if (parts.length == seen.length) Some(parts) else None
  }

  /** The footer-derived schemas alone (None where they decline) next to
   *  Spark's own inference of the same dir — for differential specs. */
  private[graft] def footerTableSchema(spark: SparkSession, dir: String): Option[StructType] =
    footerTableSchema(spark, dir, listing(spark, dir))
  private[graft] def footerTombstoneSchema(spark: SparkSession, dir: String): Option[StructType] =
    tombstoneParts(listing(spark, dir))
      .flatMap(ps => mergedFooterSchema(spark, ps.map(_.getPath.toString).toSeq))
  private[graft] def sparkTombstoneSchema(spark: SparkSession, dir: String): StructType =
    sparkInferred(spark, new Path(dir, TokenSortedWriter.DeletesDir).toString)

  private def memo(spark: SparkSession, entry: Listing, kind: String)(
      compute: Listing => Option[StructType]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val key = kind + "|" + org.apache.spark.sql.graftshim.GraftShims.footerSchemaConfKey(conf) +
      "|" + conf.isParquetSchemaRespectSummaries
    val hit = entry.schemas.get(key)
    if (hit != null) hit
    else { val v = compute(entry); entry.schemas.put(key, v); v }
  }

  /** Spark's own inference of a parquet dir, with schema merging. */
  private def sparkInferred(spark: SparkSession, dir: String): StructType =
    spark.read.option("mergeSchema", "true").parquet(dir).schema

  /** Strip engine columns: `_graft_token`, and `graft_p_*` directory-key
   *  TWINS of real data columns (see WriteConf.partitionBy) — partition
   *  inference surfaces the twins, but the data column itself lives in
   *  every file; the table schema is the file schema. Only a graft_p_X
   *  whose data column X actually exists is a twin — a user column that
   *  merely carries the prefix stays visible. */
  private def stripEngineColumns(full: StructType): StructType = {
    val names = full.fields.map(_.name).toSet
    val prefix = TokenSortedWriter.partCol("")
    StructType(full.fields.filterNot(f => f.name == TokenSortedWriter.TokenCol
      || (f.name.startsWith(prefix) && names.contains(f.name.substring(prefix.length)))))
  }

  /** The decline path: Spark's own `mergeSchema` inference of the table
   *  dir (one listing and one footer-merge Spark job), stripped. */
  private[graft] def sparkTableSchema(spark: SparkSession, dir: String): StructType =
    try stripEngineColumns(sparkInferred(spark, dir))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        // a compacted-in-place table keeps its data under `gen-<uuid>/`
        // subdirs, which plain parquet partition discovery rejects (non
        // key=value dir names) — recursiveFileLookup sees the files and
        // skips discovery; dir-partitioned (key=value) tables never reach
        // this fallback, so graft_p twin stripping above still governs them
        try stripEngineColumns(spark.read.option("mergeSchema", "true")
          .option("recursiveFileLookup", "true").parquet(dir).schema)
        catch { case _: org.apache.spark.sql.AnalysisException => new StructType() }
    }

  /** [[sparkTableSchema]]'s result from the entry's footers, or None when
   *  the layout is not one where the two provably agree. Spark's result is
   *  the merge of the footers of the files its listing reads, plus the
   *  directory keys its partition discovery finds, then stripped. That
   *  merge is [[mergedFooterSchema]] over the entry's files when:
   *  - the walk and Spark's listing agree on every entry (no `_k=v` dir,
   *    summary file or non-parquet file), the path is not a glob, and
   *    summary-only merging is off;
   *  - and the files sit in one of three shapes:
   *    - all at the root (no partition discovery);
   *    - none at the root, all under `graft_p_X=…` chains with one key
   *      sequence, each X a data column (the keys are twins, stripped);
   *    - none at the root and no `=` in any dir name (`gen-*` dirs: the
   *      discovery finds no root file, and the recursive retry reads all).
   *  Anything else — a root file beside subdirs, a non-twin key, mixed
   *  chains, conflicting types — returns None. */
  private def footerTableSchema(spark: SparkSession, dir: String, entry: Listing)
      : Option[StructType] = {
    if (entry.mismatch || dir.exists("{}[]*?\\".contains(_)) ||
        spark.sessionState.conf.isParquetSchemaRespectSummaries) return None
    val p = new Path(dir)
    val root = p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString + "/"
    val paths = entry.files.map(_.path).toSeq
    if (!paths.forall(_.startsWith(root))) return None
    val dirs = paths.map(_.substring(root.length).split('/').toSeq.init)
    val prefix = TokenSortedWriter.partCol("")
    val keyChains = dirs.map(_.map(seg => if (seg.contains('=')) Some(seg.takeWhile(_ != '=')) else None))
    val twins: Seq[String] =
      if (dirs.forall(_.isEmpty)) Nil
      else if (dirs.exists(_.isEmpty)) return None
      else if (keyChains.forall(_.forall(_.isEmpty))) Nil
      else if (keyChains.forall(_.forall(_.exists(_.startsWith(prefix)))) &&
          keyChains.distinct.size == 1) keyChains.head.flatten
      else return None
    mergedFooterSchema(spark, paths, entry.cached).filter { merged =>
      twins.forall { k =>
        merged.fieldNames.contains(k.substring(prefix.length)) &&
          !merged.fieldNames.exists(_.equalsIgnoreCase(k))
      }
    }.map(stripEngineColumns)
  }

  /** Session-scoped file→schema cache: data files are immutable once
   *  written (generational names), so a footer's schema pins for the JVM's
   *  lifetime, keyed with the conversion flags so two sessions with
   *  different parquet settings never share a converted schema. Bounded
   *  like the listing cache: cleared past 100k files. */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Spark's `mergeSchema` inference over an explicit file set, from
   *  in-process footer reads — ZERO Spark jobs. Each footer converts
   *  exactly as Spark's does ([[org.apache.spark.sql.graftshim.GraftShims
   *  .footerSchema]]), the schemas fold with Spark's own merge in path
   *  order (Spark sorts the files it merges), and every level turns
   *  nullable as in the relation Spark builds. `cached = false` re-reads
   *  every footer (the listing cache is off: files may change out of
   *  band). None when the schemas conflict or a footer cannot be read —
   *  the caller falls back to Spark's inference and its errors. */
  private[graft] def mergedFooterSchema(
      spark: SparkSession, files: Seq[String], cached: Boolean = true): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    // capture the session's SQLConf HERE (calling thread) — pool threads
    // may not inherit the active session, and the converter's flags
    // (binaryAsString, int96, NTZ inference, …) come from it
    val sqlConf = spark.sessionState.conf
    val confKey = org.apache.spark.sql.graftshim.GraftShims.footerSchemaConfKey(sqlConf)
    val sorted = files.distinct.sorted
    try {
      val read: Map[String, StructType] = inParallel(
        sorted.filterNot(p => cached && footerSchemaCache.containsKey(p + "|" + confKey))) { p =>
        p -> org.apache.spark.sql.graftshim.GraftShims.footerSchema(conf, sqlConf, new Path(p))
      }.toMap
      if (cached && read.nonEmpty) {
        if (footerSchemaCache.size() > 100000) footerSchemaCache.clear()
        read.foreach { case (p, s) => footerSchemaCache.put(p + "|" + confKey, s) }
      }
      // a concurrent clear can drop a hit between the check and here: null
      // then declines to Spark's inference
      val schemas = sorted.map(p => read.getOrElse(p, footerSchemaCache.get(p + "|" + confKey)))
      if (schemas.contains(null)) return None
      // a repeated schema merges to what is already there: fold distinct
      // ones, in first-seen order
      schemas.distinct.reduceOption((a, b) => org.apache.spark.sql.graftshim.GraftShims
          .mergeSchemas(a, b, sqlConf.caseSensitiveAnalysis))
        .orElse(Some(new StructType()))
        .map(org.apache.spark.sql.graftshim.GraftShims.asNullable)
    } catch {
      // one transient FS hiccup, an unreadable footer or a type conflict
      // must not fail the read here: Spark's inference decides (task
      // retries and its own error messages included)
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** `f` over `xs` on a bounded thread pool (inline for one item). */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.length <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, xs.length))
      try {
        val tasks = xs.map(x => new java.util.concurrent.Callable[B] { def call(): B = f(x) })
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    }

  /** FileMetas for snapshot-referenced files OUTSIDE the table root — a
   *  SHALLOW CLONE's view of its source's data. The clone's own manifest
   *  first; uncovered files footer-read ONCE and persisted as manifest
   *  rows, so every later scan plans from the cache (same stats quality
   *  as local files — token pruning and stats pushdown work unchanged).
   *  A vanished foreign file fails loudly: the source was vacuumed past
   *  the cloned version, and a silent partial read is never acceptable. */
  /** Session-scoped stats for OUT-OF-ROOT files (a clone's view of its
   *  source): data files are immutable once written (generational names,
   *  never modified in place), so path → meta pins safely for the JVM's
   *  lifetime. Entries enter only after this session PROVED the file
   *  exists (a footer read, or the manifest-row validation probe below) —
   *  read-only clone clients, whose best-effort manifest persist fails,
   *  then plan later scans without re-reading a single foreign footer. */
  private val foreignMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileMeta]()

  private[graft] def invalidateForeignCache(): Unit = foreignMetaCache.clear()

  def foreignMetas(
      spark: SparkSession,
      tableDir: String,
      paths: Seq[String]): Seq[FileMeta] = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(tableDir)
    val rfs = rootPath.getFileSystem(conf)
    val (cached, rest0) = paths.partition(foreignMetaCache.containsKey)
    val fromCache = cached.map(foreignMetaCache.get)
    if (rest0.isEmpty) return fromCache
    val manifest = graft.write.Manifest.read(rfs, rfs.makeQualified(rootPath))
    val (known, unknown) = rest0.partition(manifest.contains)
    if (known.nonEmpty) {
      // manifest rows can be STALE (the source vacuumed past the cloned
      // version after the row persisted): probe existence once per session
      // per path — bounded-parallel — so staleness surfaces here as the
      // clone-specific refusal, not as a raw executor FileNotFoundException
      // mid-job. A source vacuumed AFTER this validation can still fail
      // executor-side; that is the same documented trade as any pinned read.
      val missing = graft.write.Snapshots.missingParallel(conf, known)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"clone $tableDir references ${missing.length} file(s) that no " +
            s"longer exist (first: ${missing.head}) — the source table was " +
            "vacuumed or deleted past the cloned version")
      known.foreach(p => foreignMetaCache.put(p, manifest(p)))
    }
    val fromManifest = known.map(manifest)
    if (unknown.isEmpty) return fromCache ++ fromManifest
    val statuses = unknown.map { p =>
      val hp = new Path(p)
      try (hp, hp.getFileSystem(conf).getFileStatus(hp).getLen)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"clone $tableDir references $p which no longer exists — the " +
              "source table was vacuumed or deleted past the cloned version")
      }
    }
    val fresh = readFootersParallel(conf, statuses.toArray)
    fresh.foreach(m => foreignMetaCache.put(m.path, m))
    // persist is BEST-EFFORT: scan planning must work for read-only
    // clients (a clone readable by everyone, manifest-writable by its
    // owner) — a failed append only re-costs the footer reads in the NEXT
    // session. NonFatal, not just IOException: read-only FS wrappers throw
    // UnsupportedOperation/AccessDenied RuntimeExceptions on create, and
    // planning already holds the freshly read stats either way.
    try graft.write.Manifest.appendMetas(spark, tableDir, fresh.toIndexedSeq)
    catch { case scala.util.control.NonFatal(_) => () }
    fromCache ++ fromManifest ++ fresh
  }

  /** `tolerant = true` SKIPS files that vanish between listing and the
   *  footer read — a concurrent writer's commit-race cleanup or a vacuum
   *  may legitimately delete an unreferenced file mid-pass. Callers that
   *  treat footer stats as a best-effort cache (the manifest) pass true;
   *  scan planning keeps the default and fails loudly. */
  private[graft] def readFootersParallel(
      conf: org.apache.hadoop.conf.Configuration,
      files: Array[(Path, Long)],
      tolerant: Boolean = false): Array[FileMeta] =
    inParallel(files.toSeq) { case (p, l) =>
      if (!tolerant) Some(readFooterMeta(conf, p, l))
      else try Some(readFooterMeta(conf, p, l))
      catch { case _: java.io.FileNotFoundException => None }
    }.flatten.toArray

  def readFooterMeta(
      conf: org.apache.hadoop.conf.Configuration, path: Path, len: Long): FileMeta = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // per-column min/max over all row groups, integral types only (they
      // are what pk pruning compares; stats must cover EVERY block).
      // Non-identity integral annotations are skipped: an UNSIGNED column
      // (externally-written file) surfaces in Spark as the next wider type,
      // so its signed footer stats would misrepresent the range and could
      // wrongly prune a matching file.
      // resolved ONCE per file (this runs on the driver for every file the
      // manifest doesn't cover — per-chunk descriptor lookups would be
      // O(blocks × cols²))
      val identityIntegralCols: Set[String] =
        reader.getFileMetaData.getSchema.getColumns.asScala.filter { c =>
          c.getPrimitiveType.getLogicalTypeAnnotation match {
            case null => true
            case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
              i.isSigned
            case _: org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
              true // day counts compare as their stored ints; filters push Date values (kept)
            case _ => false // timestamps/decimal/time/unsigned: stats not comparable as-is
          }
        }.map(_.getPath.mkString(".")).toSet
      val longRanges: Map[String, (Long, Long)] = {
        val perCol = blocks.flatMap { b =>
          b.getColumns.asScala.flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue ||
                !identityIntegralCols.contains(c.getPath.toDotString)) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                Some(c.getPath.toDotString -> (mn.longValue(), mx.longValue()))
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                Some(c.getPath.toDotString -> (mn.longValue(), mx.longValue()))
              case _ => None
            }
          }
        }
        perCol.groupBy(_._1).collect {
          case (col, hits) if hits.size == blocks.size =>
            col -> (hits.map(_._2._1).min, hits.map(_._2._2).max)
        }
      }
      val stringCols: Set[String] =
        reader.getFileMetaData.getSchema.getColumns.asScala.filter { c =>
          c.getPrimitiveType.getLogicalTypeAnnotation match {
            case _: org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
            case _ => false
          }
        }.map(_.getPath.mkString(".")).toSet
      val strRanges: Map[String, (String, String)] = {
        val perCol = blocks.flatMap { b =>
          b.getColumns.asScala.flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue ||
                !stringCols.contains(c.getPath.toDotString)) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: org.apache.parquet.io.api.Binary,
                    mx: org.apache.parquet.io.api.Binary) =>
                Some(c.getPath.toDotString ->
                  (mn.toStringUsingUTF8, mx.toStringUsingUTF8))
              case _ => None
            }
          }
        }
        perCol.groupBy(_._1).collect {
          case (col, hits) if hits.size == blocks.size =>
            col -> (hits.map(_._2._1).min(utf8Ordering),
              hits.map(_._2._2).max(utf8Ordering))
        }
      }
      val hasToken = footer.getFileMetaData.getSchema.getFields.asScala
        .exists(_.getName == TokenSortedWriter.TokenCol)
      val tokenRange = if (hasToken) longRanges.get(TokenSortedWriter.TokenCol) else None
      val uncompressed = blocks.map(_.getTotalByteSize).sum
      FileMeta(path.toString, len, uncompressed, rows, hasToken, tokenRange,
        longRanges - TokenSortedWriter.TokenCol, strRanges = strRanges)
    } finally reader.close()
  }

  /** Directory keys encoded in a file's path: `graft_p_<col>=<value>` path
   *  segments written by `WriteConf.partitionBy` (value percent-unescaped;
   *  Hive null marker → None). Keyed by the DATA column name. */
  def dirValues(path: String): Map[String, Option[String]] = {
    val prefix = TokenSortedWriter.partCol("")
    path.split('/').iterator.filter(_.startsWith(prefix)).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) =>
          val value = unescapePath(v)
          Some(k.substring(prefix.length) ->
            (if (value == "__HIVE_DEFAULT_PARTITION__") None else Some(value)))
        case _ => None
      }
    }.toMap
  }

  private def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Render a pushed-filter value the way the dir layout renders it (dates
   *  ISO, everything else toString) — None when the type can't round-trip
   *  through a dir name faithfully (then the file must be kept). */
  private def dirRender(v: Any): Option[String] = v match {
    case null => None
    case _: String | _: java.lang.Boolean | _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Byte | _: java.sql.Date |
         _: java.time.LocalDate => Some(v.toString)
    case _ => None
  }

  /** Can a file under these directory keys satisfy the pushed filters?
   *  Equality/IN/null tests prune exactly; ranges prune numerically for
   *  integral values and lexicographically otherwise (safe for ISO dates).
   *  Anything unrecognized keeps the file — pruning is best-effort, the
   *  data column inside the file re-applies every filter. */
  def allowsDir(dirs: Map[String, Option[String]], pushed: Array[Filter]): Boolean = {
    if (dirs.isEmpty) return true
    val uq = CqlSchema.unquoted _
    def cmp(dir: String, v: Any): Option[Int] = dirRender(v).map { r =>
      (dir.toLongOption, r.toLongOption) match {
        case (Some(a), Some(b)) => java.lang.Long.compare(a, b)
        case _ => dir.compareTo(r)
      }
    }
    pushed.forall {
      case EqualTo(c, v) => dirs.get(uq(c)) match {
        case Some(Some(dir)) => cmp(dir, v).forall(_ == 0)
        case Some(None) => false // dir is the null partition; = never matches null
        case None => true
      }
      case In(c, vs) => dirs.get(uq(c)) match {
        case Some(Some(dir)) => vs.exists(v => cmp(dir, v).forall(_ == 0))
        case Some(None) => false
        case None => true
      }
      case org.apache.spark.sql.sources.IsNull(c) =>
        dirs.get(uq(c)).forall(_.isEmpty)
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        dirs.get(uq(c)).forall(_.nonEmpty)
      case org.apache.spark.sql.sources.GreaterThan(c, v) =>
        dirs.get(uq(c)).forall(_.exists(dir => cmp(dir, v).forall(_ > 0)))
      case org.apache.spark.sql.sources.GreaterThanOrEqual(c, v) =>
        dirs.get(uq(c)).forall(_.exists(dir => cmp(dir, v).forall(_ >= 0)))
      case org.apache.spark.sql.sources.LessThan(c, v) =>
        dirs.get(uq(c)).forall(_.exists(dir => cmp(dir, v).forall(_ < 0)))
      case org.apache.spark.sql.sources.LessThanOrEqual(c, v) =>
        dirs.get(uq(c)).forall(_.exists(dir => cmp(dir, v).forall(_ <= 0)))
      case org.apache.spark.sql.sources.And(l, r) =>
        allowsDir(dirs, Array(l)) && allowsDir(dirs, Array(r))
      case org.apache.spark.sql.sources.Or(l, r) =>
        allowsDir(dirs, Array(l)) || allowsDir(dirs, Array(r))
      case _ => true
    }
  }

  /** Unsigned byte-wise comparison of UTF-8 encodings — the ONE string
   *  order every layer here agrees on: Spark's `UTF8String.compareTo`,
   *  parquet's UTF8 stats sort order, and the manifest round-trip.
   *  `String.compareTo` (UTF-16 code units) differs above the BMP and must
   *  never be used for pruning decisions. */
  private[graft] def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[graft] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => cmpUtf8(a, b)

  /** Can a file's integral-column [min,max] stats satisfy this filter?
   *  Sound by construction: a file is excluded only when NO non-null value
   *  inside its recorded range could match. Stats cover non-null values
   *  only, and every predicate handled here is null-rejecting, so pruning
   *  on them never loses a row (`IsNull` and unknown filters keep the
   *  file). Range predicates are what make time-travel cheap: an as-of
   *  read pushes `_graft_writetime <= T`, and since the writer stamps a
   *  constant writetime per generation, every file of a NEWER generation
   *  has `min > T` and is pruned here — historical reads never open files
   *  they can't contain. */
  def allowsStats(f: FileMeta, filter: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    val uq = CqlSchema.unquoted _
    def asLong(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(l.longValue())
      case i: java.lang.Integer => Some(i.longValue())
      case s: java.lang.Short => Some(s.longValue())
      case b: java.lang.Byte => Some(b.longValue())
      case _ => None
    }
    def range(c: String): Option[(Long, Long)] = f.pkRanges.get(uq(c))
    // string bounds as (cmp(v, min), cmp(v, max)) — None when there are no
    // string stats for the column or the value is not a string (keep)
    def strCmp(c: String, v: Any): Option[(Int, Int)] =
      (f.strRanges.get(uq(c)), v) match {
        case (Some((mn, mx)), s: String) => Some((cmpUtf8(s, mn), cmpUtf8(s, mx)))
        case _ => None
      }
    filter match {
      case EqualTo(c, v) => (range(c), asLong(v)) match {
        case (Some((mn, mx)), Some(x)) => x >= mn && x <= mx
        case _ => strCmp(c, v) match {
          case Some((dmn, dmx)) => dmn >= 0 && dmx <= 0
          case None => true
        }
      }
      case In(c, vs) => range(c) match {
        case Some((mn, mx)) =>
          val longs = vs.flatMap(asLong)
          // any non-integral value in the IN list defeats evaluation: keep
          longs.length < vs.length || longs.exists(x => x >= mn && x <= mx)
        case None => f.strRanges.get(uq(c)) match {
          case Some((smn, smx)) =>
            val strs = vs.collect { case s: String => s }
            strs.length < vs.length ||
              strs.exists(s => cmpUtf8(s, smn) >= 0 && cmpUtf8(s, smx) <= 0)
          case None => true
        }
      }
      case GreaterThan(c, v) => (range(c), asLong(v)) match {
        case (Some((_, mx)), Some(x)) => mx > x
        case _ => strCmp(c, v) match {
          case Some((_, dmx)) => dmx < 0 // file max > v
          case None => true
        }
      }
      case GreaterThanOrEqual(c, v) => (range(c), asLong(v)) match {
        case (Some((_, mx)), Some(x)) => mx >= x
        case _ => strCmp(c, v) match {
          case Some((_, dmx)) => dmx <= 0
          case None => true
        }
      }
      case LessThan(c, v) => (range(c), asLong(v)) match {
        case (Some((mn, _)), Some(x)) => mn < x
        case _ => strCmp(c, v) match {
          case Some((dmn, _)) => dmn > 0 // file min < v
          case None => true
        }
      }
      case LessThanOrEqual(c, v) => (range(c), asLong(v)) match {
        case (Some((mn, _)), Some(x)) => mn <= x
        case _ => strCmp(c, v) match {
          case Some((dmn, _)) => dmn >= 0
          case None => true
        }
      }
      case StringStartsWith(c, p) => f.strRanges.get(uq(c)) match {
        // strings with prefix p form the interval [p, next(p)): the file can
        // match only if max >= p (full-string compare — any prefixed string
        // is >= p) AND min's first |p| BYTES are <= p (min is the floor of
        // every value; a min whose prefix already exceeds p excludes all)
        case Some((mn, mx)) =>
          val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mnb = mn.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mnPrefix = java.util.Arrays.copyOfRange(mnb, 0, math.min(pb.length, mnb.length))
          cmpUtf8(p, mx) <= 0 &&
            java.util.Arrays.compareUnsigned(mnPrefix, pb) <= 0
        case None => true
      }
      case And(l, r) => allowsStats(f, l) && allowsStats(f, r)
      case Or(l, r) => allowsStats(f, l) || allowsStats(f, r)
      case _ => true
    }
  }

  /** Keep only files whose stats can contain the pushed predicates:
   *  directory keys first (`WriteConf.partitionBy` layouts), then integral
   *  column [min,max] stats ([[allowsStats]] — equality, IN and RANGE
   *  predicates over any int32/int64 column with recorded stats, pk or
   *  not), then token ranges when a full-pk key set compiles and every
   *  file carries token stats. The passes compose: a key-token scan with a
   *  `_graft_writetime` bound prunes on both axes. With no pushdown or no
   *  stats, keep everything (parquet row-group stats still prune inside
   *  the scan). */
  def prune(
      spark: SparkSession,
      files0: Array[FileMeta],
      pushed: Array[Filter],
      cql: CqlSchema): Array[FileMeta] = {
    val files =
      if (pushed.isEmpty) files0
      else files0.filter(f =>
        allowsDir(dirValues(f.path), pushed) && pushed.forall(allowsStats(f, _)))
    keyTokens(pushed, cql) match {
      case Some(tokens) if tokens.nonEmpty && files.forall(_.tokenRange.isDefined) =>
        files.filter { f =>
          val (mn, mx) = f.tokenRange.get
          tokens.exists(t => t >= mn && t <= mx)
        }
      case _ => files
    }
  }
}

package graft.write

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Versioned snapshot log: time-travel reads and atomic multi-file commits
 * for graft table dirs (the lakehouse snapshot-isolation layer the
 * reference delegates to Cassandra's SSTable lifecycle — a bulk job there
 * reads "the SSTables of one repaired snapshot", `SSTableReader` set
 * resolution; here the analog is an explicit commit log so a 100 TB scan
 * never sees a half-landed write batch).
 *
 * Layout: `<table>/_graft_snapshots/v<000000000012>.txt`, one file per
 * committed version:
 *
 *   graft-snapshot <tab> 1 <tab> <version> <tab> <epochMillis> <tab> <parent|->
 *   <relative data file path>
 *   ...
 *
 * Each snapshot lists the COMPLETE live data-file set at that version
 * (relative paths — the log survives a table move, like the manifest).
 * Commit is an optimistic exclusive create of the next version file: two
 * racing writers both compute v(N+1), the store accepts exactly one, and
 * the loser re-reads the winner's set and retries on v(N+2) — appends
 * therefore linearize without a lock service. The exclusive create is
 * dispatched per store class (see `createExclusive`): HDFS-family/ABFS/GCS
 * use the store's atomic create, local tables commit by POSIX hard link
 * (atomic cross-process, unlike RawLocalFileSystem's check-then-create),
 * and stores without an atomicity guarantee (s3a) are REFUSED unless the
 * caller opts into single-driver semantics via [[AllowNonAtomicConf]].
 *
 * Contracts:
 *  - the log is ADDITIVE metadata: a table without snapshots behaves
 *    exactly as before (reads plan from the live listing);
 *  - a snapshot read (`snapshotVersion` source option) plans from the
 *    recorded file set and FAILS LOUDLY if a recorded file has vanished
 *    (vacuumed past retention or deleted out-of-band) — silently returning
 *    fewer rows is the one unacceptable outcome;
 *  - data files are immutable once written (the writer never mutates a
 *    parquet file in place), so pinning a file set pins bytes;
 *  - logical rewrites ([[commitRewrite]] — compaction, dedup-in-place)
 *    leave replaced files on disk for older snapshots; [[vacuum]] later
 *    reconciles physical state to the retained log suffix.
 */
object Snapshots {

  val Dir = "_graft_snapshots"
  private val Magic = "graft-snapshot"
  private val MaxCommitAttempts = 20

  /** Session conf escape hatch: accept a non-atomic exclusive create on a
   *  store outside [[AtomicCreateSchemes]] (single-driver deployments where
   *  the in-JVM mutex is the real guard). Without it, committing on such a
   *  store fails loudly — a silent double-commit loses files from the log. */
  val AllowNonAtomicConf = "spark.graft.snapshots.allowNonAtomicCommit"

  /** Stores whose `create(overwrite = false)` is genuinely atomic
   *  (server-side exclusive create / conditional put): HDFS family, ABFS
   *  (If-None-Match precondition), GCS (generation-0 precondition). s3a is
   *  deliberately ABSENT from the static list — its plain create is
   *  check-then-create, so two DRIVERS can both win a version — but S3
   *  itself supports `If-None-Match` puts and Hadoop ≥ 3.4.2 exposes them
   *  through the [[ConditionalCreateCap]] builder option, which the
   *  dispatch below probes per store; `file` is handled separately with a
   *  POSIX hard-link commit that IS atomic cross-process. */
  private val AtomicCreateSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "abfs", "abfss", "gs")

  /** HADOOP-19256 (`Options.CreateFileOptionKeys`): a store declaring this
   *  PATH CAPABILITY performs `createFile(...).must(cap, false)` as a
   *  server-side conditional PUT — S3's `If-None-Match: *` — committed at
   *  `close()`, which throws on a lost race. That IS an atomic exclusive
   *  create, so such stores (S3A with conditional writes enabled, and any
   *  future store adopting the option) commit multi-driver-safe without
   *  the [[AllowNonAtomicConf]] escape hatch. */
  private[write] val ConditionalCreateCap = "fs.option.create.conditional.overwrite"

  private def supportsConditionalCreate(f: FileSystem, target: Path): Boolean =
    try f.hasPathCapability(target, ConditionalCreateCap)
    catch { case _: Exception => false } // foreign-scheme probe quirks → no

  /** Publish `bytes` at `target` via the store's conditional PUT. The
   *  write happens at close(); a lost race surfaces there and is remapped
   *  to the commit loop's collision type. Unrecognized IO failures
   *  propagate — only a genuine precondition failure may count as "lost
   *  the race" (anything else must not silently retry as if benign). */
  private def conditionalCreate(f: FileSystem, target: Path, bytes: Array[Byte]): Unit =
    try {
      val out = f.createFile(target).must(ConditionalCreateCap, false).build()
      out.write(bytes)
      out.close()
    } catch {
      case e: FileAlreadyExistsException => throw e
      // s3a's failed conditional write surfaces as RemoteFileChangedException
      // — the one class that MEANS "precondition failed". Match it by name
      // (no compile-time aws/s3a dep); for any other store's IOException,
      // only count a precondition-looking MESSAGE as a lost race when it
      // names the commit target — a 412 from an intermediate proxy or a
      // nested "already exists" about a DIFFERENT path is a real failure
      // and must propagate, not be silently remapped to a version collision
      case e: java.io.IOException
          if e.getClass.getName.contains("RemoteFileChanged") ||
            Option(e.getMessage).exists(m =>
              (m.contains("PreconditionFailed") || m.contains("412") ||
                m.contains("already exists")) &&
                (m.contains(target.toString) || m.contains(target.getName))) =>
        throw new FileAlreadyExistsException(target.toString)
    }

  /** In-JVM commit mutex per table root: serializes the common case of two
   *  committing jobs in ONE driver, so the filesystem race path below only
   *  arbitrates genuinely concurrent drivers. */
  private val commitLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val VFile = """v(\d{12})\.txt""".r

  private def vPath(root: Path, version: Long): Path =
    new Path(root, f"$Dir/v$version%012d.txt")

  private val TagName = "[a-z0-9][a-z0-9._-]{0,63}".r
  private def tagPath(root: Path, name: String): Path =
    new Path(root, s"$Dir/tag-$name.txt")

  /** Named pin into the log (`snapshotVersion=tag:<name>` resolves it;
   *  [[vacuum]] never reclaims a tagged version) — the reproducibility
   *  handle for "the exact corpus this model trained on". Tags are
   *  immutable: re-pointing requires [[deleteTag]] first, so a name can
   *  never silently move under a reader. Names are lowercase
   *  `[a-z0-9._-]`, max 64 chars (pin strings are case-folded). */
  def tag(spark: SparkSession, dir: String, name: String, version: Long): Unit = {
    require(TagName.matches(name), s"invalid tag name '$name' (want [a-z0-9._-], 1-64)")
    val (f, root) = fs(spark, dir)
    require(f.exists(vPath(root, version)),
      s"cannot tag $dir@v$version: no such committed version")
    val p = tagPath(root, name)
    if (f.exists(p)) throw new IllegalStateException(
      s"tag '$name' already exists on $dir; deleteTag it first to re-point")
    val out = f.create(p, false)
    try out.write(version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def deleteTag(spark: SparkSession, dir: String, name: String): Boolean = {
    val (f, root) = fs(spark, dir)
    f.delete(tagPath(root, name), false)
  }

  /** All tags, name → version, name-sorted. */
  def tags(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val (f, root) = fs(spark, dir)
    val logDir = new Path(root, Dir)
    if (!f.exists(logDir)) return Nil
    f.listStatus(logDir).map(_.getPath.getName).collect {
      case n if n.startsWith("tag-") && n.endsWith(".txt") =>
        val p = new Path(logDir, n)
        val in = f.open(p)
        val v = try {
          val len = f.getFileStatus(p).getLen.toInt
          val bytes = new Array[Byte](len)
          in.readFully(0, bytes)
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        } finally in.close()
        n.stripPrefix("tag-").stripSuffix(".txt") -> v
    }.toSeq.sortBy(_._1)
  }

  /** The version a tag names, or a loud refusal listing what exists —
   *  the public face of tag resolution (clone-by-tag, tooling). */
  def tagVersion(spark: SparkSession, dir: String, name: String): Long =
    resolveTag(spark, dir, name)

  /** Parse a user-facing timestamp argument (CDC starting/ending,
   *  RESTORE TO TIMESTAMP) to epoch millis IN THE SESSION TIME ZONE —
   *  Spark's own literal parser, so `spark.sql.session.timeZone`
   *  governs exactly like every other timestamp the engine touches
   *  (JVM-default parsing would silently shift the resolved version). */
  def parseTimestampMillis(spark: SparkSession, s: String): Long = {
    val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
    org.apache.spark.sql.catalyst.util.DateTimeUtils
      .stringToTimestamp(org.apache.spark.unsafe.types.UTF8String.fromString(s), zone)
      .map(_ / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse timestamp '$s' (want e.g. '2024-06-01 12:00:00', " +
          "session-zone semantics)"))
  }

  private def resolveTag(spark: SparkSession, dir: String, name: String): Long =
    tags(spark, dir).collectFirst { case (n, v) if n == name => v }
      .getOrElse(throw new IllegalArgumentException(
        s"snapshotVersion=tag:$name but $dir has no such tag " +
          s"(existing: ${tags(spark, dir).map(_._1).mkString(", ")})"))

  private def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    (f, f.makeQualified(p))
  }

  /** Highest committed version, None for a table with no snapshot log. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val (f, root) = fs(spark, dir)
    latest(f, root)
  }

  private def latest(f: FileSystem, root: Path): Option[Long] = {
    val d = new Path(root, Dir)
    if (!f.exists(d)) return None
    val vs = f.listStatus(d).iterator.flatMap(s => s.getPath.getName match {
      case VFile(n) => Some(n.toLong)
      case _ => None
    }).toSeq
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The absolute data-file paths of one committed version.
   *  Throws for an unknown version — a typo'd pin must not fall back to
   *  "whatever is on disk". */
  def files(spark: SparkSession, dir: String, version: Long): Seq[String] = {
    val (f, root) = fs(spark, dir)
    readFiles(f, root, version)
  }

  private def readText(f: FileSystem, root: Path, version: Long): String = {
    val p = vPath(root, version)
    if (!f.exists(p))
      throw new IllegalArgumentException(
        s"snapshot v$version does not exist under $root (latest: " +
          s"${latest(f, root).map(_.toString).getOrElse("none")}) — " +
          "it was never committed or was vacuumed past retention")
    val in = f.open(p)
    val text = try {
      val len = f.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      in.readFully(0, bytes)
      new String(bytes, StandardCharsets.UTF_8)
    } finally in.close()
    require(text.startsWith(Magic + "\t"),
      s"corrupt snapshot file $p: missing header")
    text
  }

  /** Body lines starting with this tab-delimited marker bind a DATA file
   *  to its deletion vector for the version: `dv<TAB><rel base><TAB><rel
   *  dv>`. All readers in this object skip/parse them positionally; plain
   *  lines remain the data-file set, so pre-DV snapshots parse unchanged. */
  private val DvMarker = "dv\t"

  /** Body lines binding a streaming writer's progress to the version:
   *  `txn<TAB><appId><TAB><epochId>` — the Delta `txn` action shape. The
   *  latest epoch per appId INHERITS across every commit (appends, DML,
   *  rewrites), so a replayed micro-batch can always see whether it
   *  already landed, however much maintenance ran in between. */
  private val TxnMarker = "txn\t"

  /** Body lines referencing a commit's CHANGE-DATA files:
   *  `cdc<TAB><rel path>` — row-level events (delete preimages + insert
   *  postimages, `_change_type`-tagged) a copy-on-write DML recorded for
   *  the rewrite it committed (the Delta `_change_data` design). Unlike
   *  [[TxnMarker]] lines these are PER-COMMIT, never inherited: they
   *  describe exactly one version's row-level delta, and the change feed
   *  delivers them INSTEAD of refusing at that rewrite. */
  private val CdcMarker = "cdc\t"

  /** Sidecar dir for CDC files (underscore prefix keeps it invisible to
   *  data listings, like [[DeletionVectors.Dir]]). */
  val CdcDir = "_graft_cdc"

  /** Body lines binding a data file to its BASE ROW ID (row tracking —
   *  the Delta `baseRowId` design): `rid<TAB><rel file><TAB><base>`.
   *  A row's stable id is `coalesce(stored _graft_row_id column,
   *  base + physical position)`; bases are allocated from [[RidHwmMarker]]
   *  so no id is ever reused, and rewrites MATERIALIZE carried rows' ids
   *  into the replacement files. Bindings INHERIT like DV lines: every
   *  version carries the full live map. */
  private val RidMarker = "rid\t"

  /** `ridhwm<TAB><next free row id>` — the allocation high-water mark.
   *  Its PRESENCE is what marks a table row-tracked: the first commit of
   *  a `rowTracking 'true'` table writes it, and every later commit (any
   *  path) sees it in the parent and keeps allocating. Monotone across
   *  restore (max of parent and restored marks). */
  private val RidHwmMarker = "ridhwm\t"

  /** `idhwm<TAB><column><TAB><next value>` — IDENTITY column allocation
   *  marks (one line per identity column). Inherit like txn markers;
   *  the allocating commit GUARDS its expected base mark and loses the
   *  race loudly ([[ConcurrentCommitException]]) when a concurrent
   *  writer consumed the same value range — identity values are baked
   *  into data files, so a silent retry would duplicate them. */
  private val IdHwmMarker = "idhwm\t"

  /** Every non-data body line this format knows. */
  private def isMarkerLine(l: String): Boolean =
    l.startsWith(DvMarker) || l.startsWith(TxnMarker) ||
      l.startsWith(CdcMarker) || l.startsWith(RidMarker) ||
      l.startsWith(RidHwmMarker) || l.startsWith(IdHwmMarker)

  private def readFiles(f: FileSystem, root: Path, version: Long): Seq[String] =
    parseFiles(readText(f, root, version), root)

  private def parseFiles(text: String, root: Path): Seq[String] =
    text.linesIterator.drop(1)
      .filter(l => l.nonEmpty && !isMarkerLine(l))
      .map(rel => new Path(root, rel).toString).toSeq

  private def readRids(f: FileSystem, root: Path, version: Long): Map[String, Long] =
    parseRids(readText(f, root, version), root)

  private def parseRids(text: String, root: Path): Map[String, Long] =
    text.linesIterator.drop(1)
      .filter(_.startsWith(RidMarker))
      .map { l =>
        val cols = l.split('\t')
        require(cols.length == 3, s"corrupt rid line: $l")
        new Path(root, cols(1)).toString -> cols(2).toLong
      }.toMap

  private def readRidHwm(f: FileSystem, root: Path, version: Long): Option[Long] =
    parseRidHwm(readText(f, root, version))

  private def parseRidHwm(text: String): Option[Long] =
    text.linesIterator.drop(1)
      .find(_.startsWith(RidHwmMarker))
      .map { l =>
        val cols = l.split('\t')
        require(cols.length == 2, s"corrupt ridhwm line: $l")
        cols(1).toLong
      }

  private def readIdHwms(f: FileSystem, root: Path, version: Long): Map[String, Long] =
    parseIdHwms(readText(f, root, version))

  private def parseIdHwms(text: String): Map[String, Long] =
    text.linesIterator.drop(1)
      .filter(_.startsWith(IdHwmMarker))
      .map { l =>
        val cols = l.split('\t')
        require(cols.length == 3, s"corrupt idhwm line: $l")
        cols(1) -> cols(2).toLong
      }.toMap

  /** IDENTITY allocation marks (column → next value) at `version` —
   *  empty for tables without identity columns or before their first
   *  allocating write. */
  def identityHighWaterMarks(
      spark: SparkSession, dir: String, version: Long): Map[String, Long] = {
    val (f, root) = fs(spark, dir)
    if (version == 0L) Map.empty else readIdHwms(f, root, version)
  }

  /** (data file → base row id) bindings of one committed version. Empty
   *  for tables without row tracking. */
  def rowIdBindings(spark: SparkSession, dir: String, version: Long): Map[String, Long] = {
    val (f, root) = fs(spark, dir)
    if (version == 0L) Map.empty else readRids(f, root, version)
  }

  /** The next unallocated row id at `version` — `Some` iff the table is
   *  row-tracked (the first commit wrote the mark). */
  def rowIdHighWaterMark(spark: SparkSession, dir: String, version: Long): Option[Long] = {
    val (f, root) = fs(spark, dir)
    if (version == 0L) None else readRidHwm(f, root, version)
  }

  /** Whether the table's log head carries row tracking. */
  def rowTracked(spark: SparkSession, dir: String): Boolean = {
    val (f, root) = fs(spark, dir)
    latest(f, root).exists(v => readRidHwm(f, root, v).isDefined)
  }

  private def readCdcs(f: FileSystem, root: Path, version: Long): Seq[String] =
    readText(f, root, version).linesIterator.drop(1)
      .filter(_.startsWith(CdcMarker))
      .map(l => new Path(root, l.substring(CdcMarker.length)).toString).toSeq

  /** The change-data files a version's commit recorded (empty for
   *  appends, delta commits, and CDC-less rewrites). */
  def changeDataFiles(spark: SparkSession, dir: String, version: Long): Seq[String] = {
    val (f, root) = fs(spark, dir)
    readCdcs(f, root, version)
  }

  private def readTxns(f: FileSystem, root: Path, version: Long): Map[String, Long] =
    parseTxns(readText(f, root, version))

  private def parseTxns(text: String): Map[String, Long] =
    text.linesIterator.drop(1)
      .filter(_.startsWith(TxnMarker))
      .map { l =>
        val cols = l.split('\t')
        require(cols.length == 3, s"corrupt txn line: $l")
        cols(1) -> cols(2).toLong
      }.toMap

  /** The highest epoch `appId` has committed to this table, per the HEAD
   *  version — the streaming sink's replay guard ([[commitAppend]]'s
   *  `txn`). None = no log or no batch from this writer yet. */
  def streamTxn(spark: SparkSession, dir: String, appId: String): Option[Long] = {
    val (f, root) = fs(spark, dir)
    latest(f, root).flatMap(v => readTxns(f, root, v).get(appId))
  }

  private def readDvs(f: FileSystem, root: Path, version: Long): Map[String, String] =
    parseDvs(readText(f, root, version), root)

  private def parseDvs(text: String, root: Path): Map[String, String] =
    text.linesIterator.drop(1)
      .filter(_.startsWith(DvMarker))
      .map { l =>
        val cols = l.split('\t')
        require(cols.length == 3, s"corrupt dv line: $l")
        new Path(root, cols(1)).toString -> new Path(root, cols(2)).toString
      }.toMap

  /** [[readDvs]] tolerating version 0 (the empty pre-first-commit table). */
  private def dvsAt(f: FileSystem, root: Path, version: Long): Map[String, String] =
    if (version == 0L) Map.empty else readDvs(f, root, version)

  /** (data file → deletion-vector file) bindings of one committed version
   *  — empty for versions committed before any merge-on-read DML. */
  def deletionVectors(spark: SparkSession, dir: String, version: Long)
      : Map[String, String] = {
    val (f, root) = fs(spark, dir)
    readDvs(f, root, version)
  }

  /** The DV bindings a scan must apply, resolved the same way
   *  [[resolveListing]] resolves its file set: explicit pin → that
   *  version's bindings; no pin → latest snapshot's (none without a log).
   *  `snapshotVersion=listing` also applies the LATEST bindings — listing
   *  mode exists to see out-of-band FILES, not to resurrect deleted rows. */
  /** The ONE pin grammar (listing/latest/asof:<ms>/tag:<name>/<number>)
   *  behind every scan-side resolution — dvsForPin, ridsForPin and
   *  filterListing all call this, so a new spelling (or a trim/case fix)
   *  cannot desynchronize which version a scan's files, DVs and row-id
   *  bindings resolve to. None = "listing"/"latest" on a log-less table. */
  private def resolvePin(spark: SparkSession, dir: String,
      f: FileSystem, root: Path, pin: Option[String]): Option[Long] =
    pin.map(_.trim.toLowerCase) match {
      case Some("listing") | Some("latest") | None => latest(f, root)
      case Some(asof) if asof.startsWith("asof:") =>
        Some(versionAsOf(spark, dir, asof.stripPrefix("asof:").trim.toLong))
      case Some(t) if t.startsWith("tag:") =>
        Some(resolveTag(spark, dir, t.stripPrefix("tag:").trim))
      case Some(n) => Some(n.toLong)
    }

  def dvsForPin(spark: SparkSession, dir: String, pin: Option[String])
      : Map[String, String] = {
    val (f, root) = fs(spark, dir)
    resolvePin(spark, dir, f, root, pin)
      .map(readDvs(f, root, _)).getOrElse(Map.empty)
  }

  /** [[rowIdBindings]] resolved through the same pin grammar as
   *  [[dvsForPin]] (listing/latest/asof:/tag:/version) — the scan-side
   *  lookup. Empty map = not a row-tracked table (or no log). */
  def ridsForPin(spark: SparkSession, dir: String, pin: Option[String])
      : Map[String, Long] = {
    val (f, root) = fs(spark, dir)
    resolvePin(spark, dir, f, root, pin)
      .map(readRids(f, root, _)).getOrElse(Map.empty)
  }

  /** Commit wall-clock (epoch millis) recorded in a version's header — the
   *  age [[vacuum]]'s `keepCommittedWithinMs` retains by. */
  def commitTimeMillis(spark: SparkSession, dir: String, version: Long): Long = {
    val (f, root) = fs(spark, dir)
    headerTime(f, root, version)
  }

  /** First line only — vacuum's age filter, versionAsOf, and history call
   *  this per retained version, and a version file can list 100k+ data
   *  files; decoding megabytes to parse one header field would make every
   *  metadata query O(total log bytes). */
  private def headerLine(f: FileSystem, root: Path, version: Long): String = {
    val p = vPath(root, version)
    if (!f.exists(p))
      throw new IllegalArgumentException(
        s"snapshot v$version does not exist under $root (latest: " +
          s"${latest(f, root).map(_.toString).getOrElse("none")}) — " +
          "it was never committed or was vacuumed past retention")
    val in = f.open(p)
    try {
      val buf = new Array[Byte](4096) // headers are tens of bytes
      // fill until newline/EOF/full — a single read() may return a short
      // packet (object-store streams), and accepting it could hand a
      // TRUNCATED header field downstream: a commit timestamp cut to its
      // leading digits parses as epoch-1970, which vacuum's age filter
      // would read as "ancient" and reclaim a version inside retention
      var n = 0
      var done = false
      while (!done && n < buf.length) {
        val r = in.read(buf, n, buf.length - n)
        if (r < 0) done = true
        else {
          val seen = (n until n + r).exists(i => buf(i) == '\n')
          n += r
          done = seen
        }
      }
      val upto = (0 until n).find(i => buf(i) == '\n').getOrElse(n)
      require(upto < n || n < buf.length,
        s"corrupt snapshot file $p: no header newline in the first ${buf.length} bytes")
      val line = new String(buf, 0, upto, StandardCharsets.UTF_8)
      require(line.startsWith(Magic + "\t"),
        s"corrupt snapshot file $p: missing header")
      line
    } finally in.close()
  }

  private def headerTime(f: FileSystem, root: Path, version: Long): Long =
    headerLine(f, root, version).split('\t')(3).toLong

  /** True when version `v` was committed as a LAYOUT-ONLY rewrite
   *  (OPTIMIZE bin-packing): bytes moved, logical rows identical — change
   *  capture skips it. Pre-marker commits (5-column header) are never
   *  layout-only. */
  private def isLayoutOnly(f: FileSystem, root: Path, version: Long): Boolean = {
    val cols = headerLine(f, root, version).split('\t')
    cols.length > 5 && cols(5) == "layout"
  }

  /** "fold" marks a rewrite that preserves the table's RESOLVED state (the
    * compaction LWW fold: multi-version rows collapse, tombstones/DVs
    * materialize, but every key resolves to the same row before and
    * after). Raw-row change capture still refuses to cross it (the raw
    * appended versions DID change); the resolved-state diff
    * ([[diffCandidateFiles]]) may skip it. */
  private def isFold(f: FileSystem, root: Path, version: Long): Boolean = {
    val cols = headerLine(f, root, version).split('\t')
    cols.length > 5 && cols(5) == "fold"
  }

  /** Append-commit: next version = parent's files ∪ `added`; DV bindings
   *  inherit unchanged (appends touch no existing file). Retries the
   *  optimistic create against concurrent committers. Returns the committed
   *  version. */
  def commitAppend(spark: SparkSession, dir: String, added: Seq[String]): Long =
    commitAppend(spark, dir, added, None)

  /** Append-commit carrying a streaming-writer progress marker: the
   *  committed version records `txn appId epochId` (replacing the app's
   *  previous marker — see [[TxnMarker]]), so a replayed micro-batch
   *  checks [[streamTxn]] and skips instead of duplicating its rows. */
  def commitAppend(
      spark: SparkSession, dir: String, added: Seq[String],
      txn: Option[(String, Long)],
      rowTracking: Boolean = false,
      idUpdate: Map[String, (Long, Long)] = Map.empty,
      expectEmpty: Boolean = false): Long = {
    txn.foreach { case (appId, _) =>
      require(appId.nonEmpty && !appId.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"txn appId must be non-empty and tab/newline-free, got '$appId'") }
    commitLoop(spark, dir, txnUpdate = txn, rowTracking = rowTracking,
      idUpdate = idUpdate, expectEmpty = expectEmpty) { case (base, dvs) =>
      (base ++ added.filterNot(base.toSet), dvs)
    }
  }

  /** Delta-commit (merge-on-read DML): next version = parent's files ∪
   *  `added` (re-inserted UPDATE rows), with `dvUpdates` REPLACING the
   *  parent's binding for each touched carrier (the new DV already unions
   *  the old one — [[DeletionVectors.union]]). `expectedParent` carries
   *  the same optimistic-concurrency contract as [[commitRewrite]]: DV
   *  positions are only sound against the exact file state they were
   *  computed from. */
  def commitDeltas(
      spark: SparkSession,
      dir: String,
      dvUpdates: Map[String, String],
      added: Seq[String],
      expectedParent: Option[Long]): Long = {
    // qualify up front so carrier validation compares one path spelling
    val (f, _) = fs(spark, dir)
    def q(p: String): String = f.makeQualified(new Path(p)).toString
    val qDv = dvUpdates.map { case (b, d) => q(b) -> q(d) }
    val qAdded = added.map(q)
    commitLoop(spark, dir, expectedParent) { case (base, dvs) =>
      val files = base ++ qAdded.filterNot(base.toSet)
      DeletionVectors.validateCarriers(qDv, files.toSet)
      (files, dvs ++ qDv)
    }
  }

  /** Rewrite-commit: next version's file set is exactly `fileSet`
   *  (compaction / logical overwrite — replaced files stay on disk for
   *  older snapshots until [[vacuum]]).
   *
   *  `expectedParent` is the optimistic-concurrency guard every rewrite
   *  SHOULD pass (Delta's conflict-detection shape): the version whose
   *  state the rewrite was computed FROM. A rewrite is only sound against
   *  that exact parent — if a concurrent append committed in between, a
   *  blind rewrite would publish a file set that silently DROPS the
   *  appended files from the log (and a later vacuum would delete them:
   *  data loss, not just staleness). With the guard, the late rewrite
   *  fails loudly and the caller recomputes against the new head. Omitted
   *  = last-writer-wins (single-writer deployments only). */
  def commitRewrite(
      spark: SparkSession,
      dir: String,
      fileSet: Seq[String],
      expectedParent: Option[Long] = None,
      layoutOnly: Boolean = false,
      dvOverride: Option[Map[String, String]] = None,
      cdcFiles: Seq[String] = Nil,
      ridOverride: Option[(Map[String, Long], Long)] = None,
      idUpdate: Map[String, (Long, Long)] = Map.empty,
      expectEmpty: Boolean = false,
      fold: Boolean = false): Long =
    commitLoop(spark, dir, expectedParent, layoutOnly, cdcAdds = cdcFiles,
      ridOverride = ridOverride, idUpdate = idUpdate,
      expectEmpty = expectEmpty, fold = fold) { case (_, dvs) =>
      // DV bindings survive for KEPT files and drop with replaced ones —
      // sound because every rewrite path reads its inputs with DVs applied
      // ([[DeletionVectors.applyToRead]] / the DSv2 DV readers), so the
      // replacement files have the deletions materialized. `dvOverride`
      // (restore) installs an explicit historical binding set instead.
      val kept = fileSet.toSet
      (fileSet, dvOverride.getOrElse(dvs.filter { case (base, _) => kept(base) }))
    }

  /** Thrown when [[commitRewrite]]'s `expectedParent` no longer heads the
   *  log — a concurrent commit landed after the rewrite's source state was
   *  read. The rewrite must be recomputed from the current head. */
  class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  /** The identity-mark flavor of a lost commit race: the caller can retry
   *  in-engine by re-reading the mark and re-assigning (see the identity
   *  write loop in GraftDataSource) — a TYPED subclass so the retry match
   *  never silently decays if the message wording changes. */
  final class IdentityAllocationRaceException(msg: String)
    extends ConcurrentCommitException(msg)

  private def commitLoop(
      spark: SparkSession, dir: String,
      expectedParent: Option[Long] = None,
      layoutOnly: Boolean = false,
      txnUpdate: Option[(String, Long)] = None,
      cdcAdds: Seq[String] = Nil,
      rowTracking: Boolean = false,
      ridOverride: Option[(Map[String, Long], Long)] = None,
      idUpdate: Map[String, (Long, Long)] = Map.empty,
      expectEmpty: Boolean = false,
      fold: Boolean = false)(
      next: (Seq[String], Map[String, String]) => (Seq[String], Map[String, String]))
      : Long = {
    val (f, root) = fs(spark, dir)
    val allowUnsafe =
      spark.conf.getOption(AllowNonAtomicConf).exists(_.trim.toBoolean)
    val lock = commitLocks.computeIfAbsent(root.toString, _ => new Object)
    lock.synchronized {
      commitLoopLocked(f, root, dir, allowUnsafe, expectedParent, layoutOnly,
        txnUpdate, cdcAdds, rowTracking, ridOverride, idUpdate, expectEmpty,
        fold)(next)
    }
  }

  /** Physical row counts (deleted positions included — base-id allocation
   *  is positional) of freshly-committed files, from their footers only;
   *  bounded-parallel like the OPTIMIZE candidate probe. */
  private def footerRowCounts(f: FileSystem, paths: Seq[String]): Map[String, Long] = {
    if (paths.isEmpty) return Map.empty
    def rows(p: String): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(p), f.getConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(16, paths.length))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = paths.map(p => new java.util.concurrent.Callable[(String, Long)] {
        override def call(): (String, Long) = p -> rows(p)
      })
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
    } finally pool.shutdown()
  }

  /** Exclusive create of one version file — THE commit point. Dispatch by
   *  store class so losing a race is always loud, never a double-commit:
   *   - `file`: POSIX `link(2)` publish — the bytes are fully written to a
   *     temp file first, then hard-linked to the version name; link fails
   *     EEXIST atomically (RawLocalFileSystem's `create(overwrite=false)`
   *     is check-then-create and can double-commit across processes).
   *     Readers never observe a half-written version file.
   *   - [[AtomicCreateSchemes]]: the store's own atomic exclusive create.
   *   - anything else (s3a …): refused unless [[AllowNonAtomicConf]] is
   *     set — the caller must either bring a conditional-put store or
   *     explicitly accept single-driver-only semantics. */
  private[write] def createExclusive(
      f: FileSystem, target: Path, bytes: Array[Byte], allowUnsafe: Boolean): Unit = {
    val scheme = Option(target.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val nioTarget = java.nio.file.Paths.get(target.toUri)
      java.nio.file.Files.createDirectories(nioTarget.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        nioTarget.getParent, ".commit-", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        try java.nio.file.Files.createLink(nioTarget, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(target.toString)
          case _: UnsupportedOperationException =>
            // no hard links on this mount: O_CREAT|O_EXCL is still atomic
            java.nio.file.Files.write(nioTarget, bytes,
              java.nio.file.StandardOpenOption.CREATE_NEW)
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(target.toString)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else if (AtomicCreateSchemes.contains(scheme) || allowUnsafe) {
      val out = f.create(target, false)
      try out.write(bytes) finally out.close()
    } else if (supportsConditionalCreate(f, target)) {
      // s3a (Hadoop ≥ 3.4.2 conditional writes) and future adopters:
      // If-None-Match put — a real multi-driver guarantee, no escape hatch
      conditionalCreate(f, target, bytes)
    } else {
      throw new UnsupportedOperationException(
        s"snapshot commit needs atomic exclusive create, which scheme '$scheme' " +
          "does not guarantee (check-then-create lets two drivers win the same " +
          "version, silently losing files from the log). Commit on a conditional-" +
          s"put store (${AtomicCreateSchemes.mkString("/")}, or any store " +
          s"declaring the '$ConditionalCreateCap' capability — s3a with Hadoop " +
          "3.4.2+ conditional writes), or accept single-driver-only semantics " +
          s"explicitly with spark.conf.set(\"$AllowNonAtomicConf\", \"true\")")
    }
  }

  private def commitLoopLocked(
      f: FileSystem, root: Path, dir: String, allowUnsafe: Boolean,
      expectedParent: Option[Long] = None,
      layoutOnly: Boolean = false,
      txnUpdate: Option[(String, Long)] = None,
      cdcAdds: Seq[String] = Nil,
      rowTracking: Boolean = false,
      ridOverride: Option[(Map[String, Long], Long)] = None,
      idUpdate: Map[String, (Long, Long)] = Map.empty,
      expectEmpty: Boolean = false,
      fold: Boolean = false)(
      next: (Seq[String], Map[String, String]) => (Seq[String], Map[String, String]))
      : Long = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val parent = latest(f, root)
      // "expect NO parent" (shallow clone's first commit): a concurrent
      // first commit must fail THIS caller loudly, never be silently
      // superseded by a retried clone landing as its child
      if (expectEmpty && parent.isDefined)
        throw new ConcurrentCommitException(
          s"commit on $dir expected an EMPTY log but found v${parent.get} — " +
            "a concurrent writer created the table first")
      expectedParent.foreach { want =>
        if (!parent.contains(want))
          throw new ConcurrentCommitException(
            s"rewrite of $dir was computed against v$want but the log head is " +
              s"now v${parent.getOrElse(0L)} — a concurrent commit landed; " +
              "recompute the rewrite from the current head (committing anyway " +
              "would drop the concurrent files from the log)")
      }
      // ONE parent read per attempt — files, DVs, txn markers, rid
      // bindings and both high-water-mark families all parse from it
      // (version files are the hot-path IO on high-ingest tables)
      val ptext = parent.map(readText(f, root, _))
      val base = ptext.map(parseFiles(_, root)).getOrElse(Nil)
      val baseDvs = ptext.map(parseDvs(_, root)).getOrElse(Map.empty[String, String])
      val version = parent.getOrElse(0L) + 1
      val body = new StringBuilder()
        .append(Magic).append('\t').append(1).append('\t').append(version)
        .append('\t').append(System.currentTimeMillis())
        .append('\t').append(parent.map(_.toString).getOrElse("-"))
        // 6th header column: "layout" marks a rewrite that repacked bytes
        // without changing logical rows (OPTIMIZE) — change capture may
        // skip it; "fold" marks a resolved-state-preserving rewrite (the
        // compaction LWW fold — raw rows changed, resolved state did not);
        // "-" for every logical commit. Readers index columns positionally,
        // so appending stays backward-compatible.
        .append('\t')
        .append(if (layoutOnly) "layout" else if (fold) "fold" else "-")
        .append('\n')
      // qualify before relativizing: callers hand in paths from different
      // producers (listings, inputFiles) whose URI spellings differ
      // (file:/ vs file:///) for the same file
      val (nextFiles, nextDvs) = next(base, baseDvs)
      def rel(p: String): String = relativize(root, f.makeQualified(new Path(p)).toString)
      nextFiles.map(rel).distinct.sorted.foreach(r => body.append(r).append('\n'))
      nextDvs.toSeq.map { case (b, d) => (rel(b), rel(d)) }.sorted
        .foreach { case (b, d) =>
          body.append(DvMarker).append(b).append('\t').append(d).append('\n')
        }
      // streaming-progress markers INHERIT across every commit (the update,
      // if any, replaces its app's entry): maintenance between micro-batches
      // must never erase a writer's replay guard
      val baseTxns = ptext.map(parseTxns).getOrElse(Map.empty[String, Long])
      (baseTxns ++ txnUpdate).toSeq.sorted.foreach { case (a, e) =>
        body.append(TxnMarker).append(a).append('\t').append(e).append('\n')
      }
      // IDENTITY allocation marks inherit; the allocating commit guards
      // the mark it allocated FROM — identity values are baked into the
      // just-written files, so a lost race must fail loudly (the caller
      // re-runs the whole write), never silently re-commit the same range
      val baseIds = ptext.map(parseIdHwms).getOrElse(Map.empty[String, Long])
      idUpdate.foreach { case (c, (expectedBase, _)) =>
        val cur = baseIds.getOrElse(c, expectedBase) // absent = first allocation
        if (cur != expectedBase)
          throw new IdentityAllocationRaceException(
            s"identity allocation on $dir column '$c' lost a race: allocated from " +
              s"next=$expectedBase but the log now records next=$cur — the written " +
              "values may collide; re-run the write against the current head")
      }
      (baseIds ++ idUpdate.map { case (c, (_, n)) => c -> n }).toSeq.sorted
        .foreach { case (c, n) =>
          body.append(IdHwmMarker).append(c).append('\t').append(n).append('\n')
        }
      // change-data references are PER-COMMIT: exactly this version's
      // row-level delta, never inherited
      cdcAdds.map(rel).distinct.sorted.foreach { r =>
        body.append(CdcMarker).append(r).append('\n')
      }
      // row tracking: bindings for live files inherit; files NEW to the
      // log get bases allocated from the high-water mark (footer row
      // counts of just-written files — O(added) cheap probes), which then
      // bumps past them so no id is ever reused. Self-perpetuating: the
      // parent's mark keeps every later commit path allocating; restore
      // passes the historical bindings with a monotone mark.
      val baseRids = ptext.map(parseRids(_, root)).getOrElse(Map.empty[String, Long])
      val baseHwm = ptext.flatMap(parseRidHwm)
      if (baseHwm.isDefined || rowTracking || ridOverride.isDefined) {
        val qFiles = nextFiles.map(p => f.makeQualified(new Path(p)).toString).distinct
        val (seedRids, seedHwm) = ridOverride match {
          case Some((m, h)) => (m, math.max(h, baseHwm.getOrElse(0L)))
          case None => (baseRids, baseHwm.getOrElse(0L))
        }
        val fresh = qFiles.filterNot(seedRids.contains).sorted
        val counts = footerRowCounts(f, fresh)
        var hwm = seedHwm
        val assigned = fresh.map { p => val b = hwm; hwm += counts(p); p -> b }
        val live = qFiles.toSet
        val rids = seedRids.filter { case (p, _) => live(p) } ++ assigned
        rids.toSeq.map { case (p, b) => (rel(p), b) }.sorted.foreach { case (r, b) =>
          body.append(RidMarker).append(r).append('\t').append(b).append('\n')
        }
        body.append(RidHwmMarker).append(hwm).append('\n')
      }
      try {
        // exclusive create IS the commit: exactly one writer wins a version
        createExclusive(f, vPath(root, version),
          body.toString.getBytes(StandardCharsets.UTF_8), allowUnsafe)
        return version
      } catch {
        // both collision shapes fall through to the loop exit on the last
        // attempt, so exhaustion always surfaces as the diagnostic below
        // rather than a raw store exception. The message heuristic is
        // scoped to THIS version file (the conditionalCreate discipline):
        // an "already exists" about a different path — a nested failure
        // creating an intermediate dir, another object in a store error —
        // is a real failure and must propagate, not be retried 20 times
        // into the misleading "runaway committer" diagnostic
        case _: FileAlreadyExistsException => () // lost the race — re-read, retry
        case e: java.io.IOException
            if Option(e.getMessage).exists(m => m.contains("already exists") &&
              (m.contains(vPath(root, version).toString) ||
                m.contains(vPath(root, version).getName))) => ()
      }
    }
    throw new IllegalStateException(
      s"snapshot commit on $dir lost $MaxCommitAttempts consecutive races — " +
        "a runaway committer is monopolizing the log")
  }

  /**
   * Reconcile physical files to the retained log suffix: keep the last
   * `keepLast` snapshots, delete (a) older snapshot files and (b) data
   * files referenced ONLY by those dropped snapshots. Files never
   * referenced by any snapshot (out-of-band writes) are untouched — vacuum
   * must not eat data it was never told about. After a vacuum following a
   * [[commitRewrite]], the live listing equals the latest snapshot again,
   * so default (listing-driven) reads and snapshot reads agree.
   *
   * `keepCommittedWithinMs > 0` ADDITIONALLY retains every snapshot
   * committed within that wall-clock window, regardless of count: a
   * count-only policy exposes pinned readers to the COMMIT RATE (a busy
   * table can burn through `keepLast` versions while one long job is still
   * mid-read), while an age bound turns the exposure into a wall-time
   * guarantee — "any read that finishes within N hours of its pin is
   * safe". Returns the deleted data-file paths.
   */
  def vacuum(
      spark: SparkSession,
      dir: String,
      keepLast: Int,
      keepCommittedWithinMs: Long = 0L,
      dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "vacuum must retain at least the latest snapshot")
    val (f, root) = fs(spark, dir)
    val last = latest(f, root).getOrElse(return Nil)
    val all = (1L to last).filter(v => f.exists(vPath(root, v)))
    val ageProtected: Long => Boolean =
      if (keepCommittedWithinMs <= 0) _ => false
      else {
        val cutoff = System.currentTimeMillis() - keepCommittedWithinMs
        v => headerTime(f, root, v) >= cutoff
      }
    // tagged versions are pinned by name — count/age policies never
    // reclaim them (delete the tag to release)
    val tagged = tags(spark, dir).map(_._2).toSet
    val (drop, keep) = all.partition(v =>
      v <= last - keepLast && !ageProtected(v) && !tagged.contains(v))
    if (drop.isEmpty) return Nil
    val keptFiles = keep.flatMap(readFiles(f, root, _)).toSet
    // DV and change-data files age out with the snapshots that reference
    // them, same rule as data
    val keptDvs = keep.flatMap(readDvs(f, root, _).values).toSet
    val keptCdcs = keep.flatMap(readCdcs(f, root, _)).toSet
    // out-of-root references (a shallow clone's view of its SOURCE's
    // files) are never deleted — the source owns them; dropping a clone
    // version only forgets the reference
    val doomed = (drop.flatMap(readFiles(f, root, _)).distinct.filterNot(keptFiles) ++
      drop.flatMap(readDvs(f, root, _).values).distinct.filterNot(keptDvs) ++
      drop.flatMap(readCdcs(f, root, _)).distinct.filterNot(keptCdcs))
      .filter(underRoot(root))
    if (dryRun) return doomed // report what WOULD go; touch nothing
    doomed.foreach(p => f.delete(new Path(p), false))
    drop.foreach(v => f.delete(vPath(root, v), false))
    // stale listing signatures would resurrect deleted files from cache
    graft.sources.TokenPruner.invalidateListing(dir)
    doomed
  }

  /**
   * Rollback: commit a NEW version whose live file set is exactly that of
   * `toVersion` — history is never rewritten (the bad versions stay
   * readable under their pins until vacuumed), the table's LATEST simply
   * becomes the old content again. This is the operational undo for a bad
   * batch: at 100 TB, re-deriving yesterday's table is a full-table job,
   * while restore is one metadata commit. Fails loudly if any file of
   * `toVersion` has already been vacuumed (a restore must never resurrect
   * a partial table). Returns the new version number.
   */
  /**
   * SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE`): a
   * metadata-only copy — the clone's v1 references the SOURCE's data
   * files (plus its deletion vectors, row-id bindings/high-water mark
   * and identity marks) by ABSOLUTE path, so cloning a 100 TB table is
   * one small commit with zero data movement. The log format already
   * round-trips out-of-root paths ([[relativize]] leaves them absolute),
   * scan planning admits them with manifest/footer stats
   * ([[filterListing]]), appends land under the clone, DML rewrites
   * materialize affected foreign rows into clone-local generations, and
   * the clone's [[vacuum]] never deletes out-of-root files (the source
   * owns them). The documented trade, same as Delta: vacuuming the
   * SOURCE past the cloned version breaks the clone loudly (missing-file
   * refusals, never silent partial reads).
   */
  def shallowClone(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      version: Option[Long] = None): Long = {
    val (sf, sroot) = fs(spark, sourceDir)
    val head = latest(sf, sroot).getOrElse(throw new IllegalArgumentException(
      s"shallowClone: $sourceDir has no snapshot log — only snapshot-logged " +
        "tables clone (the clone IS a log commit)"))
    val v = version.getOrElse(head)
    require(v >= 1 && sf.exists(vPath(sroot, v)),
      s"shallowClone: version $v of $sourceDir does not exist (vacuumed?)")
    val (tf, troot) = fs(spark, targetDir)
    require(latest(tf, troot).isEmpty,
      s"shallowClone: $targetDir already has a snapshot log")
    val files = readFiles(sf, sroot, v)
    val missing = missingParallel(spark.sessionState.newHadoopConf(), files)
    require(missing.isEmpty,
      s"shallowClone: v$v of $sourceDir references ${missing.length} missing " +
        s"file(s) (first: ${missing.headOption.getOrElse("")})")
    val rids = readRids(sf, sroot, v)
    commitRewrite(spark, targetDir, files,
      dvOverride = Some(readDvs(sf, sroot, v)),
      ridOverride = readRidHwm(sf, sroot, v).map(h => (rids, h)),
      idUpdate = identityHighWaterMarks(spark, sourceDir, v)
        .map { case (c, m) => c -> (m, m) },
      // the emptiness pre-check above is check-then-act; the guard must
      // hold INSIDE the committed attempt or a racing first commit to
      // the target is silently superseded
      expectEmpty = true)
  }

  /**
   * DEEP CLONE (Delta's `CREATE TABLE … CLONE` without SHALLOW): copy the
   * pinned version's data files (and deletion vectors) INTO the target
   * root — a distributed copy job, one task per file — then commit a
   * normal v1 over the local copies. Costs a full data pass where
   * [[shallowClone]] costs one commit, and buys total independence: the
   * source can be vacuumed, rewritten or dropped and the deep clone still
   * reads.
   *
   * Layout is preserved (each file keeps its source-root-relative path, so
   * `graft_p_*` directory keys and generation names survive verbatim);
   * copies are digest-verified against the source manifest's xxhash64
   * where recorded (a silent transport corruption fails the clone, never
   * lands in the log). Row-id bindings, the rid high-water mark and
   * identity marks carry over with paths remapped.
   */
  def deepClone(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      version: Option[Long] = None): Long = {
    val (sf, sroot) = fs(spark, sourceDir)
    val head = latest(sf, sroot).getOrElse(throw new IllegalArgumentException(
      s"deepClone: $sourceDir has no snapshot log — only snapshot-logged " +
        "tables clone (the clone IS a log commit)"))
    val v = version.getOrElse(head)
    require(v >= 1 && sf.exists(vPath(sroot, v)),
      s"deepClone: version $v of $sourceDir does not exist (vacuumed?)")
    val (tf, troot) = fs(spark, targetDir)
    require(latest(tf, troot).isEmpty,
      s"deepClone: $targetDir already has a snapshot log")
    val conf = spark.sessionState.newHadoopConf()
    val files = readFiles(sf, sroot, v)
    val dvs = readDvs(sf, sroot, v)
    val all = (files ++ dvs.values).distinct
    val missing = missingParallel(conf, all)
    require(missing.isEmpty,
      s"deepClone: v$v of $sourceDir references ${missing.length} missing " +
        s"file(s) (first: ${missing.headOption.getOrElse("")})")
    // destination mapping: source-root-relative paths re-root under the
    // target; out-of-root references (the source is itself a shallow
    // clone) flatten to a unique imported name — the deep clone owns
    // EVERY byte it commits, that is the point
    val srcPrefix = sroot.toString.stripSuffix("/") + "/"
    val tgtPrefix = troot.toString.stripSuffix("/")
    def qualify(p: String): String = sf.makeQualified(new Path(p)).toString
    val mapping: Map[String, String] = all.map { p =>
      val q = qualify(p)
      val rel =
        if (q.startsWith(srcPrefix)) q.substring(srcPrefix.length)
        else {
          val h = java.lang.Long.toUnsignedString(
            net.jpountz.xxhash.XXHashFactory.fastestInstance().hash64()
              .hash(q.getBytes(java.nio.charset.StandardCharsets.UTF_8), 0,
                q.getBytes(java.nio.charset.StandardCharsets.UTF_8).length, 0L), 16)
          s"imported-$h-${new Path(q).getName}"
        }
      q -> s"$tgtPrefix/$rel"
    }.toMap
    val copies = mapping.toSeq.sortBy(_._1)
    // a valid version can reference ZERO files (a full-table DELETE): the
    // deep clone is then just the empty v1 commit below — skip the whole
    // copy block, including the manifest read and the broadcasts it feeds
    if (copies.nonEmpty) {
      // expected digests from the source manifest (absent rows copy
      // unverified — pre-digest layouts still deep-clone)
      val expected: Map[String, Long] = Manifest.read(sf, sroot).collect {
        case (p, m) if m.digest.isDefined => qualify(p) -> m.digest.get
      }
      val bc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(conf))
      val expectedBc = spark.sparkContext.broadcast(expected)
      val failures = spark.sparkContext
        .parallelize(copies,
          // one task per file, floored at 64 slices but scaling with the
          // cluster: a flat 64 would under-drive a 1000-executor cluster
          // copying ~100k files
          math.min(copies.length,
            math.max(64, spark.sparkContext.defaultParallelism)))
        .flatMap { case (src, dst) =>
          val c = bc.value.value
          val sp = new Path(src)
          val dp = new Path(dst)
          val dfs = dp.getFileSystem(c)
          Option(dp.getParent).foreach(dfs.mkdirs(_))
          org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(c), sp, dfs, dp,
            false, true, c)
          expectedBc.value.get(src) match {
            case Some(want) =>
              val got = Manifest.digestFile(dfs, dp)
              if (got != want) Some(s"$src -> $dst: digest $got != manifest $want")
              else None
            case None => None
          }
        }.collect()
      if (failures.nonEmpty) {
        // never leave a half-verified copy set behind a failed clone
        copies.foreach { case (_, dst) => tf.delete(new Path(dst), false) }
        throw new IllegalStateException(
          s"deepClone: ${failures.length} copied file(s) failed digest " +
            s"verification (first: ${failures.head})")
      }
    }
    // manifest stats for the fresh local files while their footers are
    // hot, then the normal v1 commit over them
    Manifest.appendFor(spark, targetDir)
    val rids = readRids(sf, sroot, v).map { case (p, b) =>
      mapping.getOrElse(qualify(p), qualify(p)) -> b
    }
    commitRewrite(spark, targetDir, files.map(p => mapping(qualify(p))),
      dvOverride = Some(dvs.map { case (b, d) =>
        mapping(qualify(b)) -> mapping(qualify(d)) }),
      ridOverride = readRidHwm(sf, sroot, v).map(h => (rids, h)),
      idUpdate = identityHighWaterMarks(spark, sourceDir, v)
        .map { case (c, m) => c -> (m, m) },
      expectEmpty = true)
  }

  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val (f, root) = fs(spark, dir)
    // the head we are undoing TO-FROM is the rewrite's concurrency guard:
    // an append landing mid-restore must fail the commit loudly, or its
    // files would vanish from the log and be vacuumed later (data loss)
    val head = latest(f, root)
    val want = readFiles(f, root, toVersion)
    val wantDvs = readDvs(f, root, toVersion)
    val gone = (want ++ wantDvs.values).filterNot(p => f.exists(new Path(p)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"restore to v$toVersion of $dir impossible: ${gone.length} of its " +
          s"${want.length} file(s) were vacuumed or deleted out-of-band " +
          s"(first missing: ${gone.head})")
    // restore re-installs the historical DV bindings too — restoring files
    // without their DVs would resurrect that version's deleted rows — and,
    // on a row-tracked table, the historical BASE ROW IDS (rebinding the
    // restored files fresh would renumber every row). The high-water mark
    // stays monotone (max of then and now): ids minted after toVersion
    // stay burned forever, never reissued.
    val wantRids = readRids(f, root, toVersion)
    val ridOv = readRidHwm(f, root, toVersion).map(h => (wantRids, h))
    val v = commitRewrite(spark, dir, want, expectedParent = head,
      dvOverride = Some(wantDvs), ridOverride = ridOv)
    graft.sources.TokenPruner.invalidateListing(dir)
    v
  }

  /**
   * Timestamp time travel: the highest version committed at or before
   * `tsMillis` (Delta's `TIMESTAMP AS OF` shape, against this log's
   * header commit times). Throws if the table has no snapshot log or no
   * version is that old — "as of before the table existed" must not
   * silently mean "latest".
   */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val (f, root) = fs(spark, dir)
    val last = latest(f, root).getOrElse(throw new IllegalArgumentException(
      s"versionAsOf: $dir has no snapshot log"))
    val retained = (1L to last).filter(v => f.exists(vPath(root, v)))
    val vs = retained.filter(v => headerTime(f, root, v) <= tsMillis)
    if (vs.isEmpty)
      throw new IllegalArgumentException(
        s"versionAsOf: no snapshot of $dir committed at or before $tsMillis " +
          "(earliest retained commit: " +
          retained.headOption.map(v => headerTime(f, root, v).toString)
            .getOrElse("none") + ")")
    vs.max
  }

  /**
   * One row per RETAINED version, oldest first: version, commit wall-clock
   * (epoch millis), parent version (null for the root), file count, and
   * whether the commit was a rewrite (its parent's set is not a subset) —
   * the `DESCRIBE HISTORY` analog, driver-side metadata only (the log is
   * one small file per version; no data IO).
   */
  /** [[history]] as a queryable DataFrame — the `DESCRIBE HISTORY`
   *  surface, with the layout-only flag exposed so operators can tell
   *  repacks from logical rewrites, and the live deletion-vector binding
   *  count so merge-on-read debt (the OPTIMIZE trigger) is visible per
   *  version. Driver-side metadata only. */
  def historyDf(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (f, root) = fs(spark, dir)
    val rows = history(spark, dir).map { case (v, ts, parent, n, rewrite) =>
      (v, new java.sql.Timestamp(ts), parent, n, rewrite, isLayoutOnly(f, root, v),
        readDvs(f, root, v).size)
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "parent", "n_files", "rewrite",
      "layout_only", "n_dvs")
  }

  /** One-row `DESCRIBE DETAIL` analog: the table's CURRENT state at a
   *  glance — snapshot head (null on log-less tables), live file count
   *  and row/byte totals (manifest/footer stats — no data IO), live
   *  deletion-vector bindings and the rows they hide (header-only
   *  probes), and the tag count. The operational dashboard row: `n_dvs`
   *  / `deleted_rows` say when to OPTIMIZE, `n_files` vs `bytes` say
   *  when to bin-pack. */
  def tableDetail(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (f, root) = fs(spark, dir)
    val listed = graft.sources.TokenPruner.listFiles(spark, dir)
    val head = latest(f, root)
    val live = resolveListing(spark, dir, None, listed)
    val dvs = head.map(readDvs(f, root, _)).getOrElse(Map.empty)
    val deletedRows = dvs.values.map(p =>
      DeletionVectors.count(new Path(p).getFileSystem(
        spark.sessionState.newHadoopConf()), p)).sum
    val rows = live.map(_.rows).sum - deletedRows
    import spark.implicits._
    Seq((dir, head, live.length, rows, live.map(_.sizeBytes).sum,
      dvs.size, deletedRows, tags(spark, dir).size))
      .toDF("location", "version", "n_files", "n_rows", "bytes",
        "n_dvs", "deleted_rows", "n_tags")
  }

  def history(spark: SparkSession, dir: String)
      : Seq[(Long, Long, Option[Long], Int, Boolean)] = {
    val (f, root) = fs(spark, dir)
    val last = latest(f, root).getOrElse(return Nil)
    val retained = (1L to last).filter(v => f.exists(vPath(root, v)))
    retained.map { v =>
      val text = readText(f, root, v)
      val header = text.linesIterator.next().split('\t')
      val ts = header(3).toLong
      val parent = header(4) match { case "-" => None; case p => Some(p.toLong) }
      // data lines only (a DV'd table's binding lines are not files — the
      // pre-rid filter let them inflate n_changes)
      val files = text.linesIterator.drop(1)
        .filter(l => l.nonEmpty && !isMarkerLine(l))
        .toSeq
      val rewrite = parent.exists { p =>
        if (!f.exists(vPath(root, p))) false // parent vacuumed: unknowable
        else !readFiles(f, root, p).map(relativize(root, _))
          .forall(files.map(relativize(root, _)).toSet)
      }
      (v, ts, parent, files.size, rewrite)
    }
  }

  /**
   * Garbage-collect ORPHANS: data files in the table directory that NO
   * retained snapshot references — debris from writer crashes between
   * file materialization and the log commit, or from aborted DML staging
   * cleanup races. [[vacuum]] can never touch these (it only reclaims
   * files that expired snapshots referenced); without this they leak
   * forever. Logged tables only (on a log-less table every file is
   * "unreferenced" and this would erase the table — refused loudly).
   * `olderThanMs` is the in-flight-write guard: a file younger than the
   * horizon may belong to a commit that hasn't landed yet, so it is
   * never touched — size the horizon well above the longest write job.
   * Out-of-band files a deployment reads via `snapshotVersion=listing`
   * count as orphans too — [[commitAppend]] them into the log before
   * running this GC. Returns the deleted (or, with `dryRun`, the
   * would-be-deleted) paths.
   */
  def vacuumOrphans(
      spark: SparkSession,
      dir: String,
      olderThanMs: Long,
      dryRun: Boolean = false): Seq[String] = {
    require(olderThanMs >= 0, "olderThanMs must be non-negative")
    val (f, root) = fs(spark, dir)
    val last = latest(f, root).getOrElse(throw new IllegalStateException(
      s"vacuumOrphans on $dir: table has no snapshot log — every file would " +
        "count as an orphan; this GC is only sound against a log"))
    val retained = (1L to last).filter(v => f.exists(vPath(root, v)))
    val referenced = retained.flatMap(readFiles(f, root, _)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = graft.sources.TokenPruner.listDataFiles(f, root)
      .filter(s => !referenced.contains(s.getPath.toString) &&
        s.getModificationTime < cutoff)
      .map(_.getPath.toString).toSeq.sorted
    // deletion-vector sidecars orbit the same lifecycle: a DV written by a
    // delta commit that lost its race (or a crashed driver) is referenced
    // by NO retained version and would otherwise leak in _graft_dv forever
    // (data listings skip _-prefixed dirs by design)
    val referencedDvs = retained.flatMap(readDvs(f, root, _).values).toSet
    val dvDir = new Path(root, DeletionVectors.Dir)
    val dvOrphans =
      if (!f.exists(dvDir)) Nil
      else f.listStatus(dvDir)
        .filter(s => s.isFile && !referencedDvs.contains(s.getPath.toString) &&
          s.getModificationTime < cutoff)
        .map(_.getPath.toString).toSeq.sorted
    // change-data sidecars from aborted/lost-race CoW DMLs leak the same
    // way (cdc-<uuid>/ subdirs under _graft_cdc)
    val referencedCdcs = retained.flatMap(readCdcs(f, root, _)).toSet
    val cdcRoot = new Path(root, CdcDir)
    def walkCdc(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(d).toSeq.flatMap(st =>
        if (st.isDirectory) walkCdc(st.getPath) else Seq(st))
    val cdcOrphans =
      if (!f.exists(cdcRoot)) Nil
      else walkCdc(cdcRoot)
        .filter(st => !referencedCdcs.contains(st.getPath.toString) &&
          st.getModificationTime < cutoff)
        .map(_.getPath.toString).sorted
    val all = orphans ++ dvOrphans ++ cdcOrphans
    if (!dryRun) {
      all.foreach(p => f.delete(new Path(p), false))
      if (orphans.nonEmpty) graft.sources.TokenPruner.invalidateListing(dir)
    }
    all
  }

  /**
   * The files whose rows could have CHANGED RESOLUTION between two pinned
   * versions — the candidate-key enumerator behind the resolved-state diff
   * (guide §3.2/§6: reduce both sides of a join to the keys the increment
   * touched instead of full-outer-joining two whole table states).
   *
   * A key's resolved row can differ between `fromVersion` and `toVersion`
   * only if some commit in `(from, to]` touched a file containing it:
   *  - an APPEND's added files (new/updated versions of their keys);
   *  - a LOGICAL rewrite's added AND removed files (CoW DELETE/UPDATE);
   *  - files whose deletion-vector binding changed (MoR DML);
   *  - layout-only repacks ("layout") and resolved-state-preserving
   *    compaction folds ("fold") contribute NOTHING — every key resolves
   *    identically across them by their commit contract.
   *
   * A pre-fold-tag legacy rewrite commit cannot be told apart from CoW
   * DML, so it contributes its full added AND removed sets — sound, but
   * possibly the whole table. Returns None when the walk cannot be trusted
   * (intermediate version files vacuumed, or a candidate data file gone
   * from disk) — the caller must fall back to the full-state diff.
   * Tombstones are NOT
   * covered here: they live outside the version log and apply to both
   * pinned states symmetrically unless the caller time-scopes them (the
   * caller handles that case; see TokenSortedWriter.diffRows).
   */
  def diffCandidateFiles(
      spark: SparkSession, dir: String, fromVersion: Long, toVersion: Long)
      : Option[Seq[String]] = {
    require(fromVersion <= toVersion,
      s"diffCandidateFiles: fromVersion $fromVersion > toVersion $toVersion")
    if (fromVersion == toVersion) return Some(Nil)
    val (f, root) = fs(spark, dir)
    val versions = (fromVersion + 1) to toVersion
    val walkable = (fromVersion == 0L || f.exists(vPath(root, fromVersion))) &&
      versions.forall(v => f.exists(vPath(root, v)))
    if (!walkable) return None
    try {
      var prevFiles: Set[String] =
        if (fromVersion == 0L) Set.empty
        else readFiles(f, root, fromVersion).toSet
      var prevDvs: Map[String, String] =
        if (fromVersion == 0L) Map.empty else dvsAt(f, root, fromVersion)
      val out = scala.collection.mutable.LinkedHashSet[String]()
      versions.foreach { v =>
        val cur = readFiles(f, root, v).toSet
        val dvs = dvsAt(f, root, v)
        val statePreserving = isLayoutOnly(f, root, v) || isFold(f, root, v)
        if (!statePreserving) {
          val removed = prevFiles -- cur
          // a legacy (pre-fold-tag) rewrite commit: could be a compaction
          // fold OR CoW DML — indistinguishable, so the enumeration is
          // only sound if we treat its files as candidates; that is
          // correct but can be the whole table. Keep it (correctness
          // first); the caller's cost model is "candidates are small".
          out ++= (cur -- prevFiles)
          out ++= removed
          val dvChanged = (dvs.toSet diff prevDvs.toSet).map(_._1) ++
            (prevDvs.toSet diff dvs.toSet).map(_._1)
          out ++= dvChanged
        }
        prevFiles = cur
        prevDvs = dvs
      }
      val files = out.toSeq
      if (files.forall(p => f.exists(new Path(p)))) Some(files) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** File-level diff of two committed versions: (added, removed) absolute
   *  paths going `fromVersion` → `toVersion`. Version 0 = empty table, so
   *  `diff(spark, dir, 0, v)` is the full file set of v. */
  def diff(spark: SparkSession, dir: String, fromVersion: Long, toVersion: Long)
      : (Seq[String], Seq[String]) = {
    val (f, root) = fs(spark, dir)
    def setOf(v: Long): Set[String] =
      if (v == 0L) Set.empty else readFiles(f, root, v).toSet
    val from = setOf(fromVersion)
    val to = setOf(toVersion)
    ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
  }

  /**
   * Change feed: the rows APPENDED between two snapshot versions, read from
   * exactly the files the later version added — the incremental-consumption
   * primitive. A nightly pipeline pass ("process the documents that arrived
   * since my last run") costs IO proportional to the INCREMENT, never a
   * rescan of the table: at 100 TB with a 0.1% daily append, that is a
   * thousandfold difference, and no "updated_at > ?" predicate or full
   * anti-join is involved — immutable files + the log make membership
   * exact.
   *
   * Append-lineage only: if any file was REMOVED across the range (a
   * rewrite/compaction landed in between), file-level provenance can no
   * longer equate "new files" with "new rows" — the call fails loudly
   * rather than double-count rows that compaction rewrote into fresh files.
   *
   * Rows are the RAW APPENDED VERSIONS, exactly as written: no LWW
   * collapse, no tombstone application — a feed consumer that needs merged
   * rows joins the feed keys back through a normalized read. Engine
   * bookkeeping columns (`_graft_token` for `keepTokenColumn` layouts and
   * friends) ARE stripped: they describe the write layout, not the data,
   * and leaking them would make the feed schema depend on write options.
   *
   * Merge-on-read DML in the range:
   *  - a DV-ONLY commit (MoR DELETE — deletion vectors re-bound, zero
   *    files added) is an EMPTY increment: append-capture never claimed
   *    deletes, and skipping the commit delivers nothing wrong;
   *  - a commit that both re-binds DVs AND adds files (MoR UPDATE/MERGE
   *    re-insert generations) REFUSES loudly: delivering the re-inserts
   *    as appends would present updated rows as brand-new inserts while
   *    their paired positional deletes are silently dropped — a
   *    duplicate-producing feed. Row-level consumers use
   *    [[readChangesWithDeletes]], which delivers BOTH sides tagged.
   */
  /**
   * The files whose rows constitute the logical changes over
   * `(fromVersion, toVersion]` — the shared walk behind [[readChanges]]
   * and the change-feed stream. Per-version when the version files are
   * all retained: each version's own diff is checked, LAYOUT-ONLY
   * rewrites (OPTIMIZE — bytes repacked, rows identical) are SKIPPED
   * with their originals delivered instead, and any LOGICAL rewrite
   * still fails loudly. When intermediate versions were vacuumed the
   * endpoint diff is the fallback (sound only for pure append lineage —
   * same loud failure otherwise). Originals repacked-then-vacuumed
   * while the consumer lagged also fail loudly, naming the retention
   * knobs.
   */
  def changedFiles(
      spark: SparkSession, dir: String, fromVersion: Long, toVersion: Long)
      : Seq[String] = {
    require(fromVersion <= toVersion,
      s"changedFiles: fromVersion $fromVersion > toVersion $toVersion")
    if (fromVersion == toVersion) return Nil
    val (f, root) = fs(spark, dir)
    def crossing(from: Long, to: Long, removed: Seq[String]): Nothing =
      throw new IllegalStateException(
        s"readChanges $from→$to crosses a rewrite commit " +
          s"(${removed.length} file(s) removed, e.g. ${removed.head}) — file-level " +
          "change capture is only sound over append lineage; consume up to the " +
          "rewrite, then restart from it (row-level consumers: " +
          "readChangesWithDeletes rides across CoW DML rewrites on tables with " +
          "changeFeedCow 'true')")
    def morUpdate(from: Long, to: Long, a: Seq[String]): Nothing =
      throw new IllegalStateException(
        s"readChanges $from→$to crosses a merge-on-read UPDATE/MERGE: the commit " +
          s"adds ${a.length} re-insert file(s) AND re-binds deletion vectors, so " +
          "delivering its files as appends would present updated rows as " +
          "duplicate-producing inserts downstream (the paired positional deletes " +
          "are not files). Consume row-level changes with " +
          "Snapshots.readChangesWithDeletes (inserts + deletes, _change_type-" +
          "tagged), or compact and restart the feed from the DML version")
    val versions = (fromVersion + 1) to toVersion
    val walkable = versions.forall(v => f.exists(vPath(root, v))) &&
      (fromVersion == 0L || f.exists(vPath(root, fromVersion)))
    val added =
      if (!walkable) {
        val (a, r) = diff(spark, dir, fromVersion, toVersion)
        if (r.nonEmpty) crossing(fromVersion, toVersion, r)
        if (a.nonEmpty && dvsAt(f, root, toVersion) != dvsAt(f, root, fromVersion))
          morUpdate(fromVersion, toVersion, a)
        a
      } else {
        versions.flatMap { v =>
          val (a, r) = diff(spark, dir, v - 1, v)
          if (isLayoutOnly(f, root, v)) Nil // repack: rows already delivered via originals
          else {
            if (r.nonEmpty) crossing(v - 1, v, r)
            // DV-only commit (merge-on-read DELETE, zero files added): the
            // append-capture feed's documented contract — nothing delivered
            // here, deletes available via readChangesWithDeletes. A commit
            // that BOTH adds files and re-binds DVs is a MoR UPDATE/MERGE
            // and must not masquerade as an append.
            if (a.nonEmpty && dvsAt(f, root, v) != dvsAt(f, root, v - 1))
              morUpdate(v - 1, v, a)
            a
          }
        }
      }
    val missing = added.filterNot(p => f.exists(new Path(p)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"readChanges $fromVersion→$toVersion: ${missing.length} changed file(s) " +
          s"were repacked and vacuumed while the consumer lagged (e.g. " +
          s"${missing.head}) — raise vacuum retention (keepLast / " +
          "keepCommittedWithin) to cover the consumer's lag, or restart the " +
          s"feed from version $toVersion")
    added.distinct.sorted
  }

  def readChanges(
      spark: SparkSession, dir: String, fromVersion: Long, toVersion: Long)
      : org.apache.spark.sql.DataFrame = {
    require(fromVersion <= toVersion,
      s"readChanges: fromVersion $fromVersion > toVersion $toVersion")
    val added = changedFiles(spark, dir, fromVersion, toVersion)
    // exists-default-aware reads: rows captured from files written before
    // an ADD COLUMNS … DEFAULT read the recorded default, per file
    val raw =
      if (added.isEmpty) {
        // zero changed rows, but keep the TABLE schema on the empty frame
        val (f, root) = fs(spark, dir)
        val toFiles = if (toVersion == 0L) Nil else readFiles(f, root, toVersion)
        if (toFiles.isEmpty) spark.emptyDataFrame
        else graft.sources.ExistsDefaults.read(spark, dir, toFiles).limit(0)
      } else graft.sources.ExistsDefaults.read(spark, dir, added)
    stripEngineColumns(raw)
  }

  /** CDC tag columns emitted by [[readChangesWithDeletes]] (the Delta
   *  change-data-feed naming, so downstream consumers port verbatim). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** One commit's row-level changes: files it ADDED (rows = inserts) and
   *  its deletion-vector re-binds (fresh deleted positions = the new DV's
   *  positions minus the previous binding's — deletes). */
  final case class DvDelta(carrier: String, dv: String, prevDv: Option[String])
  final case class ChangeEvent(
      version: Long,
      added: Seq[String],
      dvDeltas: Seq[DvDelta],
      cdcFiles: Seq[String] = Nil)

  /**
   * The row-level change events of `(fromVersion, toVersion]` — the shared
   * walk behind [[readChangesWithDeletes]] and the DSv2 CDC scan
   * (`changeFeedMode=rows`). Layout-only commits are skipped, logical
   * rewrites refuse, vacuumed version files refuse (per-version
   * attribution is the point), and every referenced data/DV file is
   * existence-checked so a lagging consumer fails loudly instead of
   * reading a hole.
   */
  private[graft] def changeEvents(
      spark: SparkSession, dir: String, fromVersion: Long, toVersion: Long)
      : Seq[ChangeEvent] = {
    require(fromVersion <= toVersion,
      s"change feed: fromVersion $fromVersion > toVersion $toVersion")
    if (fromVersion == toVersion) return Nil
    val (f, root) = fs(spark, dir)
    val versions = (fromVersion + 1) to toVersion
    val needed = (if (fromVersion == 0L) Nil else Seq(fromVersion)) ++ versions
    val gone = needed.filterNot(v => f.exists(vPath(root, v)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"change feed $fromVersion→$toVersion: version file(s) " +
          s"${gone.take(3).mkString(", ")} were vacuumed — row-level change " +
          "capture needs per-version attribution (which commit deleted which " +
          "row); raise vacuum retention (keepLast / keepCommittedWithin) to " +
          s"cover the consumer's lag, or restart the feed from version $toVersion")
    val events = versions.flatMap { v =>
      if (isLayoutOnly(f, root, v)) None // repack (incl. DV fold): rows unchanged
      else {
        val (a, r) = diff(spark, dir, v - 1, v)
        val cdc = readCdcs(f, root, v)
        if (cdc.nonEmpty)
          // a CDC-recording rewrite (copy-on-write DML with changeFeedCow):
          // the recorded events ARE this version's row-level delta; the
          // rewritten generation files must NOT additionally appear as
          // inserts (they re-carry unchanged rows)
          Some(ChangeEvent(v, Nil, Nil, cdc))
        else {
          if (r.nonEmpty)
            throw new IllegalStateException(
              s"change feed ${v - 1}→$v crosses a logical rewrite " +
                s"(${r.length} file(s) removed, e.g. ${r.head}) — row provenance " +
                "is broken across it; consume up to the rewrite, then restart " +
                "(copy-on-write DML records row-level events when the table " +
                "sets changeFeedCow 'true')")
          val prev = dvsAt(f, root, v - 1)
          val dels = dvsAt(f, root, v).toSeq.sortBy(_._1).collect {
            case (carrier, dv) if !prev.get(carrier).contains(dv) =>
              DvDelta(carrier, dv, prev.get(carrier))
          }
          if (a.isEmpty && dels.isEmpty) None else Some(ChangeEvent(v, a, dels))
        }
      }
    }
    // a version's originals can be repacked-then-vacuumed while the
    // consumer lagged even though the version FILES are all retained
    val refs = events.flatMap(e =>
      e.added ++ e.cdcFiles ++
        e.dvDeltas.flatMap(d => d.carrier +: d.dv +: d.prevDv.toSeq))
    val missing = refs.distinct.filterNot(p => f.exists(new Path(p)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"change feed $fromVersion→$toVersion: ${missing.length} referenced " +
          s"file(s) were repacked and vacuumed while the consumer lagged (e.g. " +
          s"${missing.head}) — raise vacuum retention (keepLast / " +
          "keepCommittedWithin) to cover the consumer's lag, or restart the " +
          s"feed from version $toVersion")
    events
  }

  /**
   * Row-level change-data feed over `(fromVersion, toVersion]` — the
   * consumer for tables that take merge-on-read DML, where the file-level
   * [[readChanges]] contract (appends only) no longer covers what happened.
   * Returns the table's columns plus [[ChangeTypeCol]] (`insert` |
   * `delete`) and [[CommitVersionCol]] (the commit that produced the
   * change), one row per row-level event:
   *
   *  - files a commit ADDED deliver their rows as `insert` (a MoR UPDATE's
   *    re-insert generation is the update's postimage);
   *  - a commit's deletion-vector DELTA (positions in the new binding that
   *    the parent's binding did not hide) delivers the carrier's rows at
   *    exactly those physical positions as `delete` — the PREIMAGE content,
   *    read from the immutable carrier via `_metadata.row_index`, one
   *    broadcast join of the O(deleted rows) position set against the
   *    affected carriers only (the table never rescans);
   *  - an UPDATE therefore appears as its delete+insert pair at one
   *    version, the upsert shape `MERGE`-style consumers apply directly;
   *  - LAYOUT-ONLY rewrites (OPTIMIZE, including its DV fold) are skipped:
   *    bytes moved, logical rows unchanged, no events;
   *  - a LOGICAL rewrite still refuses loudly (same contract as
   *    [[readChanges]] — file provenance broken, restart past it).
   *
   * Per-version attribution requires every version file in the range to be
   * retained — vacuumed intermediates refuse with the retention knobs
   * named (an endpoint diff cannot say WHICH commit deleted a row).
   * A row inserted and later deleted inside the range yields both events,
   * in commit order by [[CommitVersionCol]].
   */
  def readChangesWithDeletes(
      spark: SparkSession, dir: String, fromVersion: Long, toVersion: Long,
      withRowIds: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    import spark.implicits._
    require(fromVersion <= toVersion,
      s"readChangesWithDeletes: fromVersion $fromVersion > toVersion $toVersion")
    val (f, root) = fs(spark, dir)
    if (withRowIds)
      require(rowTracked(spark, dir),
        s"readChangesWithDeletes(withRowIds) on $dir: the table is not " +
          "row-tracked — create or write it with rowTracking 'true' first")
    val RidCol = graft.sources.GraftDataSource.RowIdCol
    def emptyFeed: org.apache.spark.sql.DataFrame = {
      val toFiles = if (toVersion == 0L) Nil else readFiles(f, root, toVersion)
      val base =
        if (toFiles.isEmpty) spark.emptyDataFrame
        else stripEngineColumns(
          graft.sources.ExistsDefaults.read(spark, dir, toFiles).limit(0))
      val tagged = base.withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitVersionCol, lit(0L))
      (if (withRowIds) tagged.withColumn(RidCol, lit(null).cast("long"))
       else tagged).limit(0)
    }
    if (fromVersion == toVersion) return emptyFeed
    val events = changeEvents(spark, dir, fromVersion, toVersion)
    if (events.isEmpty) return emptyFeed
    // per-version (file → base row id) bindings, read once per event —
    // identity for withRowIds: stored materialized id, else base + position
    val ridsAt = scala.collection.mutable.Map.empty[Long, Map[String, Long]]
    def basesFor(version: Long): Map[String, Long] =
      ridsAt.getOrElseUpdate(version, readRids(f, root, version))
    def ridFrom(raw: org.apache.spark.sql.DataFrame,
        bases: Seq[(String, Long)]): org.apache.spark.sql.DataFrame = {
      val stored =
        if (raw.columns.contains(RidCol)) col(RidCol) else lit(null).cast("long")
      val baseDf = bases.toDF("__cdf_rfile", "__cdf_base")
      // materialize the metadata inputs BEFORE the join — `_metadata` is
      // bound to the scan relation and unresolvable through a join
      raw.withColumn("__cdf_rfile", col("_metadata.file_path"))
        .withColumn("__cdf_rpos", col("_metadata.row_index"))
        .withColumn("__cdf_stored", stored)
        .join(broadcast(baseDf), Seq("__cdf_rfile"), "left_outer")
        .withColumn("__cdf_rid", coalesce(
          col("__cdf_stored"), col("__cdf_base") + col("__cdf_rpos")))
        .drop("__cdf_rfile", "__cdf_rpos", "__cdf_stored", "__cdf_base")
    }
    val pieces = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    // exists-default-aware raw reads throughout: pre-evolution files fill
    // ADD COLUMNS … DEFAULT columns with the recorded value, per file
    // (descriptor resolved ONCE, not per event)
    val existsDefaults = graft.sources.ExistsDefaults.physicalForDir(spark, dir)
    events.foreach { e =>
      if (e.added.nonEmpty) {
        // NOT homogeneous: one event's added files normally share a write
        // schema, but a shallow clone's v1 (the whole source) spans every
        // source generation — single-footer inference there would fill
        // the default over stored values or drop younger columns
        val raw = graft.sources.ExistsDefaults.read(
          spark, existsDefaults, e.added)
        val withRid =
          if (!withRowIds) raw
          // look up per added path (the version's full binding map can be
          // the whole table — never scan it per added file)
          else ridFrom(raw, e.added.flatMap(p => basesFor(e.version).get(p).map(p -> _)))
        pieces += stripEngineColumns(withRid)
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitVersionCol, lit(e.version))
      }
      if (e.cdcFiles.nonEmpty) {
        // recorded change-data rows already carry _change_type; sidecars
        // written by a row-TRACKED CoW DML also store the stable row id
        // (delete preimages: the old row's id; insert postimages: the
        // carried id, null for a genuinely new row — allocated only at
        // commit), so identity pairing works on both DML engines.
        // Tracked-before-the-feature sidecars lack the column → null ids
        // (those events pair by key downstream, the documented fallback)
        val raw0 = graft.sources.ExistsDefaults.read(
          spark, existsDefaults, e.cdcFiles, homogeneous = true)
        val withRid =
          if (!withRowIds) raw0
          else raw0.withColumn("__cdf_rid",
            if (raw0.columns.contains(RidCol)) col(RidCol)
            else lit(null).cast("long"))
        pieces += stripEngineColumns(withRid)
          .withColumn(CommitVersionCol, lit(e.version))
      }
    }
    val delKeys: Seq[(String, Long, Long)] = events.flatMap { e =>
      e.dvDeltas.flatMap { d =>
        val old = d.prevDv.map(DeletionVectors.read(f, _)).getOrElse(Array.empty[Long]).toSet
        DeletionVectors.read(f, d.dv).filterNot(old).map(p => (d.carrier, p, e.version))
      }
    }
    if (delKeys.nonEmpty) {
      val carriers = delKeys.map(_._1).distinct
      // O(deleted rows) broadcast key set against the affected carriers
      // only; carrier side reads positions from parquet's own row index,
      // so the preimage never shuffles. With row ids the key set also
      // carries the carrier's base (driver-joined from the event's
      // version bindings) — rid = stored id, else base + position.
      val keyDf = delKeys.toDF("__cdf_file", "__cdf_pos", CommitVersionCol)
      val raw = graft.sources.ExistsDefaults.read(spark, existsDefaults, carriers)
      val storedRid =
        if (raw.columns.contains(RidCol)) col(RidCol) else lit(null).cast("long")
      var preimage = raw
        .withColumn("__cdf_file", col("_metadata.file_path"))
        .withColumn("__cdf_pos", col("_metadata.row_index"))
        .withColumn("__cdf_stored", storedRid)
        .join(broadcast(keyDf), Seq("__cdf_file", "__cdf_pos"))
      if (withRowIds) {
        val carrierBases = delKeys.map { case (c, _, v) => (c, v) }.distinct
          .flatMap { case (c, v) => basesFor(v).get(c).map(b => c -> b) }
          .distinct.toDF("__cdf_file2", "__cdf_base")
        preimage = preimage
          .join(broadcast(carrierBases),
            col("__cdf_file") === col("__cdf_file2"), "left_outer")
          .withColumn("__cdf_rid", coalesce(
            col("__cdf_stored"), col("__cdf_base") + col("__cdf_pos")))
          .drop("__cdf_file2", "__cdf_base")
      }
      pieces += stripEngineColumns(
        preimage.drop("__cdf_file", "__cdf_pos", "__cdf_stored"))
        .withColumn(ChangeTypeCol, lit("delete"))
    }
    if (pieces.isEmpty) return emptyFeed // e.g. only content-identical re-binds
    // allowMissingColumns: schema evolution inside the range — pre-evolution
    // files lack the new columns, delivered as nulls
    val feed = pieces.reduceLeft(_.unionByName(_, allowMissingColumns = true))
    if (withRowIds) feed.withColumnRenamed("__cdf_rid", RidCol) else feed
  }

  private[graft] def stripEngineColumns(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val engine = df.columns.filter(_.startsWith("_graft_"))
    engine.foldLeft(df)(_.drop(_))
  }

  /**
   * Resolve the file set a scan plans from. An explicit pin filters to that
   * version; with NO pin, a table that HAS a snapshot log defaults to its
   * LATEST snapshot — the live listing can transiently hold a half-landed
   * concurrent batch, and after a [[commitRewrite]] vacuumed with
   * `keepLast > 1` it holds BOTH generations at once, so a listing-driven
   * read would silently double-count every rewritten row. Raw
   * listing-driven planning remains (a) the only mode for tables with no
   * log and (b) an explicit opt-in via `snapshotVersion=listing` (e.g. to
   * see out-of-band files the log was never told about).
   */
  def resolveListing(
      spark: SparkSession,
      dir: String,
      pin: Option[String],
      all: Array[graft.sources.TokenPruner.FileMeta])
      : Array[graft.sources.TokenPruner.FileMeta] =
    pin.map(_.trim.toLowerCase) match {
      case Some("listing") => all
      case Some(p) => filterListing(spark, dir, p, all)
      case None =>
        if (latestVersion(spark, dir).isEmpty) all
        else filterListing(spark, dir, "latest", all)
    }

  /** Resolve a pinned version ("latest", a number, or "asof:<epochMillis>"
   *  — the `TIMESTAMP AS OF` spelling, resolved via [[versionAsOf]])
   *  against the log and restrict `all` (the live listing) to that
   *  snapshot's files. A recorded file missing from the listing fails the
   *  scan — a pin must never silently shrink. */
  def filterListing(
      spark: SparkSession,
      dir: String,
      pinned: String,
      all: Array[graft.sources.TokenPruner.FileMeta])
      : Array[graft.sources.TokenPruner.FileMeta] = {
    val (f, root) = fs(spark, dir)
    val version = resolvePin(spark, dir, f, root, Some(pinned))
      .getOrElse(throw new IllegalArgumentException(
        s"snapshotVersion=$pinned but $dir has no snapshot log"))
    val want = readFiles(f, root, version).toSet
    // a SHALLOW CLONE's log references files OUTSIDE the table root
    // (the source's data) — they can never appear in this dir's listing;
    // admit them with manifest-first/footer stats instead
    val (local, foreign) = want.partition(underRoot(root))
    val have = all.filter(m => local.contains(m.path))
    if (have.length != local.size) {
      val missing = (local -- have.map(_.path)).toSeq.sorted
      throw new IllegalStateException(
        s"snapshot v$version of $dir references ${missing.length} file(s) absent " +
          s"from the live listing (vacuumed past retention or deleted out-of-band); " +
          s"first missing: ${missing.head}")
    }
    if (foreign.isEmpty) have
    else have ++ graft.sources.TokenPruner.foreignMetas(
      spark, dir, foreign.toSeq.sorted)
  }

  /** Bounded-parallel existence probe (pool of ≤16, the
   *  readFootersParallel shape): the tables worth validating file-by-file
   *  are exactly the big ones — a serial exists() loop over ~100k object-
   *  store paths is minutes of driver RPC latency. Paths resolve their own
   *  FileSystem (a clone-of-a-clone's list mixes roots). */
  private[graft] def missingParallel(
      conf: org.apache.hadoop.conf.Configuration,
      paths: Seq[String]): Seq[String] = {
    def probe(p: String): Option[String] = {
      val hp = new Path(p)
      if (hp.getFileSystem(conf).exists(hp)) None else Some(p)
    }
    if (paths.isEmpty) Nil
    else if (paths.length == 1) paths.flatMap(probe)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(16, paths.length))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = paths.map { p =>
          new java.util.concurrent.Callable[Option[String]] {
            override def call(): Option[String] = probe(p)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.flatMap(_.get()).toSeq
      } finally pool.shutdown()
    }
  }

  private def relativize(root: Path, abs: String): String = {
    val rootStr = root.toString.stripSuffix("/") + "/"
    if (abs.startsWith(rootStr)) abs.substring(rootStr.length) else abs
  }

  /** Is `path` under the table root? The ONE spelling of the
   *  out-of-root test every clone-aware site shares ([[vacuum]]'s
   *  delete scope, [[filterListing]]'s foreign admission, the
   *  maintenance guards) — paths compare as qualified URI strings, the
   *  same spelling [[relativize]] keys on, so the sites cannot diverge. */
  def underRoot(root: Path, path: String): Boolean = underRoot(root)(path)

  /** Prefix-hoisted form for per-file loops: `Path.toString` rebuilds the
   *  URI string every call — compute the prefix once per listing. */
  def underRoot(root: Path): String => Boolean = {
    val prefix = root.toString.stripSuffix("/") + "/"
    p => p.startsWith(prefix)
  }
}

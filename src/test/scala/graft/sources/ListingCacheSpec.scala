package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import graft.write.TokenSortedWriter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Planning listing cache: a warm scan of an unchanged table does ONE
 *  listStatus round-trip (no recursive walk, no footer reads); any write
 *  through the engine invalidates via the root fingerprint (the manifest
 *  dir's mtime bumps on every write). */
class ListingCacheSpec extends SparkSpec {

  private val schema = CqlSchema("t", Seq("id"))

  /** Spark jobs this thread submits while `body` runs. Jobs carry the
   *  thread's local properties; a fence job submitted afterwards is
   *  delivered after every earlier one (the listener bus is FIFO), so
   *  the count is final once the fence arrives. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobGate"
    val token = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, token)
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("fence"), "listener never saw the fence job")
      seen.toArray.count(_ == token)
    } finally sc.removeSparkListener(listener)
  }

  private def load(dir: String) =
    spark.read.format("graft").option("path", dir).option("pk", "id").load()

  test("warm listings hit the cache; writes invalidate; results stay fresh") {
    val dir = Files.createTempDirectory("graft_cache_").toString + "/t"
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i * 3)).toDF("id", "v")
    TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true))

    TokenPruner.invalidateListing(dir)
    val w0 = TokenPruner.fullWalks.get()
    val first = TokenPruner.listFiles(spark, dir)
    assert(TokenPruner.fullWalks.get() == w0 + 1, "cold listing walks once")
    // warm: repeated planning does not re-walk
    val second = TokenPruner.listFiles(spark, dir)
    assert(TokenPruner.fullWalks.get() == w0 + 1, "warm listing must not walk")
    assert(second.toSeq == first.toSeq)
    // a real scan plans from the same cache
    val n = spark.read.format("graft").option("path", dir).option("pk", "id")
      .load().filter(col("id") <= 10L).count()
    assert(n == 10L)
    assert(TokenPruner.fullWalks.get() == w0 + 1, "scan planning reuses the cache")

    // an append through the writer changes the manifest dir => fingerprint
    // changes => next listing re-walks and sees the new generation
    TokenSortedWriter.write(df.withColumn("v", col("v") + 1L), schema, dir,
      SaveMode.Append, TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true))
    val third = TokenPruner.listFiles(spark, dir)
    assert(TokenPruner.fullWalks.get() == w0 + 2, "append must invalidate")
    assert(third.length > first.length, "new files visible after invalidation")

    // explicit invalidation forces a re-walk even with no changes
    TokenPruner.invalidateListing(dir)
    TokenPruner.listFiles(spark, dir)
    assert(TokenPruner.fullWalks.get() == w0 + 3)
  }

  test("graft.listing.cache=false bypasses the cache: every listing walks") {
    val dir = Files.createTempDirectory("graft_cache3_").toString + "/t"
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "v")
    TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true))
    spark.conf.set("graft.listing.cache", "false")
    try {
      val w0 = TokenPruner.fullWalks.get()
      TokenPruner.listFiles(spark, dir)
      TokenPruner.listFiles(spark, dir)
      assert(TokenPruner.fullWalks.get() == w0 + 2,
        "cache off: repeated listings must each walk (out-of-band edits visible)")
    } finally spark.conf.unset("graft.listing.cache")
    // conf restored: warm behavior returns
    val w1 = TokenPruner.fullWalks.get()
    TokenPruner.listFiles(spark, dir)
    TokenPruner.listFiles(spark, dir)
    assert(TokenPruner.fullWalks.get() <= w1 + 1, "cache on again: warm listing cached")
  }

  test("out-of-band deep edit: cache goes stale (documented), cache=false sees it") {
    // The root fingerprint covers root children + the manifest/deletes dirs.
    // An edit TWO levels down (inside graft_p_a=*/graft_p_b=*/) changes no
    // root-level mtime and no manifest file — the documented blind spot.
    // graft.listing.cache=false is the contract for such deployments.
    val dir = Files.createTempDirectory("graft_cache4_").toString + "/t"
    import spark.implicits._
    val df = Seq((1L, "x", "p", 1L), (2L, "x", "q", 2L), (3L, "y", "p", 3L))
      .toDF("id", "a", "b", "v")
    TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        partitionBy = Seq("a", "b")))
    TokenPruner.invalidateListing(dir)
    val cold = TokenPruner.listFiles(spark, dir)

    // out-of-band surgery: clone a leaf data file under a new name; only
    // the LEAF dir's mtime changes, which the root listing cannot see
    val leaf = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet") && p.toString.contains("graft_p_b="))
      .findFirst().get()
    java.nio.file.Files.copy(leaf, leaf.getParent.resolve("zz-oob-copy.parquet"))

    // warm cache: the stale listing is returned — the documented behavior
    val stale = TokenPruner.listFiles(spark, dir)
    assert(stale.length == cold.length,
      "blind spot: a deep out-of-band file must be invisible to the warm cache")

    // cache off: every listing walks, the new file is planned
    spark.conf.set("graft.listing.cache", "false")
    try {
      val fresh = TokenPruner.listFiles(spark, dir)
      assert(fresh.length == cold.length + 1,
        "cache=false must see the out-of-band file")
      assert(fresh.map(_.path).exists(_.endsWith("zz-oob-copy.parquet")))
      // end-to-end: the scan row count includes the cloned file's rows
      val n = spark.read.format("graft").option("path", dir).option("pk", "id")
        .load().count()
      assert(n == df.count() + spark.read.parquet(leaf.toString).count(),
        "scan with cache=false must read the out-of-band rows")
    } finally spark.conf.unset("graft.listing.cache")

    // explicit invalidation is the cache-on remedy after out-of-band surgery
    TokenPruner.invalidateListing(dir)
    assert(TokenPruner.listFiles(spark, dir).length == cold.length + 1)
  }

  test("dir-partitioned layout: appends into existing partition dirs are seen") {
    val dir = Files.createTempDirectory("graft_cache2_").toString + "/t"
    import spark.implicits._
    val conf = TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
      partitionBy = Seq("cat"))
    val a = Seq((1L, "x", 1L), (2L, "y", 2L)).toDF("id", "cat", "v")
    TokenSortedWriter.write(a, schema, dir, SaveMode.Append, conf)
    val cold = TokenPruner.listFiles(spark, dir)
    // append lands INSIDE the existing graft_p_cat=x dir — no new root file,
    // but the manifest write still bumps the root fingerprint
    TokenSortedWriter.write(Seq((3L, "x", 3L)).toDF("id", "cat", "v"),
      schema, dir, SaveMode.Append, conf)
    val warm = TokenPruner.listFiles(spark, dir)
    assert(warm.length == cold.length + 1, "deep append must be visible")
  }

  test("foreign-meta session cache: later plans touch NO source IO (read-" +
      "only clone clients stop re-reading foreign footers); stale manifest " +
      "rows validate loudly") {
    val src = Files.createTempDirectory("graft_fmc_").toString + "/src"
    import spark.implicits._
    TokenSortedWriter.write((1L to 500L).map(i => (i, i)).toDF("id", "v"),
      schema, src, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true))
    val paths = TokenPruner.listFiles(spark, src).map(_.path).toSeq
    assert(paths.length >= 2)
    val clone = Files.createTempDirectory("graft_fmc_clone_").toString
    val m1 = TokenPruner.foreignMetas(spark, clone, paths)
    assert(m1.map(_.path).toSet == paths.toSet)
    // delete the SOURCE files and the clone's freshly persisted manifest
    // out-of-band: a second plan must be served ENTIRELY from the session
    // cache — any footer read or existence probe would now throw
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    paths.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    fs.delete(new org.apache.hadoop.fs.Path(clone), true)
    val m2 = TokenPruner.foreignMetas(spark, clone, paths)
    assert(m2.map(_.path).toSet == paths.toSet,
      "warm foreign planning must not re-touch the source")

    // manifest-known-but-vacuumed paths refuse LOUDLY at planning: persist
    // a manifest row for a path, clear the session cache, delete the file
    val src2 = Files.createTempDirectory("graft_fmc2_").toString + "/src"
    TokenSortedWriter.write(Seq((1L, 1L)).toDF("id", "v"),
      schema, src2, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true))
    val p2 = TokenPruner.listFiles(spark, src2).map(_.path).toSeq
    val clone2 = Files.createTempDirectory("graft_fmc2_clone_").toString
    TokenPruner.foreignMetas(spark, clone2, p2) // persists manifest rows
    TokenPruner.invalidateForeignCache()
    p2.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    val e = intercept[IllegalStateException] {
      TokenPruner.foreignMetas(spark, clone2, p2)
    }
    assert(e.getMessage.contains("vacuumed"),
      s"stale manifest rows must surface the clone-specific refusal: $e")
  }

  test("warm reads build and plan with ZERO Spark jobs: a graft load and a " +
      "readNormalized over partition and row tombstones") {
    import spark.implicits._
    val cs = CqlSchema("t", Seq("id"), Seq("ck"))
    val dir = Files.createTempDirectory("graft_jobgate_").toString + "/t"
    val df = (1L to 200L).map(i => (i, (i % 4).toInt, i * 2)).toDF("id", "ck", "v")
    TokenSortedWriter.write(df, cs, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(10L)))
    TokenSortedWriter.write(df.filter(col("id") <= 50L).withColumn("v", col("v") + 1), cs,
      dir, SaveMode.Append, TokenSortedWriter.WriteConf(numPartitions = 1,
        keepTokenColumn = true, writetimeMicros = Some(20L)))
    TokenSortedWriter.writeDeletes(Seq(3L, 4L).toDF("id"), cs, dir, Some(30L))
    TokenSortedWriter.writeDeletes(Seq((5L, 1)).toDF("id", "ck"), cs, dir, Some(30L),
      rowLevel = true)
    def build() = (load(dir).filter(col("id") === 7L),
      TokenSortedWriter.readNormalized(spark, cs, dir).filter(col("id").isin(3L, 5L, 7L)))
    // cold: fills the listing-cache entry, schemas included
    val (coldLoad, coldNorm) = build()
    assert(coldLoad.count() == 2L)
    assert(coldNorm.count() == 1L, "id 3 partition-deleted, row (5,1) deleted, 7 kept")
    val jobs = jobsDuring {
      val (warmLoad, warmNorm) = build()
      warmLoad.queryExecution.executedPlan
      warmNorm.queryExecution.executedPlan
    }
    assert(jobs == 0, s"warm build+plan ran $jobs Spark job(s)")
    val (l, n) = build()
    assert(l.count() == 2L && n.count() == 1L)
  }

  test("schema freshness: feature columns, tombstone columns, invalidation " +
      "and graft.listing.cache=false") {
    import spark.implicits._
    val cs = CqlSchema("t", Seq("id"), Seq("ck"))
    val dir = Files.createTempDirectory("graft_schemafresh_").toString + "/t"
    val df = (1L to 20L).map(i => (i, (i % 3).toInt, i)).toDF("id", "ck", "v")
    TokenSortedWriter.write(df, cs, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1))
    assert(load(dir).columns.toSeq == Seq("id", "ck", "v"))
    // an append that adds writetime/TTL feature columns: the next read sees
    // the union schema
    TokenSortedWriter.write(df, cs, dir, SaveMode.Append, TokenSortedWriter.WriteConf(
      numPartitions = 1, writetimeMicros = Some(5L), ttlSeconds = Some(100L)))
    assert(load(dir).columns.toSet ==
      Set("id", "ck", "v", TokenSortedWriter.WritetimeCol, TokenSortedWriter.ExpiresCol))
    def tombs = TokenPruner.schemas(spark, dir).tombstones.map(_.fieldNames.toSet)
    assert(tombs.isEmpty)
    TokenSortedWriter.writeDeletes(Seq(1L).toDF("id"), cs, dir, Some(9L))
    assert(tombs.contains(Set("id", TokenSortedWriter.WritetimeCol)))
    // a row-level batch adds the ck column, a range batch the bound columns
    TokenSortedWriter.writeDeletes(Seq((2L, 2)).toDF("id", "ck"), cs, dir, Some(9L),
      rowLevel = true)
    assert(tombs.contains(Set("id", "ck", TokenSortedWriter.WritetimeCol)))
    TokenSortedWriter.writeRangeDeletes(Seq((3L, 0, 1)).toDF("id", "ck_min", "ck_max"),
      cs, dir, Some(9L))
    assert(tombs.contains(Set("id", "ck", TokenSortedWriter.WritetimeCol,
      TokenSortedWriter.CkMinCol, TokenSortedWriter.CkMaxCol)))
    val live = TokenSortedWriter.readNormalized(spark, cs, dir).select("id", "ck").distinct()
      .as[(Long, Int)].collect().toSet
    assert(!live.exists(_._1 == 1L) && !live.contains((2L, 2)) &&
      !live.exists(r => r._1 == 3L && r._2 <= 1), "every tombstone kind applied")

    // out-of-band: a data file with a new column lands two levels down —
    // invisible to the warm entry (the documented blind spot) until
    // invalidateListing, and always visible with the cache off
    val pdir = Files.createTempDirectory("graft_schemafresh_p_").toString + "/t"
    val pdf = Seq((1L, "x", "p", 1L), (2L, "x", "q", 2L)).toDF("id", "a", "b", "v")
    TokenSortedWriter.write(pdf, schema, pdir, SaveMode.Append, TokenSortedWriter.WriteConf(
      numPartitions = 1, keepTokenColumn = true, partitionBy = Seq("a", "b")))
    val leaf = new java.io.File(pdir, s"${TokenSortedWriter.partCol("a")}=x/" +
      s"${TokenSortedWriter.partCol("b")}=p")
    assert(leaf.isDirectory)
    assert(load(pdir).columns.toSet == Set("id", "a", "b", "v"))
    def oob(c: String): Unit =
      pdf.withColumn(c, lit(1)).coalesce(1).write.mode(SaveMode.Append).parquet(leaf.getPath)
    oob("oob1")
    assert(!load(pdir).columns.contains("oob1"), "warm entry: deep edit unseen")
    spark.conf.set("graft.listing.cache", "false")
    try {
      val w0 = TokenPruner.fullWalks.get()
      assert(load(pdir).columns.contains("oob1"), "cache off: schema recomputed")
      oob("oob2")
      assert(load(pdir).columns.contains("oob2"), "cache off: every read recomputes")
      assert(TokenPruner.fullWalks.get() >= w0 + 2)
    } finally spark.conf.unset("graft.listing.cache")
    assert(!load(pdir).columns.contains("oob2"), "cache on again: the stale entry serves")
    TokenPruner.invalidateListing(pdir)
    assert(load(pdir).columns.toSet == Set("id", "a", "b", "v", "oob1", "oob2"),
      "invalidateListing refreshes the schema")
  }
}

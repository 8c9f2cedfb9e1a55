package graftbench

import scala.collection.mutable

import graft.operators.{Dedup, Vocab}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The curation operators over one staged synthetic corpus. Each step runs
 * the pipeline `Dedup.exact` → `dropFrequentLines` → `dropNearDuplicates`
 * (MinHash LSH) → `Vocab.tfIdf`; every operator is a timed op of its own,
 * materialised and checked on its own. A pass takes seconds, so short ops
 * give many more samples per run than one op per pass would. Touches
 * neither `token` nor `write`.
 *
 * The corpus is built so the survivors are known in closed form:
 *  - base documents: `Lines` lines of `LineWords` words drawn from a Zipfian
 *    vocabulary, so no two share a line or come near each other;
 *  - an exact copy of `Copies` base documents, with larger ids (exact
 *    dedup keeps the base);
 *  - a near-duplicate of `Variants` base documents: one word of one line
 *    changed, with larger ids (near-dup removal keeps the base);
 *  - every document carries two boilerplate lines drawn from a small
 *    shared set, each in far more than `MinDocs` documents, while a regular
 *    line is in at most two (a base and its near-duplicate), so
 *    `dropFrequentLines` removes exactly the boilerplate.
 */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._

  private val spark = ctx.spark
  private val stagedPath = ctx.path("corpus")
  private var docs = 0L
  private var rawText = 0L
  private var want: Expected = _

  val kinds: Seq[(String, String)] = Seq(
    "operators.exact" -> "exact_p50_s",
    "operators.frequent_lines" -> "frequent_lines_p50_s",
    "operators.near_dup" -> "near_dup_p50_s",
    "operators.tfidf" -> "tfidf_p50_s")

  /** Expected digest after each pipeline step. */
  private final case class Expected(exact: Digest, cleaned: Digest, kept: Digest, tfidf: Digest)

  def stage(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val cdf = {
      val w = (1 to VocabSize).map(r => 1.0 / math.pow(r, ZipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def word(): String = {
      val k = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"w${if (k >= 0) k else -k - 1}"
    }
    def line(): Seq[String] = Seq.fill(LineWords)(word())
    val boiler = IndexedSeq.tabulate(Boilerplate)(b => s"bp$b " + line().mkString(" "))
    val base = IndexedSeq.fill(BaseDocs)(IndexedSeq.fill(Lines)(line()))
    def text(regular: Seq[Seq[String]]): String = {
      val ls = regular.map(_.mkString(" ")).toBuffer
      ls.insert(rnd.nextInt(ls.size + 1), boiler(rnd.nextInt(Boilerplate)))
      ls.insert(rnd.nextInt(ls.size + 1), boiler(rnd.nextInt(Boilerplate)))
      ls.mkString("\n")
    }
    val corpus = mutable.ArrayBuffer.empty[(Long, String)]
    base.zipWithIndex.foreach { case (d, j) => corpus += ((j.toLong, text(d))) }
    def some(n: Int): Seq[Int] = rnd.shuffle(base.indices.toVector).take(n).sorted
    // near-duplicates: one word of one line replaced by a word no document holds
    val variants = some(Variants).map { j =>
      val l = rnd.nextInt(Lines)
      val w = rnd.nextInt(LineWords)
      val edited = base(j).updated(l, base(j)(l).updated(w, s"x${rnd.nextInt(1 << 30)}"))
      (j, edited)
    }
    variants.zipWithIndex.foreach { case ((_, d), k) => corpus += ((BaseDocs + k.toLong, text(d))) }
    val copies = some(Copies)
    copies.zipWithIndex.foreach { case (j, k) =>
      corpus += ((2L * BaseDocs + k, corpus(j)._2))
    }
    import spark.implicits._
    corpus.toSeq.toDF("id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.mode(SaveMode.Overwrite).parquet(stagedPath)
    docs = corpus.size
    rawText = corpus.map(_._2.getBytes("UTF-8").length + 8L).sum

    // closed forms: exact keeps base + variants with their copy counts;
    // cleaning leaves the regular lines; near-dup keeps the base documents
    val copied = copies.toSet
    val clean = base.map(_.map(_.mkString(" ")).mkString("\n")) ++
      variants.map(_._2.map(_.mkString(" ")).mkString("\n"))
    val exactRows = base.indices.map(j => hash(j.toLong -> LongType, (if (copied(j)) 2L else 1L) -> LongType)) ++
      variants.indices.map(k => hash((BaseDocs + k.toLong) -> LongType, 1L -> LongType))
    val cleanRows = clean.indices.map(k => hash(k.toLong -> LongType, UTF8String.fromString(clean(k)) -> StringType))
    val keptRows = base.indices.map(j => hash(j.toLong -> LongType))
    val tf = base.indices.map(j => j.toLong -> clean(j).split(" ").filter(_.nonEmpty)
      .groupBy(identity).map { case (w, v) => w -> v.length.toLong })
    val df = tf.flatMap(_._2.keys).groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val tfRows = tf.flatMap { case (id, counts) => counts.map { case (w, n) =>
      hash(id -> LongType, UTF8String.fromString(w) -> StringType, n -> LongType, df(w) -> LongType)
    } }
    def digest(hs: Seq[Long]) = Digest(hs.size.toLong, hs.foldLeft(0L)(_ ^ _))
    want = Expected(digest(exactRows), digest(cleanRows), digest(keptRows), digest(tfRows))
  }

  private def corpus: DataFrame = spark.read.parquet(stagedPath)

  /** Materialise a step's output so each step is timed on its own. */
  private def materialise(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** One pass of the pipeline; a failed op ends it. The corpus documents
   *  count as the rows of the first op, so `rows_per_s` is documents
   *  curated per second. */
  private def pass(rec: Recorder): Unit = {
    // read inside the first op, whose time and trace span the read's job joins
    lazy val c = corpus
    val made = mutable.ArrayBuffer.empty[DataFrame]
    def op(kind: String, rows: Long, cols: Seq[String], expected: Digest)(run: => DataFrame) =
      rec.op(kind, (_: DataFrame) => rows)(materialise(run)) { df => made += df; Digest.of(df, cols) == expected }
    for {
      exact <- op("operators.exact", docs, Seq("id", "n_copies"), want.exact)(Dedup.exact(c, "id", Seq("text")))
      cleaned <- op("operators.frequent_lines", 0L, Seq("id", "text"), want.cleaned) {
        Dedup.dropFrequentLines(c.join(exact.select("id"), "id"), "id", "text", MinDocs)
          .select(col("id"), col("text_clean").as("text"))
      }
      kept <- op("operators.near_dup", 0L, Seq("id"), want.kept)(Dedup.dropNearDuplicates(cleaned, "id", "text"))
    } rec.op("operators.tfidf", (_: Digest) => 0L) {
      Digest.of(Vocab.tfIdf(kept, "id", "text"), Seq("id", "word", "tf_count", "df"))
    }(_ == want.tfidf)
    made.foreach(_.unpersist())
  }

  def build(): Unit = Trace.op("setup.warmup") {
    val warm = new Recorder
    pass(warm)
    require(warm.failures.isEmpty, s"warm-up failed: ${warm.failures.mkString("; ")}")
  }

  def step(rec: Recorder): Unit = {
    pass(rec)
    if (Trace.enabled) {
      // the MinHash signature column alone, over the whole corpus
      Trace.op("functions.minhash_pass") {
        Digest.of(corpus.select(
          Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 64).as("sig")), Seq("sig"))
      }
    }
  }

  /** A pass keeps getting faster for about its first four runs. */
  def warmSteps: Int = 3

  /** The median of whole passes whose four ops all succeeded. */
  override def extraLines(rec: Recorder): Seq[(String, Double, String)] = {
    val order = kinds.map(_._1)
    val passes = rec.ops.indices.filter(rec.ops(_).kind == order.head)
      .map(i => rec.ops.slice(i, i + order.size).toSeq)
      .filter(p => p.map(_.kind) == order && p.forall(_.ok))
      .map(_.map(_.seconds).sum)
    if (passes.isEmpty) Nil
    else Seq(("curate_p50_s", Stats.median(passes), s"s   (n=${passes.size}, whole passes)"))
  }

  def storedBytes: Map[String, Long] = Stats.diskBytes(stagedPath)
  def userBytes: Long = rawText
}

object Curation {
  val BaseDocs = 1000
  val Lines = 8
  val LineWords = 12
  val VocabSize = 5000
  val ZipfS = 1.1
  val Boilerplate = 20
  val MinDocs = 10L
  /** Base documents with one near-duplicate each, and with one exact copy each. */
  val Variants = 300
  val Copies = 200

  /** Spark's `xxhash64` of a row of typed values, computed on the driver. */
  def hash(values: (Any, DataType)*): Long =
    values.foldLeft(42L) { case (h, (v, t)) => XxHash64Function.hash(v, t, h) }
}

package graftbench

import graft.model.CqlSchema
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row count and order-independent checksum (`bit_xor` of a row hash; a
 *  `sum` of 64-bit hashes would overflow under ANSI mode). */
final case class Digest(rows: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, xor ^ o.xor)
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)

  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }
}

/**
 * The Cassandra-shaped table every storage workload uses, generated from
 * the seed by Spark built-in expressions alone (never by the engine under
 * test), so expected states are closed forms of the seed.
 *
 * Row `i` lives in partition `p = i / PartRows` at clustering position
 * `seq = i % PartRows`. The composite partition key is (tenant, user_id):
 * tenant = p % Tenants, user_id = (p / Tenants) * Stride + salt + 1, so keys
 * are unique and a `user_id` with another residue mod Stride is a key that
 * is never written. Generation `g` of a row derives every value column from
 * xxhash64(seed, g, i); a higher generation is an upsert of the same key.
 */
final class Events(val seed: Long) {
  import Events._

  val salt: Long = Math.floorMod(seed, Stride)

  def tenantOf(p: Long): Int = (p % Tenants).toInt
  def userOf(p: Long): Long = (p / Tenants) * Stride + salt + 1
  /** A user id no partition has: another residue mod Stride. */
  def missUser(q: Long): Long = q * Stride + (salt + 1) % Stride + 1

  /** Rows `ids` (column "i") at generation column "g", in table columns,
   *  followed by the `keep` columns of `ids`. */
  def rows(ids: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val i = col("i")
    val p = floor(i / PartRows).cast("long")
    val h = xxhash64(lit(seed), col("g"), i)
    ids.select(Seq(
      pmod(p, lit(Tenants.toLong)).cast("int").as("tenant"),
      (floor(p / Tenants).cast("long") * Stride + lit(salt + 1)).as("user_id"),
      pmod(i, lit(PartRows.toLong)).cast("int").as("seq"),
      pmod(h, lit(1000000L)).cast("int").as("v_int"),
      h.as("v_long"),
      (pmod(h, lit(1000003L)).cast("double") / 7.0).as("v_double"),
      (pmod(h, lit(2L)) === 0).as("v_bool"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), pmod(h, lit(3650L)).cast("int")).as("v_date"),
      timestamp_seconds(lit(1600000000L) + pmod(h, lit(100000000L))).as("v_ts"),
      (pmod(h, lit(10000000000L)).cast("decimal(12,0)") / lit(100)).cast("decimal(12,2)").as("v_dec"),
      concat(lit("tag"), pmod(xxhash64(h), lit(97L)).cast("string")).as("v_tag"),
      substring(repeat(sha2(h.cast("string"), 256), 4), lit(1),
        lit(20) + pmod(xxhash64(h, lit(1)), lit(181L)).cast("int")).as("payload")) ++
        keep.map(col): _*)
  }

  /** Rows [from, until) at one generation. */
  def range(spark: SparkSession, from: Long, until: Long, gen: Int): DataFrame =
    rows(spark.range(from, until).select(col("id").as("i"), lit(gen).as("g")))

  /** Explicit (row, generation) pairs, e.g. a model's live rows. */
  def of(spark: SparkSession, rowGens: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    rows(rowGens.toDF("i", "g"))
  }

  def partitionKeys(spark: SparkSession, parts: Seq[Long]): DataFrame = {
    import spark.implicits._
    parts.map(p => (tenantOf(p), userOf(p))).toDF("tenant", "user_id")
  }
}

object Events {
  val Tenants = 16
  val PartRows = 8
  val Stride = 1009L
  val Schema: CqlSchema = CqlSchema("events", Seq("tenant", "user_id"), Seq("seq"))
  val Columns: Seq[String] = Seq("tenant", "user_id", "seq", "v_int", "v_long", "v_double",
    "v_bool", "v_date", "v_ts", "v_dec", "v_tag", "payload")
  val Ddl: String =
    """tenant INT, user_id BIGINT, seq INT, v_int INT, v_long BIGINT, v_double DOUBLE,
      |v_bool BOOLEAN, v_date DATE, v_ts TIMESTAMP, v_dec DECIMAL(12,2), v_tag STRING,
      |payload STRING""".stripMargin
  /** Fixed-width column bytes of one row (everything but the two strings). */
  val FixedBytes = 4 + 8 + 4 + 4 + 8 + 8 + 1 + 4 + 8 + 8

  private def rawBytesCol = coalesce(sum(lit(FixedBytes.toLong) + octet_length(col("v_tag")) +
    octet_length(col("payload"))), lit(0L))

  /** The generator's raw column bytes of a frame of table rows. */
  def rawBytes(df: DataFrame): Long = df.agg(rawBytesCol).head().getLong(0)

  def digest(df: DataFrame): Digest = Digest.of(df, Columns)

  /** Digest and raw column bytes in one pass. */
  def digestAndBytes(df: DataFrame): (Digest, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(Columns.map(col): _*)), lit(0L)),
      rawBytesCol).head()
    (Digest(r.getLong(0), r.getLong(1)), r.getLong(2))
  }

  def pkFilter(tenant: Int, users: Seq[Long]): Column =
    col("tenant") === tenant && (if (users.size == 1) col("user_id") === users.head
    else col("user_id").isin(users: _*))
}

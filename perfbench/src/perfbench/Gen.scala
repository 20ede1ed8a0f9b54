package perfbench

import java.sql.Timestamp
import java.time.LocalDateTime

import graft.scd.ScdSchema
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, row key, snapshot number) computed with xxhash64, so the same
  * seed gives the same rows whatever the partitioning, and graft only
  * ever sees the parquet files written from these frames.
  */
object Gen {

  /** Customer-shaped dimension: one business key, two Type-1 and four
    * Type-2 columns (the reference's roles on TPC-H `customer`).
    */
  val schema: ScdSchema = ScdSchema(
    businessKeys = Seq("c_custkey"),
    type1Cols = Seq("c_name", "c_phone"),
    type2Cols = Seq("c_address", "c_nationkey", "c_acctbal", "c_mktsegment"))

  val High = "2200-01-01 00:00:00"
  val HighTs: Timestamp = Timestamp.valueOf(High)
  private val Epoch0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Validity instant of snapshot `i` (one per day; the JVM runs in UTC). */
  def asOf(i: Int): Timestamp = Timestamp.valueOf(Epoch0.plusDays(i))
  def asOfSql(i: Int): String = asOf(i).toString.stripSuffix(".0")

  /** Rates per 10 000 keys per snapshot. */
  final case class Dim(keys: Long, t2Per10k: Int = 100, t1Per10k: Int = 100,
      newPer10k: Int = 50) {
    val newPerSnap: Long = keys * newPer10k / 10000
    def keysAt(i: Int): Long = keys + i * newPerSnap
  }

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64(lit(seed) +: lit(salt) +: cs: _*)

  /** Latest snapshot j in 1..i at which key `k` changed (0 if never). */
  private def lastChange(seed: Long, salt: Int, k: Column, i: Int,
      per10k: Int): Column =
    if (i <= 0) lit(0)
    else aggregate(sequence(lit(1), lit(i)), lit(0),
      (acc, j) => when(pmod(h(seed, salt, k, j), lit(10000L)) < per10k, j)
        .otherwise(acc))

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  /** Business columns of key `k` whose Type-1 / Type-2 values were last
    * changed at snapshots `e1` / `e2`. Changing snapshots always changes
    * the value (the epoch is part of it).
    */
  private def attrs(seed: Long, k: Column, e1: Column, e2: Column): Seq[Column] = Seq(
    k.as("c_custkey"),
    concat(lit("Customer#"), lpad(k.cast("string"), 9, "0"), lit("-r"),
      e1.cast("string")).as("c_name"),
    concat_ws("-", (pmod(h(seed, 7, k, e1), lit(90L)) + 10).cast("string"),
      (pmod(h(seed, 8, k, e1), lit(900L)) + 100).cast("string"),
      (pmod(h(seed, 9, k, e1), lit(9000L)) + 1000).cast("string")).as("c_phone"),
    concat(lit("addr-"), e2.cast("string"), lit("-"),
      substring(sha2(concat_ws(":", lit(seed), k, e2), 256), 1, 20)).as("c_address"),
    pmod(h(seed, 4, k, e2), lit(25L)).cast("int").as("c_nationkey"),
    ((pmod(h(seed, 5, k, e2), lit(1100000L)) - 100000) / 100)
      .cast("decimal(12,2)").as("c_acctbal"),
    element_at(array(Segments.map(lit): _*),
      (pmod(h(seed, 6, k, e2), lit(5L)) + 1).cast("int")).as("c_mktsegment"))

  /** Full source snapshot `i` (keys 1..keysAt(i)), the reference's
    * staging shape.
    */
  def snapshot(spark: SparkSession, seed: Long, d: Dim, i: Int,
      parts: Int): DataFrame = {
    val k = col("id")
    spark.range(1, d.keysAt(i) + 1, 1, parts).select(attrs(seed, k,
      lastChange(seed, 1, k, i, d.t1Per10k),
      lastChange(seed, 2, k, i, d.t2Per10k)): _*)
  }

  /** Keys of snapshot `i-1` whose Type-2 columns change at snapshot `i`
    * plus the keys new at `i`: the versions a merge of `i` opens.
    */
  def openedAt(spark: SparkSession, seed: Long, d: Dim, i: Int): Long =
    spark.range(1, d.keysAt(i - 1) + 1)
      .filter(pmod(h(seed, 2, col("id"), lit(i)), lit(10000L)) < d.t2Per10k)
      .count() + d.newPerSnap

  /** Initial dimension content: snapshot 0, one open version per key. */
  def initialDim(spark: SparkSession, seed: Long, d: Dim, parts: Int): DataFrame =
    snapshot(spark, seed, d, 0, parts).select(
      col("c_custkey").as("dim_id") +: schema.stagingCols.map(col) :+
        lit(1).as("scd_version") :+
        lit(asOf(0)).as("scd_start_date") :+
        lit(HighTs).as("scd_end_date") :+
        lit(true).as("scd_active"): _*)

  /** Fact rows for as-of joins: keys that exist from snapshot 0, event
    * times spread over snapshots 0..`span`.
    */
  def orders(spark: SparkSession, seed: Long, d: Dim, n: Long, span: Int,
      parts: Int): DataFrame = {
    val o = col("id")
    val spanSecs = span.toLong * 86400L
    spark.range(0, n, 1, parts).select(
      o.as("o_orderkey"),
      (pmod(h(seed, 30, o), lit(d.keys)) + 1).as("o_custkey"),
      (lit(asOf(0)).cast("long") + pmod(h(seed, 31, o), lit(spanSecs)))
        .cast("timestamp").as("o_orderdate"),
      (pmod(h(seed, 32, o), lit(5000000L)) / 100).cast("decimal(12,2)")
        .as("o_totalprice"))
  }

  // ---- training corpus ----------------------------------------------

  /** Corpus shape and planted rates (per 1000 documents of the second
    * half; the first half is all originals).
    */
  final case class Corpus(docs: Long, exactPer1k: Int = 100,
      nearPer1k: Int = 100, spewPer1k: Int = 80)

  private val Stop = Seq("the", "a", "of", "and", "is")
  private val Syll = Seq("ka", "lo", "mi", "ran", "te", "vo", "sul", "dar",
    "pe", "qui", "no", "bel", "fa", "gri", "hu", "zon")
  /** 16^3 = 4096 pseudo-words: low chance that two unrelated documents
    * share a 3-shingle.
    */
  private val Vocab: Seq[String] =
    for (a <- Syll; b <- Syll; c <- Syll) yield a + b + c

  /** Text of original document `src`, with tokens at positions
    * congruent to `edit` mod 11 replaced when `edit` > 0 (a near-dup).
    */
  private def text(seed: Long, src: Column, edit: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    val stop = array(Stop.map(lit): _*)
    val n = pmod(h(seed, 40, src), lit(40L)) + 30
    val toks = transform(sequence(lit(0L), n - 1), t => {
      val r = pmod(h(seed, 41, src, t), lit(1000000L))
      val word = when(r < 250000,
          element_at(stop, (pmod(r, lit(5L)) + 1).cast("int")))
        .otherwise(element_at(vocab, (pmod(r, lit(4096L)) + 1).cast("int")))
      when(edit > 0 && pmod(t, lit(11L)) === pmod(edit, lit(11L)),
        element_at(vocab, (pmod(h(seed, 42, src, t, edit), lit(4096L)) + 1)
          .cast("int")))
        .otherwise(word)
    })
    concat(initcap(array_join(toks, " ")), lit("."))
  }

  /** The corpus: `doc_id`, `text`. Second-half documents are, at the
    * stated rates, exact copies (case-changed) or token-edited copies of
    * a first-half document, or random spew the gates drop.
    */
  def corpus(spark: SparkSession, seed: Long, c: Corpus, parts: Int): DataFrame = {
    val id = col("id")
    val half = c.docs / 2
    val r = pmod(h(seed, 50, id), lit(1000L))
    val src = pmod(h(seed, 51, id), lit(half))
    val kind = when(id < half, "orig")
      .when(r < c.exactPer1k, "exact")
      .when(r < c.exactPer1k + c.nearPer1k, "near")
      .when(r < c.exactPer1k + c.nearPer1k + c.spewPer1k, "spew")
      .otherwise("orig")
    val spew = concat((1 to 12).map(i =>
      md5(concat(lit(s"$seed:$i:"), id.cast("string")))): _*)
    spark.range(0, c.docs, 1, parts).select(id.as("doc_id"),
      when(kind === "exact", upper(text(seed, src, lit(0L))))
        .when(kind === "near", text(seed, src, id + 1))
        .when(kind === "spew", spew)
        .otherwise(text(seed, id, lit(0L))).as("text"))
  }
}

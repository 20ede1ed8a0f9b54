package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The shared streaming fold: empty streams are `None`, `step` sees the
  * batches in order, failures surface, and a resume is refused.
  */
class StreamFoldSpec extends SparkSpec {

  private def rows(ids: Range): DataFrame =
    spark.range(ids.start, ids.end).select(col("id"),
      (col("id") % 2).as("k"))

  /** `ids` landed in `dir` as one parquet file per element of `split`. */
  private def landFiles(dir: String, split: Seq[Range]): Unit =
    split.foreach(r => rows(r).coalesce(1).write.mode("append").parquet(dir))

  private def tmp(p: String): String =
    Files.createTempDirectory(s"graft-sf-$p").toString

  test("an empty source returns None and never calls step") {
    // no files at all: a zero-row parquet file would still be a batch
    val stream = spark.readStream.schema(rows(0 until 0).schema)
      .parquet(tmp("empty"))
    var calls = 0
    val out = StreamFold[Long](stream, tmp("cp")) {
      (_, b, _) => calls += 1; b.count()
    }
    assert(out.isEmpty)
    assert(calls == 0)
  }

  test("step sees None first, then Some, with increasing batch ids") {
    val land = tmp("three")
    landFiles(land, Seq(0 until 4, 4 until 10, 10 until 12))
    val seen = ArrayBuffer.empty[(Option[Long], Long)]
    val out = StreamFold[Long](StreamFold.files(spark, land), tmp("cp")) {
      (prev, b, id) =>
        seen += ((prev, id))
        prev.getOrElse(0L) + b.count()
    }
    assert(out.contains(12L))
    assert(seen.size == 3)
    assert(seen.head._1.isEmpty && seen.tail.forall(_._1.isDefined))
    val ids = seen.map(_._2)
    assert(ids == ids.sorted && ids.distinct == ids)
  }

  test("an exception in step reaches the caller") {
    val land = tmp("fail")
    landFiles(land, Seq(0 until 3, 3 until 6))
    val e = intercept[Exception] {
      StreamFold[Long](StreamFold.files(spark, land), tmp("cp")) {
        (prev, b, _) =>
          if (prev.isDefined) throw new IllegalArgumentException("boom")
          b.count()
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(_.getMessage.contains("boom")))
  }

  test("a resume from a checkpoint that committed a batch is refused") {
    val land = tmp("resume")
    val cp = tmp("cp")
    landFiles(land, Seq(0 until 3, 3 until 5))
    def drain(): Option[Long] =
      StreamFold[Long](StreamFold.files(spark, land), cp) {
        (prev, b, _) => prev.getOrElse(0L) + b.count()
      }
    assert(drain().contains(5L))
    landFiles(land, Seq(5 until 9))
    val e = intercept[IllegalStateException](drain())
    assert(e.getMessage.contains(cp))
  }

  test("addPartials sums by key; unionOr falls back to an empty relation") {
    val part = rows(0 until 6).groupBy(col("k")).agg(count(lit(1)).as("n"))
    val one = StreamFold.addPartials(None, part, Seq("k"), Seq("n"))
    val two = StreamFold.addPartials(Some(one), part, Seq("k"), Seq("n"))
    assert(two.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((0L, 6L), (1L, 6L)))
    val schema = StructType(Seq(StructField("a", LongType)))
    val empty = StreamFold.unionOr(spark, Nil, schema)
    assert(empty.schema == schema && empty.isEmpty)
    assert(StreamFold.unionOr(spark, Seq(one, one), schema).count() == 4)
  }
}

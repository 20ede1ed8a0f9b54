package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.dedup.IncrementalLsh
import graft.text.IncrementalWinnow
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Draining an empty landing directory: each door returns empty outputs
  * with its own schema, and a returned index still accepts a batch.
  */
class StreamingEmptySourceSpec extends SparkSpec {

  /** Two copies of one text and one unrelated doc. */
  private def docs: DataFrame = {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog and keeps running " +
      "across the wide green field until the sun goes down"
    Seq((1L, t), (2L, t), (3L, "an unrelated short note about the weather"))
      .toDF("doc_id", "text")
  }

  /** A landing directory with no files, so no micro-batch arrives. */
  private def emptyStream(): (DataFrame, String) =
    (spark.readStream.schema(docs.schema).parquet(
        Files.createTempDirectory("graft-es-land").toString),
      Files.createTempDirectory("graft-es-cp").toString)

  private def names(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq

  /** door -> drain an empty stream, check its outputs, and return the
    * pairs/matches a later two-copy batch finds in the returned index
    * (None for a door that returns no index).
    */
  private val doors: Seq[(String, (DataFrame, String) => Option[Long])] = Seq(
    "StreamingCorpus" -> { (stream, cp) =>
      val (idx, gated, pairs) =
        StreamingCorpus.ingest(stream, "doc_id", "text", cp)
      assert(names(gated) == Seq("doc_id", "text", "quality", "lang_pred"))
      assert(pairs.schema == StreamingLsh.PairsSchema)
      assert(gated.isEmpty && pairs.isEmpty)
      Some(IncrementalLsh.addBatch(idx, docs, "doc_id", "text")._2.count())
    },
    "StreamingLm" -> { (stream, cp) =>
      val lm = StreamingLm.ingest(stream, "doc_id", "text", cp)
      assert(Seq(lm.c1, lm.c2, lm.c3).forall(_.isEmpty))
      val later = graft.text.Repetition.fitBackoff(docs, "doc_id", "text")
      assert(lm.merge(later).c1.count() == later.c1.count())
      None
    },
    "StreamingWinnow" -> { (stream, cp) =>
      val (idx, matches) =
        StreamingWinnow.ingest(stream, "doc_id", "text", cp)
      assert(matches.schema == StreamingWinnow.MatchesSchema)
      assert(matches.isEmpty)
      Some(IncrementalWinnow.addBatch(idx, docs, "doc_id", "text")._2.count())
    })

  test("empty source: empty outputs, and the index accepts a later batch") {
    doors.foreach { case (door, drain) =>
      val (stream, cp) = emptyStream()
      val later = drain(stream, cp)
      assert(later.forall(_ == 1L), s"$door: $later later pairs")
    }
  }
}

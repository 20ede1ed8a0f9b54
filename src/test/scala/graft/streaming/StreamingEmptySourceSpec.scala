package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.dedup.IncrementalLsh
import graft.multimodal.HammingIndex
import graft.similarity.IncrementalSemantic
import graft.text.IncrementalWinnow
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

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

  /** Two copies of one embedding and one orthogonal to it. */
  private def vecs: DataFrame = {
    import spark.implicits._
    Seq((1L, Array(0f, 0f, 1f, 0f)), (2L, Array(0f, 0f, 1f, 0f)),
      (3L, Array(0f, 0f, 0f, 1f))).toDF("doc_id", "embedding")
  }

  /** Two copies of one hash and its complement within the hash width. */
  private def hashes(m: HammingIndex.Medium): DataFrame = {
    import spark.implicits._
    val h = 0x2D5A3C1E9L
    Seq((1L, h), (2L, h), (3L, ~h & ((1L << m.hashBits) - 1)))
      .toDF("id", m.hashCol)
  }

  /** The `(doc_id, payload, n_bytes)` rows a media door reads. */
  private def mediaSchema: StructType = {
    import spark.implicits._
    Seq((1L, Array[Byte](), 0)).toDF("doc_id", "payload", "n_bytes").schema
  }

  /** A landing directory with no files, so no micro-batch arrives. */
  private def emptyStream(schema: StructType): (DataFrame, String) =
    (spark.readStream.schema(schema).parquet(
        Files.createTempDirectory("graft-es-land").toString),
      Files.createTempDirectory("graft-es-cp").toString)

  private def names(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq

  private def mediaDoor(m: HammingIndex.Medium) =
    (mediaSchema, { (stream: DataFrame, cp: String) =>
      val (idx, pairs) = StreamingMedia.ingest(m)(stream, cp)
      assert(pairs.schema == StreamFold.PairsSchema)
      assert(pairs.isEmpty && idx.hashes.isEmpty)
      Some(m.addBatch(idx, hashes(m))._2.count())
    })

  /** door -> (its stream schema, drain an empty stream, check its
    * outputs, and return the pairs/matches a later batch with one
    * duplicate pair finds in the returned index; None for a door that
    * returns no index).
    */
  private def doors
      : Seq[(String, (StructType, (DataFrame, String) => Option[Long]))] = Seq(
    "StreamingCorpus" -> (docs.schema, { (stream, cp) =>
      val (idx, gated, pairs) =
        StreamingCorpus.ingest(stream, "doc_id", "text", cp)
      assert(names(gated) == Seq("doc_id", "text", "quality", "lang_pred"))
      assert(pairs.schema == StreamingLsh.PairsSchema)
      assert(gated.isEmpty && pairs.isEmpty)
      Some(IncrementalLsh.addBatch(idx, docs, "doc_id", "text")._2.count())
    }),
    "StreamingLm" -> (docs.schema, { (stream, cp) =>
      val lm = StreamingLm.ingest(stream, "doc_id", "text", cp)
      assert(Seq(lm.c1, lm.c2, lm.c3).forall(_.isEmpty))
      val later = graft.text.Repetition.fitBackoff(docs, "doc_id", "text")
      assert(lm.merge(later).c1.count() == later.c1.count())
      None
    }),
    "StreamingWinnow" -> (docs.schema, { (stream, cp) =>
      val (idx, matches) =
        StreamingWinnow.ingest(stream, "doc_id", "text", cp)
      assert(matches.schema == StreamingWinnow.MatchesSchema)
      assert(matches.isEmpty)
      Some(IncrementalWinnow.addBatch(idx, docs, "doc_id", "text")._2.count())
    }),
    "StreamingLsh" -> (docs.schema, { (stream, cp) =>
      val (idx, pairs) = StreamingLsh.ingest(stream, "doc_id", "text", cp)
      assert(pairs.schema == StreamingLsh.PairsSchema)
      assert(pairs.isEmpty && idx.rows.isEmpty)
      Some(IncrementalLsh.addBatch(idx, docs, "doc_id", "text")._2.count())
    }),
    "StreamingSemantic" -> (vecs.schema, { (stream, cp) =>
      import spark.implicits._
      // seed members on two other axes: no later vector pairs with them
      val (init, _) = IncrementalSemantic.build(
        Seq((10L, Array(1f, 0f, 0f, 0f)), (11L, Array(0f, 1f, 0f, 0f)))
          .toDF("doc_id", "embedding"),
        "doc_id", "embedding", threshold = 0.99, c = 2)
      val (idx, pairs) = StreamingSemantic.ingest(stream, "doc_id",
        "embedding", cp, init, threshold = 0.99)
      assert(pairs.schema == StreamFold.PairsSchema)
      assert(pairs.isEmpty && idx.members.count() == 2)
      Some(IncrementalSemantic.addBatch(idx, vecs, "doc_id", "embedding",
        threshold = 0.99)._2.count())
    }),
    "StreamingMedia(Audio)" -> mediaDoor(HammingIndex.Audio),
    "StreamingMedia(Image)" -> mediaDoor(HammingIndex.Image))

  test("empty source: empty outputs, and the index accepts a later batch") {
    doors.foreach { case (door, (schema, drain)) =>
      val (stream, cp) = emptyStream(schema)
      val later = drain(stream, cp)
      assert(later.forall(_ == 1L), s"$door: $later later pairs")
    }
  }
}

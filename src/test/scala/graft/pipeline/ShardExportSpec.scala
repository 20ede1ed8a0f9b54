package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.functions.TokenBinary
import graft.queries.fixtures.Streams
import graft.sources.Tables
import graft.text.TextAnalysis
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Binary loader export: the published artifact must carry exactly the
  * manifest's placement (idx side) and every token id in order (bin
  * side); the codec round-trips and rejects torn buffers.
  */
class ShardExportSpec extends SparkSpec {

  import spark.implicits._

  private val SeqLen = 64
  private val Groups = 4

  private def docs = Tables(spark, "/root/testdata/sf0.001", "documents")

  test("codec: pack/unpack round-trip, torn buffer -> null, weighted sum") {
    val df = Seq(
      (1L, Seq(0, 1, -1, Int.MaxValue, Int.MinValue, 123456789)),
      (2L, Seq.empty[Int]),
      (3L, Seq(7))).toDF("id", "ids")
    val back = df.select(col("id"),
        TokenBinary.unpackCol(TokenBinary.packCol(col("ids"))).as("back"),
        TokenBinary.weightedSumCol(TokenBinary.packCol(col("ids")))
          .as("ws"))
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Int](1), r.getLong(2)))).toMap
    assert(back(1L)._1 == Seq(0, 1, -1, Int.MaxValue, Int.MinValue,
      123456789))
    assert(back(1L)._2 == Seq(0, 1, -1, Int.MaxValue.toLong,
      Int.MinValue.toLong, 123456789L).zipWithIndex
      .map { case (v, i) => (i + 1) * v }.sum)
    assert(back(2L)._1 == Seq.empty && back(2L)._2 == 0L)
    assert(back(3L) == (Seq(7), 7L))
    val torn = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("b")
      .select(TokenBinary.unpackCol(col("b")).as("u"),
        TokenBinary.weightedSumCol(col("b")).as("w"))
      .collect().head
    assert(torn.isNullAt(0) && torn.isNullAt(1))
  }

  test("idx round-trip == in-memory manifest; bin tiles sequences exactly") {
    val root = Files.createTempDirectory("graft-shard-export").toString
    val cat = new ParquetCatalog(spark, root)
    Packing.exportShards(docs, "doc_id", "text", cat, "t",
      seqLen = SeqLen, numGroups = Groups)

    val (bin, idx) = Packing.readShards(cat, "t")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("seq"), col("doc_id"), col("doc_from"),
          col("doc_to"), col("seq_from"))
        .collect().map(_.toSeq).toSet
    val manifest = Packing.sequenceManifest(
      Packing.packSequences(docs, "doc_id", "text", SeqLen, Groups),
      "doc_id", SeqLen)
    assert(key(idx) == key(manifest) && key(idx).nonEmpty)

    // every non-final sequence of each group is exactly SeqLen tokens;
    // n_tok always matches the buffer length
    val rows = bin.select(col("grp"), col("seq"), col("n_tok"),
        length(col("tokens")).as("bytes"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getInt(3)))
    assert(rows.forall { case (_, _, n, b) => b == 4 * n })
    val lastSeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    rows.foreach { case (g, s, n, _) =>
      if (s != lastSeq(g)) assert(n == SeqLen, s"grp $g seq $s short")
    }

    // bin content == the tokenized tape: rebuild each group's tape from
    // the decoded buffers in seq order and compare against tokenizing
    // the documents in placement order
    val decoded = Packing.binDecoded(bin)
      .select(col("grp"), col("seq"), col("tids"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Int](2)))
      .toMap
    val tapes = decoded.keys.groupBy(_._1).map { case (g, ks) =>
      g -> ks.toSeq.sortBy(_._2).flatMap(decoded)
    }
    val expected = Packing
      .packSequences(docs, "doc_id", "text", SeqLen, Groups)
      .join(docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks")), Seq("doc_id"))
      .select(col("grp"), col("start_tok"),
        transform(col("toks"),
          t => Packing.tokenId(t)).as("tids"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.sortBy(_._2).flatMap(_._3).toSeq
      }
    assert(tapes == expected)
    Streams.rmTree(root)
  }

  test("appendShards: batched ingest == one-shot export over the union") {
    import graft.text.TextAnalysis
    val b1 = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    def stream(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
    val rootInc = Files.createTempDirectory("graft-app-inc").toString
    val catInc = new ParquetCatalog(spark, rootInc)
    Packing.exportShards(b1, "doc_id", "text", catInc, "t",
      seqLen = SeqLen, numGroups = Groups)
    Packing.appendShards("doc_id", stream(b2), catInc, "t",
      seqLen = SeqLen, numGroups = Groups)
    val rootOne = Files.createTempDirectory("graft-app-one").toString
    val catOne = new ParquetCatalog(spark, rootOne)
    Packing.exportShards(b1.unionByName(b2), "doc_id", "text", catOne,
      "t", seqLen = SeqLen, numGroups = Groups)
    def binRows(c: ParquetCatalog) = Packing.binDecoded(
        Packing.readShards(c, "t")._1)
      .select(col("grp"), col("seq"), col("n_tok"), col("tids"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getSeq[Int](3)))).toMap
    def idxRows(c: ParquetCatalog) = Packing.readShards(c, "t")._2
      .collect().map(_.toSeq).toSet
    assert(binRows(catInc) == binRows(catOne))
    assert(binRows(catInc).nonEmpty)
    assert(idxRows(catInc) == idxRows(catOne))
    // append into a missing table degrades to a fresh export
    Packing.appendShards("doc_id", stream(b1), catInc, "fresh",
      seqLen = SeqLen, numGroups = Groups)
    assert(catInc.exists("fresh_bin") && catInc.exists("fresh_idx"))
    Streams.rmTree(rootInc)
    Streams.rmTree(rootOne)
  }

  test("reserveUnk + unkId: OOV encodes as the reserved id, never -1; " +
      "mixed-scheme appends are loud") {
    val vocab = Seq(("alpha", 0, 5L), ("beta", 1, 3L), ("gamma", 2, 1L))
      .toDF("token", "id", "n")
    val reserved = Packing.reserveUnk(vocab)
    // rebase: <unk> takes slot 0, every trained id shifts up by one
    assert(reserved.orderBy(col("id")).collect().map(r =>
        (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("<unk>", 0), ("alpha", 1), ("beta", 2), ("gamma", 3)))
    val stream = Seq(
      (1L, 0, "alpha"), (1L, 1, "zzz"), (1L, 2, "beta"),
      (2L, 0, "gamma"), (2L, 1, "unseen")).toDF("doc_id", "pos", "tok")
    val root = Files.createTempDirectory("graft-unk").toString
    val cat = new ParquetCatalog(spark, root)
    Packing.exportShardsOf("doc_id", stream, cat, "t",
      seqLen = SeqLen, numGroups = 1,
      vocabIds = Some(reserved), unkId = Some(0))
    val tids = Packing.binDecoded(Packing.readShards(cat, "t")._1)
      .select(explode(col("tids")).as("tid"))
      .collect().map(_.getInt(0)).toSeq
    assert(tids.sorted == Seq(0, 0, 1, 2, 3)) // two unks, zero -1s
    assert(cat.table("t_scheme").head().getString(0) == "vocab_unk0")
    // appending under a DIFFERENT id scheme (plain vocab, -1 OOV) must
    // refuse: the stored tape's ids would silently mean other tokens
    val e = intercept[IllegalArgumentException] {
      Packing.appendShards("doc_id",
        Seq((3L, 0, "alpha")).toDF("doc_id", "pos", "tok"), cat, "t",
        seqLen = SeqLen, numGroups = 1, vocabIds = Some(reserved))
    }
    assert(e.getMessage.contains("scheme"))
    // negative reserved ids are rejected up front
    intercept[IllegalArgumentException] {
      Packing.exportShardsOf("doc_id", stream, cat, "t2",
        seqLen = SeqLen, numGroups = 1,
        vocabIds = Some(reserved), unkId = Some(-1))
    }
    Streams.rmTree(root)
  }

  test("export republish is atomic: a second export advances the version") {
    val root = Files.createTempDirectory("graft-shard-v2").toString
    val cat = new ParquetCatalog(spark, root)
    val half = docs.filter(col("doc_id") % 2 === 0)
    Packing.exportShards(half, "doc_id", "text", cat, "t",
      seqLen = SeqLen, numGroups = Groups)
    val v1 = cat.currentVersion("t_bin").get
    Packing.exportShards(docs, "doc_id", "text", cat, "t",
      seqLen = SeqLen, numGroups = Groups)
    assert(cat.currentVersion("t_bin").get > v1)
    val (bin, idx) = Packing.readShards(cat, "t")
    val nDocs = idx.select(col("doc_id")).distinct().count()
    assert(nDocs == docs.filter(
      size(TextAnalysis.tokens(col("text"))) > 0).count())
    // time travel still reads the first export
    assert(cat.tableAsOfVersion("t_idx",
        cat.currentVersion("t_idx").get - 1)
      .select(col("doc_id")).distinct().count() < nDocs)
    Streams.rmTree(root)
  }
}

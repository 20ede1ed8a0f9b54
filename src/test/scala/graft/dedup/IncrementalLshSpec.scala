package graft.dedup

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental LSH index: batched ingestion reproduces the one-shot
  * run exactly-once, emits only new-member pairs per batch, and the
  * index survives a catalog round-trip.
  */
class IncrementalLshSpec extends SparkSpec {

  /** Planted duplicates: base docs + exact copies of every 7th. */
  private def corpus: DataFrame = {
    val d = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  private def pairSet(df: DataFrame) =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("two-batch ingestion == one-shot batch run, exactly once") {
    val oneShot = Dedup.minhashNearDuplicatesFrom(
      Dedup.shingleSets(corpus, "doc_id", "text"))
    val (idx, p1) = IncrementalLsh.build(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val (_, p2) = IncrementalLsh.addBatch(idx,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    val incr = p1.unionByName(p2)
    assert(pairSet(incr) == pairSet(oneShot))
    // exactly-once: the union has no duplicate pairs
    assert(incr.count() == incr.select("a", "b").distinct().count())
    assert(pairSet(p1).intersect(pairSet(p2)).isEmpty)
  }

  test("a batch emits only pairs touching its own documents") {
    val (idx, _) = IncrementalLsh.build(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val batch2 = corpus.filter(col("doc_id") % 2 =!= 0)
    val ids2 = batch2.select("doc_id").collect().map(_.getLong(0)).toSet
    val (_, p2) = IncrementalLsh.addBatch(idx, batch2, "doc_id", "text")
    pairSet(p2).foreach { case (a, b) =>
      assert(ids2.contains(a) || ids2.contains(b))
    }
    // cross-batch dups exist by construction: base doc even, +1000000
    // copy odd (and vice versa), so SOME pair must straddle batches
    assert(pairSet(p2).exists { case (a, b) =>
      ids2.contains(a) ^ ids2.contains(b)
    })
  }

  test("three-batch ingestion matches too (batch boundaries arbitrary)") {
    val oneShot = Dedup.minhashNearDuplicatesFrom(
      Dedup.shingleSets(corpus, "doc_id", "text"))
    val parts = (0 to 2).map(i => corpus.filter(col("doc_id") % 3 === i))
    val (idx0, p0) = IncrementalLsh.build(parts(0), "doc_id", "text")
    val (idx1, p1) = IncrementalLsh.addBatch(idx0, parts(1), "doc_id", "text")
    val (_, p2) = IncrementalLsh.addBatch(idx1, parts(2), "doc_id", "text")
    assert(pairSet(p0.unionByName(p1).unionByName(p2)) == pairSet(oneShot))
  }

  test("index round-trips through catalog tables") {
    import graft.catalog.ParquetCatalog
    val (idx, _) = IncrementalLsh.build(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val cat = new ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-lsh").toString)
    cat.create("lsh_buckets", idx.buckets.schema)
    cat.overwrite("lsh_buckets", idx.buckets)
    cat.create("lsh_sets", idx.sets.schema)
    cat.overwrite("lsh_sets", idx.sets)
    val loaded = LshIndex(cat.table("lsh_buckets"), cat.table("lsh_sets"))
    val batch2 = corpus.filter(col("doc_id") % 2 =!= 0)
    val (_, fresh) = IncrementalLsh.addBatch(idx, batch2, "doc_id", "text")
    val (_, persisted) = IncrementalLsh.addBatch(loaded, batch2, "doc_id", "text")
    assert(pairSet(fresh) == pairSet(persisted))
  }

  test("add a batch, delete it: index is exactly the pre-add index") {
    val evens = corpus.filter(col("doc_id") % 2 === 0)
    val odds = corpus.filter(col("doc_id") % 2 =!= 0)
    val (idx0, _) = IncrementalLsh.build(evens, "doc_id", "text")
    val (idx1, _) = IncrementalLsh.addBatch(idx0, odds, "doc_id", "text")
    val idx2 = IncrementalLsh.delete(idx1, odds.select("doc_id"), "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    assert(rows(idx2.buckets) == rows(idx0.buckets))
    assert(rows(idx2.sets) == rows(idx0.sets))
    // and the shrunk index behaves like the pre-add one: re-adding the
    // deleted batch re-emits the same new pairs
    val (_, fresh0) = IncrementalLsh.addBatch(idx0, odds, "doc_id", "text")
    val (_, fresh2) = IncrementalLsh.addBatch(idx2, odds, "doc_id", "text")
    assert(pairSet(fresh0) == pairSet(fresh2))
  }

  test("deleting unindexed ids is a no-op") {
    import spark.implicits._
    val (idx, _) = IncrementalLsh.build(corpus, "doc_id", "text")
    val ghost = Seq(999999998L, 999999999L).toDF("doc_id")
    val idx2 = IncrementalLsh.delete(idx, ghost, "doc_id")
    assert(idx2.buckets.count() == idx.buckets.count() &&
      idx2.sets.count() == idx.sets.count())
  }

  test("save/load round-trips and repeated saves keep version count bounded") {
    import graft.catalog.ParquetCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-lshsv")
    val cat = new ParquetCatalog(spark, root.toString)
    val evens = corpus.filter(col("doc_id") % 2 === 0)
    val odds = corpus.filter(col("doc_id") % 2 =!= 0)
    var (idx, _) = IncrementalLsh.build(evens, "doc_id", "text")
    IncrementalLsh.save(idx, cat, "lshsv")
    val (idx1, _) = IncrementalLsh.addBatch(idx, odds, "doc_id", "text")
    IncrementalLsh.save(idx1, cat, "lshsv")
    val idx2 = IncrementalLsh.delete(idx1, odds.select("doc_id"), "doc_id")
    IncrementalLsh.save(idx2, cat, "lshsv")
    // exactly one on-disk version per relation after 3 saves
    for (t <- Seq("lshsv_buckets", "lshsv_sets")) {
      val dirs = java.nio.file.Files.list(root.resolve(t)).toArray
        .map(_.toString).filter(_.contains("/v_"))
      assert(dirs.length == 1, s"$t versions: ${dirs.mkString(",")}")
    }
    val loaded = IncrementalLsh.load(cat, "lshsv")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    assert(rows(loaded.buckets) == rows(idx2.buckets))
    assert(rows(loaded.sets) == rows(idx2.sets))
  }

  test("load, addBatch, save, addBatch: the vacuumed version is not read") {
    val cat = new graft.catalog.ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-lshvac").toString)
    def triples(df: DataFrame) = df.select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = triples(Dedup.minhashNearDuplicatesFrom(
      Dedup.shingleSets(corpus, "doc_id", "text")))
    val Seq(b0, b1, b2) = batches(3, 14L)
    val (idx0, p0) = IncrementalLsh.build(b0, "doc_id", "text")
    IncrementalLsh.save(idx0, cat, "lshvac")
    val (idx1, p1) = IncrementalLsh.addBatch(
      IncrementalLsh.load(cat, "lshvac"), b1, "doc_id", "text")
    val got = triples(p0) ++ triples(p1)
    // writes v_2 and vacuums v_1, the version load read
    IncrementalLsh.save(idx1, cat, "lshvac")
    val (idx2, p2) = IncrementalLsh.addBatch(idx1, b2, "doc_id", "text")
    assert(got ++ triples(p2) == oneShot)
    assert(idx2.sets.count() == corpus.count())
  }

  /** `corpus` split into `k` batches by a seeded hash of the id. */
  private def batches(k: Int, seed: Long): Seq[DataFrame] = {
    val b = pmod(xxhash64(col("doc_id"), lit(seed)), lit(k.toLong))
    (0 until k).map(i => corpus.filter(b === i))
  }

  test("any batching's pair union == one-shot pairs, jaccard bit-exact") {
    def triples(df: DataFrame) = df.select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = triples(Dedup.minhashNearDuplicatesFrom(
      Dedup.shingleSets(corpus, "doc_id", "text")))
    assert(oneShot.nonEmpty)
    for ((k, seed) <- Seq(2 -> 11L, 3 -> 12L, 6 -> 13L)) {
      val parts = batches(k, seed)
      val (idx0, p0) = IncrementalLsh.build(parts.head, "doc_id", "text")
      val ps = parts.tail.scanLeft((idx0, p0)) { case ((i, _), d) =>
        IncrementalLsh.addBatch(i, d, "doc_id", "text")
      }.map(_._2)
      val all = ps.map(triples)
      assert(all.reduce(_ ++ _) == oneShot, s"$k-way batching")
      assert(all.map(_.size).sum == oneShot.size, s"$k-way: not exactly once")
    }
  }

  test("every addBatch starts the same number of Spark jobs") {
    import org.apache.spark.graft.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // jobs one fold starts: the eager index checkpoints plus the new
    // pairs materialized the way StreamFold.index does
    def jobsOf(body: => DataFrame): Int = {
      assert(ListenerBridge.tryDrain(sc))
      jobs.set(0)
      body.localCheckpoint()
      assert(ListenerBridge.tryDrain(sc))
      jobs.get
    }
    val parts = batches(6, 21L)
    var (idx, _) = IncrementalLsh.build(parts.head, "doc_id", "text")
    sc.addSparkListener(listener)
    val perBatch = try parts.tail.map { d =>
      jobsOf {
        val (next, p) = IncrementalLsh.addBatch(idx, d, "doc_id", "text")
        idx = next
        p
      }
    } finally sc.removeSparkListener(listener)
    assert(perBatch(1) == perBatch(4), s"jobs per addBatch: $perBatch")
  }
}

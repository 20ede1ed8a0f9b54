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
    cat.create("lsh_rows", idx.rows.schema)
    cat.overwrite("lsh_rows", idx.rows)
    val loaded = LshIndex(cat.table("lsh_rows"))
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
    assert(rows(idx2.rows) == rows(idx0.rows))
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
    assert(idx2.rows.count() == idx.rows.count())
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
    // one table, exactly one on-disk version after 3 saves
    assert(java.nio.file.Files.list(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq == Seq("lshsv_rows"))
    val dirs = java.nio.file.Files.list(root.resolve("lshsv_rows")).toArray
      .map(_.toString).filter(_.contains("/v_"))
    assert(dirs.length == 1, s"versions: ${dirs.mkString(",")}")
    val loaded = IncrementalLsh.load(cat, "lshsv")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    assert(rows(loaded.rows) == rows(idx2.rows))
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
    // even hash splits, and uneven ones cut at random points of a
    // seeded id hash, one of them with an empty batch
    val uneven = Seq(5L, 6L).map { seed =>
      val rnd = new scala.util.Random(seed)
      val cuts = 0 +: Seq.fill(2 + rnd.nextInt(4))(rnd.nextInt(1000)).sorted :+ 1000
      val h = pmod(xxhash64(col("doc_id"), lit(seed)), lit(1000L))
      val cs = if (seed == 5L) cuts.updated(2, cuts(1)) else cuts
      s"cuts $cs" -> cs.sliding(2).map { case Seq(lo, hi) =>
        corpus.filter(h >= lo && h < hi) }.toSeq
    }
    for ((name, parts) <- Seq(2 -> 11L, 3 -> 12L, 6 -> 13L).map {
        case (k, seed) => s"$k-way" -> batches(k, seed) } ++ uneven) {
      val (idx0, p0) = IncrementalLsh.build(parts.head, "doc_id", "text")
      val ps = parts.tail.scanLeft((idx0, p0)) { case ((i, _), d) =>
        IncrementalLsh.addBatch(i, d, "doc_id", "text")
      }.map(_._2)
      val all = ps.map(triples)
      assert(all.reduce(_ ++ _) == oneShot, s"$name batching")
      assert(all.map(_.size).sum == oneShot.size, s"$name: not exactly once")
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
    // the new rows' checkpoint, then the pairs' band-key broadcast and
    // the candidates' distinct
    assert(perBatch.distinct.size == 1 && perBatch.head <= 4,
      s"jobs per addBatch: $perBatch")
  }

  test("an addBatch probes the stored rows from the batch side, hashing once") {
    import graft.PlanProbe
    import graft.functions.{LshBands, ShingleHash60}
    val parts = batches(6, 31L)
    val (idx0, _) = IncrementalLsh.build(parts.head, "doc_id", "text")
    val idx = parts.tail.init.foldLeft(idx0) { (i, d) =>
      IncrementalLsh.addBatch(i, d, "doc_id", "text")._1
    }
    val plans = PlanProbe.actionPlans(spark) {
      IncrementalLsh.addBatch(idx, parts.last, "doc_id", "text")._2
        .localCheckpoint()
    }
    val stored = PlanProbe.rddIds(idx.rows)
    assert(stored.size == 5, s"slices: $stored")
    val (scans, bad) = PlanProbe.storedProbes(plans, stored)
    assert(scans == stored.size && bad.isEmpty, bad.mkString("\n"))
    // only the batch is shingled and banded, each once per document
    assert(PlanProbe.oncePerScan(plans) { case _: ShingleHash60 => })
    assert(PlanProbe.oncePerScan(plans) { case _: LshBands => })
  }

  test("band keys outgrowing the broadcast limit shuffle instead, with the same pairs") {
    import graft.PlanProbe
    import graft.catalog.IndexStore
    def withThreshold[T](bytes: Long)(body: => T): T = {
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val prev = keys.map(k => spark.conf.getOption(k))
      keys.foreach(spark.conf.set(_, bytes.toString))
      try body finally keys.zip(prev).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    def triples(df: DataFrame) = df.select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val Seq(b0, b1) = batches(2, 41L)
    // a batch's rows fit the limit once but not once per band
    val rows = Dedup.banded(Dedup.shingleSets(b1, "doc_id", "text"), 6, 2)
      .localCheckpoint()
    val info = spark.sparkContext.getRDDStorageInfo
      .find(i => PlanProbe.rddIds(rows)(i.id)).get
    withThreshold(2 * (info.memSize + info.diskSize)) {
      assert(IndexStore.buildSide(rows) ne rows)
      assert(IndexStore.buildSide(rows, 6) eq rows)
    }
    val oneShot = triples(Dedup.minhashNearDuplicatesFrom(
      Dedup.shingleSets(corpus, "doc_id", "text")))
    val got = withThreshold(-1) {
      val (idx, p0) = IncrementalLsh.build(b0, "doc_id", "text")
      triples(p0) ++ triples(IncrementalLsh.addBatch(idx, b1, "doc_id",
        "text")._2)
    }
    assert(got == oneShot)
  }
}

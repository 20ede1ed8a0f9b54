package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 20 base docs from a small vocabulary + exact copies + near copies.
  lazy val docs: DataFrame = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = (0 until 20).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val exact = base.filter(_._1 % 5 == 0).map { case (id, t) => (id + 100, t) }
    val near = base.filter(_._1 % 4 == 0)
      .map { case (id, t) => (id + 200, t + " tail marker words") }
    (base ++ exact ++ near).toDF("doc_id", "text")
  }

  test("exactGroups folds exact copies only") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val dupGroups = groups.filter(_.getAs[Long]("n_copies") > 1)
    assert(dupGroups.length === 4) // ids 0,5,10,15 have copies
    assert(dupGroups.map(_.getAs[Long]("keep_id")).toSet === Set(0L, 5L, 10L, 15L))
    assert(groups.map(_.getAs[Long]("n_copies")).sum === docs.count())
  }

  test("jaccardPairs finds exact and near duplicates, nothing else below threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // every exact copy pairs with its original at jaccard 1.0
    Seq(0L, 5L, 10L, 15L).foreach { id =>
      assert(pairSet.contains((id, id + 100)), s"missing exact pair $id")
    }
    // every near copy pairs with its original above 0.5
    Seq(0L, 4L, 8L, 12L, 16L).foreach { id =>
      assert(pairSet.contains((id, id + 200)), s"missing near pair $id")
    }
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("minhash LSH recovers the same duplicate pairs as the exact join") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates with true jaccard -> no false positives
    assert(lsh.subsetOf(exact))
    // high-similarity pairs (the planted ones) must all survive banding
    val planted = exact.filter { case (a, b) => b >= 100 }
    assert(planted.subsetOf(lsh),
      s"LSH missed planted pairs: ${planted.diff(lsh)}")
  }

  test("simhash: identical docs share fingerprints, near docs are close") {
    val fp = Dedup.simhash16(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(0L, 5L, 10L, 15L).foreach(id => assert(fp(id) === fp(id + 100)))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    Seq(0L, 4L, 8L).foreach { id =>
      assert(hamming(fp(id), fp(id + 200)) <= 6,
        s"near dup $id too far: ${hamming(fp(id), fp(id + 200))}")
    }
  }

  test("simhashPairs finds exactly the hamming<=1 pairs of the brute-force scan") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force ground truth over the fingerprints
    val fp = Dedup.simhash16(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (a, fa) <- fp; (b, fb) <- fp if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 1
    } yield (a, b, h)).toSet
    assert(pairs === expected)
    assert(expected.nonEmpty) // exact copies guarantee hamming-0 pairs
  }

  test("connectedComponents resolves chains, stars and separate components") {
    import spark.implicits._
    // chain 1-2-3-4, star 10-(11,12,13), isolated pair 20-21
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (12L, 10L), (10L, 13L),
      (21L, 20L)
    ).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges on a 200-node chain (pointer jumping)") {
    import spark.implicits._
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 200)
    assert(got.forall(_._2 == 1L), "every chain node must resolve to node 1")
  }

  test("survivorsByScore keeps the best-scoring member, ties to lowest id") {
    import spark.implicits._
    val docs = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (4L, 0.7), (5L, 0.7),
      (6L, 0.1)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val out = Dedup.survivorsByScore(docs, "doc_id", "score", pairs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // chain 1~2~3: cluster label is min id (1), survivor is best score (2)
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, true)) &&
      out(3L) == ((1L, false)))
    // tie 4/5 at 0.7: lower id survives
    assert(out(4L) == ((4L, true)) && out(5L) == ((4L, false)))
    // singleton survives trivially
    assert(out(6L) == ((6L, true)))
  }

  test("building the one-shot near-dup entries starts no Spark job") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.graft.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val ev = docs.filter($"doc_id" % 4 === 0)
      .select(($"doc_id" + 1000L).as("doc_id"), $"text")
    docs.createOrReplaceTempView("lazy_docs")
    graft.functions.GraftExtensions.register(spark)
    assert(ListenerBridge.tryDrain(sc))
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      Dedup.minhashNearDuplicates(docs, "doc_id", "text")
      Dedup.minhashCandidates(docs, "doc_id", "text")
      Dedup.crossCorpusMatches(docs, "doc_id", "text", ev, "doc_id", "text")
      Dedup.decontaminateNearDup(docs, "doc_id", "text", ev, "doc_id",
        "text")
      // the TVF inlines the analyzed plan: analysis must stay lazy too
      spark.sql("SELECT * FROM graft_near_duplicates('lazy_docs', " +
        "'doc_id', 'text', 0.5)").queryExecution.analyzed
      assert(ListenerBridge.tryDrain(sc))
      assert(jobs.get == 0)
    } finally sc.removeSparkListener(l)
  }

  test("q20 hashes each document's shingles once") {
    import graft.functions.ShingleHash60
    val q20 = graft.SparkEntry.queries("q20_minhash_lsh")(spark,
      "/root/testdata/sf0.001")
    val plan = q20.queryExecution.executedPlan
    assert(graft.PlanProbe.oncePerScan(Seq(plan)) {
      case _: ShingleHash60 => }, plan.toString)
  }

  test("shingleSets keeps exactly the documents with at least n tokens") {
    val short = Seq(1L -> "", 2L -> "a  b", 3L -> " a\tb c ", 4L -> "a b c d",
      5L -> "x x x", 6L -> "\u00a0 b c").toDF("doc_id", "text")
    for (n <- 2 to 4) {
      val got = Dedup.shingleSets(short, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).size).toMap
      val want = short.select($"doc_id",
          size(graft.functions.TextHash.shingleHash60($"text", n)))
        .collect().map(r => r.getLong(0) -> r.getInt(1))
        .filter(_._2 > 0).toMap
      assert(got == want, s"n = $n")
    }
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.catalog.ParquetCatalog
import graft.dedup.{Dedup, IncrementalLsh}
import graft.pipeline.CorpusPipeline
import graft.scd.{MergeIntoScd, MergeOptions, ScdMerge, ScdTable}
import graft.streaming.StreamingCorpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The workloads. Each runs its input set-up [[Reps]] times and then one
  * untimed op of each kind (setup_s is the session start plus the median
  * set-up plus that warm-up), then one client in a closed loop until the
  * timed ops add up to `--seconds`, then its output checks. Sizes are
  * small: every op is dominated by Spark's per-job cost at these sizes
  * already, and 22 runs of each workload must fit in under an hour.
  */
object Workloads {

  val byName: Map[String, Run => Unit] = Map(
    "scd" -> scd, "corpus_ingest" -> corpusIngest)

  val Reps = 3
  val Table = "customer_dim"
  /** The SCD dimension: 20k keys at snapshot 0; each snapshot changes
    * Type-2 columns of 1% of keys, Type-1 columns of 1%, and adds 0.5%
    * new keys.
    */
  val Dim = Gen.Dim(keys = 20000)
  /** Snapshots merged in set-up: the history reads travel through. */
  val History = 2
  val Orders = 50000L
  /** Corpus: documents and landed files (one micro-batch per file). */
  val CorpusDocs = 4800L
  val CorpusFiles = 6

  def opts(i: Int): MergeOptions = MergeOptions(Gen.asOf(i), highDate = Gen.HighTs)

  private def land(r: Run, df: DataFrame, name: String): DataFrame = {
    df.write.mode("overwrite").parquet(r.tmp(name))
    r.spark.read.parquet(r.tmp(name))
  }

  private def rmTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }
  }

  private def listDir(p: Path): Seq[Path] = {
    val ls = Files.list(p)
    try ls.iterator().asScala.toSeq finally ls.close()
  }

  private def dirBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  /** A fresh dimension in its own catalog, holding snapshot 0. */
  private def newDim(r: Run, tag: String): ScdTable = {
    val base = land(r, Gen.initialDim(r.spark, r.seed, Dim, r.cpus), s"$tag-base")
    val dim = new ScdTable(new ParquetCatalog(r.spark, r.tmp(s"$tag-cat")), Table, Gen.schema)
    dim.init(base)
    dim
  }

  private def snapshot(r: Run, tag: String, i: Int): DataFrame =
    land(r, Gen.snapshot(r.spark, r.seed, Dim, i, r.cpus), s"$tag-snap$i")

  /** One merge: `ScdTable.apply`. A traced op makes the three calls apply
    * makes itself, so each gets its own span.
    */
  def merge(dim: ScdTable, staging: DataFrame, o: MergeOptions, t: Trace): Unit =
    if (!t.enabled) dim.apply(staging, o)
    else {
      val cur = t.span("catalog", "ParquetCatalog.table")(dim.catalog.table(dim.name))
      val merged = t.span("scd", "ScdMerge.merge")(
        ScdMerge.merge(cur, staging, dim.schema, o))
      t.span("exec", "publish")(t.span("catalog", "ParquetCatalog.overwrite")(
        dim.catalog.overwrite(dim.name, merged)))
    }

  /** Check the invariants of the current dimension; returns its rows. */
  private def checkDim(r: Run, df: DataFrame, expected: Long, what: String): Long = {
    val (bad, rows) = Checks.scdInvariants(df, Some(expected))
    bad.foreach(b => r.check(false, s"$what: $b"))
    rows
  }

  /** Catalog layer figures after a merge that wrote `changed` rows. */
  private def publishStats(r: Run, dim: ScdTable, changed: => Long): Unit =
    if (r.tracer.isDefined) {
      val st = dim.catalog.stats(dim.name)
      r.layerVal("catalog.bytes_written_per_merge", st.bytes)
      r.layerVal("catalog.bytes_written_per_changed_row", st.bytes.toDouble / changed)
      r.layerVal("catalog.files_per_version", st.files)
    }

  private def finalCatalogStats(r: Run, dim: ScdTable, root: String): Unit =
    if (r.tracer.isDefined) {
      val live = dim.catalog.stats(dim.name).bytes
      val stored = listDir(Paths.get(root, dim.name))
        .filter(_.getFileName.toString.startsWith("v_")).map(dirBytes).sum
      r.layerVal("catalog.stored_bytes_per_live_byte", stored.toDouble / live)
      r.layerVal("catalog.delta_chain_length", dim.catalog.deltaChainLength(dim.name))
    }

  /** Rows a snapshot changes: Type-1 or Type-2 changed keys plus new keys. */
  private def changedRows(r: Run, i: Int): Long =
    r.spark.range(1, Dim.keysAt(i - 1) + 1).filter(
      pmod(xxhash64(lit(r.seed), lit(1), col("id"), lit(i)), lit(10000L)) < Dim.t1Per10k ||
      pmod(xxhash64(lit(r.seed), lit(2), col("id"), lit(i)), lit(10000L)) < Dim.t2Per10k)
      .count() + Dim.newPerSnap

  // ---- scd ------------------------------------------------------------

  /** Op mix of one deck, shuffled per seed and deck. Whole decks run, so
    * every run has the same mix whatever its op count. Sorted by latency
    * the kinds fall into lookups < asOf / time travel < joins < merges;
    * with 3 lookups and 4 asOf / time-travel reads per 10 ops the median
    * op lies inside the second group, not on a boundary between groups.
    */
  val Deck: Seq[String] = Seq("merge") ++ Seq.fill(3)("lookup") ++
    Seq.fill(3)("asof") ++ Seq("time_travel", "join", "join")

  /** A daily load into a versioned dimension plus the reads it serves: a
    * deck of one full-snapshot merge, key lookups, point-in-time and
    * time-travel aggregates, and as-of fact joins.
    */
  def scd(r: Run): Unit = {
    val spark = r.spark
    val rnd = new scala.util.Random(r.seed)
    var dim: ScdTable = null
    var orders: DataFrame = null
    var tag = ""
    var versions = Seq.empty[Long]
    var snap = 0
    var joins = 0
    var rows = 0L
    val applied = ArrayBuffer.empty[Int]
    // rows of the dimension after k history merges (input metadata)
    val rowsAt = (1 to History).scanLeft(Dim.keysAt(0))(_ + Gen.openedAt(spark, r.seed, Dim, _))

    def mergeOp(): Unit = {
      val t = r.nextTrace("merge")
      snap += 1
      val i = snap
      val staging = snapshot(r, tag, i)
      if (r.attempt("merge", t)(merge(dim, staging, opts(i), _)).isDefined) {
        val want = rows + Gen.openedAt(spark, r.seed, Dim, i)
        // a set-up merge is checked with the set-up's result, untimed
        rows = if (r.warm) want else checkDim(r, dim.snapshot, want, s"merge $i")
        if (!r.warm) {
          publishStats(r, dim, changedRows(r, i))
          applied += i
        }
      }
    }
    def lookup(): Unit = {
      val t = r.nextTrace("lookup")
      val keys = Seq.fill(20)(1L + rnd.nextInt(Dim.keys.toInt))
      val n = r.attempt("lookup", t) { tt =>
        val df = tt.span("scd", "ScdTable.active")(dim.active)
          .filter(col("c_custkey").isin(keys: _*))
        tt.span("exec", "collect")(df.collect()).length
      }
      n.foreach { got =>
        r.check(got == keys.distinct.size, s"lookup returned $got rows for ${keys.distinct.size} keys")
        if (t.enabled) r.layerVal("rows_returned", got)
      }
    }
    def asof(): Unit = {
      val t = r.nextTrace("asof")
      val j = rnd.nextInt(History)
      val ts = new java.sql.Timestamp(Gen.asOf(j).getTime + 12L * 3600 * 1000)
      val n = r.attempt("asof", t) { tt =>
        val df = tt.span("scd", "ScdTable.asOf")(dim.asOf(ts))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"), sum("c_acctbal"))
        tt.span("exec", "collect")(df.collect())
      }
      n.foreach { res =>
        val got = res.map(_.getLong(1)).sum
        r.check(got == Dim.keysAt(j), s"asOf(snapshot $j) saw $got keys, want ${Dim.keysAt(j)}")
        if (t.enabled) r.layerVal("rows_returned", res.length)
      }
    }
    def timeTravel(): Unit = {
      val t = r.nextTrace("time_travel")
      val k = rnd.nextInt(versions.size)
      val n = r.attempt("time_travel", t) { tt =>
        val df = tt.span("catalog", "ParquetCatalog.tableAsOfVersion")(
            dim.catalog.tableAsOfVersion(dim.name, versions(k)))
          .groupBy("c_nationkey").agg(count(lit(1)).as("n"), sum("c_acctbal"))
        tt.span("exec", "collect")(df.collect())
      }
      n.foreach { res =>
        val got = res.map(_.getLong(1)).sum
        r.check(got == rowsAt(k), s"time travel to v${versions(k)} saw $got rows, want ${rowsAt(k)}")
        if (t.enabled) r.layerVal("rows_returned", res.length)
      }
    }
    def join(): Unit = {
      joins += 1
      val native = joins % 2 == 0
      val q = joins
      val facts = orders.filter(
        pmod(xxhash64(lit(r.seed), lit(60), col("o_orderkey"), lit(q)), lit(5L)) === 0)
      val kind = if (native) "asof_join_native" else "asof_join"
      val t = r.nextTrace(kind)
      val n = r.attempt(kind, t) { tt =>
        val joined =
          if (native) tt.span("plans", "ScdTable.asOfJoinNative")(
            dim.asOfJoinNative(facts, Seq("o_custkey"), "o_orderdate"))
          else tt.span("scd", "ScdTable.asOfJoin")(
            dim.asOfJoin(facts, Seq("o_custkey"), "o_orderdate"))
        val df = joined.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), count(col("dim_id")).as("m"), sum("o_totalprice"))
        tt.span("exec", "collect")(df.collect())
      }
      n.foreach { res =>
        val (all, matched) = (res.map(_.getLong(1)).sum, res.map(_.getLong(2)).sum)
        val want = facts.count()
        r.check(all == want && matched == want,
          s"$kind: $all rows, $matched matched, for $want facts")
        if (t.enabled) r.layerVal("rows_returned", res.length)
      }
    }
    val ops: Map[String, () => Unit] = Map("merge" -> mergeOp, "lookup" -> lookup,
      "asof" -> asof, "time_travel" -> timeTravel, "join" -> join)

    for (rep <- 1 to Reps) {
      tag = s"s$rep"
      r.setup {
        dim = newDim(r, tag)
        versions = dim.catalog.currentVersion(dim.name).toSeq
        (1 to History).foreach { i =>
          dim.apply(snapshot(r, tag, i), opts(i))
          versions :+= dim.catalog.currentVersion(dim.name).get
        }
        orders = land(r, Gen.orders(spark, r.seed, Dim, Orders, History, r.cpus), s"$tag-orders")
      }
    }
    (1 until Reps).foreach(rep => rmTree(r.tmp(s"s$rep-cat")))
    snap = History
    rows = rowsAt.last
    r.warmUp(Seq("merge", "lookup", "asof", "time_travel", "join", "join").foreach(k => ops(k)()))
    r.phase("setup done")
    checkDim(r, dim.snapshot, rows, "set-up")
    val start = dim.catalog.currentVersion(dim.name).get
    var deck = 0
    while (r.budgetLeft) {
      new scala.util.Random(r.seed * 7919 + deck).shuffle(Deck).foreach(k => ops(k)())
      deck += 1
    }
    r.phase("timed loop done")
    finalCatalogStats(r, dim, r.tmp(s"$tag-cat"))
    // The timed loop's snapshots through the MERGE INTO door must give the
    // same dimension, row for row.
    var replay = dim.catalog.tableAsOfVersion(dim.name, start)
    applied.foreach { j =>
      replay = MergeIntoScd(spark, replay, spark.read.parquet(r.tmp(s"$tag-snap$j")),
        Gen.schema, Gen.asOfSql(j), Gen.High).localCheckpoint()
    }
    val (got, want) = (Checks.contentHash(dim.snapshot), Checks.contentHash(replay))
    r.check(got == want, s"final dimension $got != MERGE INTO replay $want")
    r.phase("replay check done")
  }

  // ---- corpus_ingest --------------------------------------------------

  def corpusIngest(r: Run): Unit = {
    val spark = r.spark
    val c = Gen.Corpus(CorpusDocs)
    var landing = ""
    val survivorHashes = ArrayBuffer.empty[(Long, java.math.BigDecimal)]
    val survivorCols = Seq("doc_id", "text", "quality", "lang_pred").map(col)

    /** Land the whole corpus through the stream, then resolve survivors. */
    def cycle(dir: String, files: Int, t: Trace): Unit = {
      val cp = r.tmp(s"cp-${System.nanoTime()}")
      val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val ends = ArrayBuffer(System.nanoTime())
      val tracer = r.tracer.filter(_ => t.enabled)
      val seen = tracer.map(_.progress.size).getOrElse(0)
      if (!r.warm) r.attempted += files
      val res = try Some(t.span("streaming", "StreamingCorpus.ingest") {
        var cur = tracer.map(tr => tr.openOn("op", "batch", tr.current))
        val out = StreamingCorpus.ingest(stream, "doc_id", "text", cp, onBatch = _ => {
          ends += System.nanoTime()
          tracer.foreach { tr =>
            cur.foreach(tr.close)
            cur = Some(tr.openOn("op", "batch", tr.current))
          }
        })
        // the span opened after the last batch saw no batch
        cur.foreach { s => tracer.get.close(s); s.name = "ingest_end" }
        out
      }) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] ingest failed: $e")
          e.printStackTrace()
          None
      }
      val batches = ends.zip(ends.tail).map { case (a, b) => (b - a) / 1e9 }.toSeq
      if (!r.warm) {
        r.failed += files - batches.size
        r.timedSeconds += (ends.last - ends.head) / 1e9
        batches.foreach(r.record("batch", _, t))
      }
      tracer.foreach { tr =>
        tr.settle()
        val prog = tr.progress.asScala.toSeq.drop(seen)
        prog.foreach { case (body, trigger) =>
          r.layerVal("streaming.batch_body_s", body / 1e3)
          r.layerVal("streaming.engine_overhead_s", (trigger - body) / 1e3)
        }
        if (prog.size >= 2)
          r.layerVal("streaming.batch_growth", prog.last._2.toDouble / prog.head._2)
      }
      rmTree(cp)
      res.foreach { case (_, gated, pairs) =>
        val out = r.attempt("resolve", t) { tt =>
          val df = tt.span("streaming", "StreamingCorpus.resolveSurvivors")(
            StreamingCorpus.resolveSurvivors(gated, pairs, "doc_id", "text"))
          tt.span("exec", "localCheckpoint")(df.localCheckpoint())
        }
        out.foreach(df => survivorHashes += Checks.contentHash(df.select(survivorCols: _*)))
      }
    }

    var warm = ""
    for (rep <- 1 to Reps) {
      r.setup {
        landing = r.tmp(s"c$rep-land")
        val corpus = Gen.corpus(spark, r.seed, c, r.cpus)
        corpus.repartition(CorpusFiles, col("doc_id")).write.parquet(landing)
        warm = r.tmp(s"c$rep-warm")
        corpus.filter(pmod(col("doc_id"), lit(24L)) === 0)
          .repartition(2, col("doc_id")).write.parquet(warm)
      }
    }
    // one untimed op of each kind: a first batch, a later batch, a resolve
    r.warmUp(cycle(warm, 2, Trace.Off))
    r.phase("setup done")
    survivorHashes.clear()
    (1 until Reps).foreach(rep => rmTree(r.tmp(s"c$rep-land")))
    while (r.budgetLeft) cycle(landing, CorpusFiles, r.nextTrace("cycle"))

    r.phase("timed loop done")
    val clean = CorpusPipeline.clean(spark.read.parquet(landing), "doc_id", "text")
    val want = Checks.contentHash(clean.select(survivorCols: _*))
    survivorHashes.foreach(got =>
      r.check(got == want, s"streamed survivors $got != CorpusPipeline.clean $want"))
    r.phase("survivor check done")
    r.tracer.foreach(tr => corpusProbes(r, tr, landing))
  }

  /** Traced run only: time the gate and index layers one batch at a time,
    * on the landed files, outside the stream.
    */
  private def corpusProbes(r: Run, tr: SparkTrace, landing: String): Unit = {
    val spark = r.spark
    val files = listDir(Paths.get(landing))
      .map(_.toString).filter(_.endsWith(".parquet")).sorted
    val cfg = CorpusPipeline.Config()
    var (in, kept) = (0L, 0L)
    val gated = files.map { f =>
      val docs = spark.read.parquet(f)
      in += docs.count()
      val t0 = System.nanoTime()
      val g = tr.op("probe_gates") {
        val df = tr.span("pipeline", "rowGates+bandStages")(CorpusPipeline.bandStages(
          CorpusPipeline.rowGates(docs, "doc_id", "text", cfg), "doc_id", "text", cfg))
        tr.span("exec", "localCheckpoint")(df.localCheckpoint())
      }
      r.layerVal("pipeline.gates_s", (System.nanoTime() - t0) / 1e9)
      kept += g.count()
      g
    }
    r.layerVal("pipeline.gate_keep_ratio", kept.toDouble / in)
    var (idx, pairs0) = tr.op("probe_lsh")(tr.span("dedup", "IncrementalLsh.build")(
      IncrementalLsh.build(gated.head, "doc_id", "text")))
    var pairs = pairs0.count()
    val adds = gated.tail.map { g =>
      val t0 = System.nanoTime()
      val n = tr.op("probe_lsh")(tr.span("dedup", "IncrementalLsh.addBatch") {
        val (next, p) = IncrementalLsh.addBatch(idx, g, "doc_id", "text")
        idx = next
        p.count()
      })
      pairs += n
      (System.nanoTime() - t0) / 1e9
    }
    adds.headOption.foreach(r.layerVal("dedup.lsh_add_batch_first_s", _))
    adds.lastOption.foreach(r.layerVal("dedup.lsh_add_batch_last_s", _))
    val cand = tr.op("probe_lsh")(tr.span("dedup", "Dedup.minhashCandidates")(
      Dedup.minhashCandidates(gated.reduce(_ unionByName _), "doc_id", "text").count()))
    r.layerVal("dedup.pairs_per_candidate", pairs.toDouble / math.max(cand, 1L))
  }
}

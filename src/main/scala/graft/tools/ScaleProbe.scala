package graft.tools

import graft.SparkEntry
import graft.graph.WebGraph
import graft.queries.fixtures.{Crawl, Media, Scd, Streams, Text}
import graft.sources.Warc
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe: times the scale-critical operators at 1x and Nx the
  * input (replication via crossJoin with a replica index, keys offset so
  * cardinalities scale with the data), and reports the time ratio. A
  * linear-scaling operator shows ratio ~= N on a fixed-size machine;
  * super-linear ratios expose the operators whose shuffles or candidate
  * sets grow faster than the input.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [factor] [rows]
  * (`rows` = comma-separated row-name subset, e.g. the spill-regime
  * runs push only scd_merge,minhash_lsh far past the heap). An unknown
  * row name, or a factor that is not a positive integer, prints usage
  * on stderr and exits 2 before the session starts.
  *
  * The probe is one table, [[probes]]: a row's untimed set-up forces
  * only that row's inputs, its run goes once untimed on the 1x input,
  * and is then timed on the 1x and the Nx input.
  */
object ScaleProbe {

  /** One probe row. `setup` is untimed: it forces the row's inputs
    * (relations, eager checkpoints, frozen models, prebuilt indexes)
    * and returns the 1x and Nx runs, each yielding its output rows.
    */
  final case class Probe(name: String, setup: () => (() => Long, () => Long))

  /** `[sfDir] [factor] [rows]` → the factor, the whole table and the
    * selected rows in table order; `Left` says what is wrong. Starts
    * no session: building the table touches none.
    */
  def parse(args: Array[String], spark: => SparkSession)
      : Either[String, (Int, Seq[Probe], Seq[Probe])] = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    args.lift(1).fold(Option(8))(_.toIntOption.filter(_ > 0))
      .toRight(s"factor is not a positive integer: ${args(1)}")
      .flatMap { factor =>
        val table = probes(spark, sfDir, factor)
        val only = args.lift(2).map(_.split(",").toSeq)
        val unknown = only.getOrElse(Nil).filterNot(table.map(_.name).toSet)
        if (unknown.nonEmpty) Left(s"unknown rows: ${unknown.mkString(", ")}")
        else Right((factor,
          table, table.filter(p => only.forall(_.contains(p.name)))))
      }
  }

  def main(args: Array[String]): Unit = {
    lazy val spark = SparkEntry.session(SparkEntry.cpus)
    val (factor, _, selected) = parse(args, spark) match {
      case Right(parsed) => parsed
      case Left(err) =>
        System.err.println(err)
        System.err.println("usage: ScaleProbe [sfDir] [factor] [row,...]")
        sys.exit(2)
    }
    // spill observability: cumulative executor spill bytes, sampled
    // around each measurement so every probe row reports its own delta
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null)
            spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      })

    def time(f: => Long): (Double, Long, Long) = {
      val s0 = spillBytes.get()
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events arrive asynchronously; wait for delivery
      if (!org.apache.spark.graft.ListenerBridge.tryDrain(spark.sparkContext))
        System.err.println("[scaleprobe] listener bus not drained: " +
          "this row's spill bytes may be partial")
      (dt, n, spillBytes.get() - s0)
    }

    val parts = selected.map { p =>
      val (one, many) = p.setup()
      // warm-up: the row's 1x run once, untimed, so t1 and tN both meet
      // a JVM that has already compiled this row's code paths
      one()
      val Seq((t1, n1, s1), (tN, nN, sN)) = Seq(one, many).map(r => time(r()))
      f"""\"${p.name}\":{\"t1\":$t1%.2f,\"rows1\":$n1,\"tN\":$tN%.2f,\"rowsN\":$nN,\"ratio\":${tN / t1}%.2f,\"spill1MB\":${s1 / 1e6}%.1f,\"spillNMB\":${sN / 1e6}%.1f}"""
    }
    println(s"""{"factor":$factor,${parts.mkString(",")}}""")
    spark.stop()
  }

  /** The probe table, in report order. Every input is a lazy value, so
    * building the table starts no Spark job (and forces no session);
    * a row's set-up forces only the inputs it names.
    */
  def probes(session: => SparkSession, sfDir: String, factor: Int)
      : Seq[Probe] = {
    lazy val spark = session
    val table = Seq.newBuilder[Probe]

    // Adds a row. Its inputs and its run are by-name, evaluated in the
    // untimed set-up: a run that needs more than its input takes it in
    // a block before its lambda (`{ val eval = …; d => … }`), never
    // inside the timed call. Every probe thunk's action FILTERS on a
    // computed output column: a bare count() lets Catalyst prune unused
    // projections and eliminate unique-keyed outer joins (and the
    // windows feeding them), silently measuring a fraction of the
    // operator.
    def row[A](name: String, x1: => A, xN: => A)(run: => A => Long): Unit =
      table += Probe(name, () => {
        val (f, a1, aN) = (run, x1, xN)
        (() => f(a1), () => f(aN))
      })

    // textCols get EVERY TOKEN suffixed with the replica index. This is
    // the only perturbation that replicates honestly:
    //  - appending one token per doc leaves replicas ~0.99
    //    Jaccard-similar -> cross-replica dup cliques -> candidate pairs
    //    grow ~factor^2 and the probe falsely reads super-linear;
    //  - INSERTING a marker between words creates shingles like
    //    (repN, w, repN) shared by any two same-replica docs with one
    //    common word — it REWRITES the similarity structure (3-shingles
    //    degrade to 1-shingles) and candidate pairs explode for real.
    // Per-token suffixing keeps token counts and every within-replica
    // shingle relation EXACTLY as in the original corpus, with zero
    // cross-replica overlap: duplicate structure scales linearly, like
    // genuinely new data.
    def replicate(df: DataFrame, keyCols: Seq[String], offset: Long,
        textCols: Seq[String] = Nil, k: Int = factor): DataFrame = {
      val reps = spark.range(k).withColumnRenamed("id", "__rep")
      val keyed = keyCols.foldLeft(df.crossJoin(reps)) { (d, k) =>
        d.withColumn(k, col(k) + col("__rep") * offset)
      }
      textCols.foldLeft(keyed) { (d, t) =>
        d.withColumn(t, regexp_replace(col(t), lit("(\\S+)"),
          concat(lit("$1r"), col("__rep"))))
      }.drop("__rep")
    }

    lazy val li1 = graft.sources.Tables(spark, sfDir, "lineitem")
    lazy val liN = replicate(li1, Seq("l_orderkey"), 100000000L)
    lazy val docs1 = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    def suffixed(df: DataFrame, k: Int = factor): DataFrame =
      replicate(df, Seq("doc_id"), 10000000L, textCols = Seq("text"), k = k)
    lazy val docsN = suffixed(docs1)
    // replica 0 alone, suffixed like every replica of docsN; its %13
    // docs are the FIXED eval set and, ids offset, it is the FIXED batch
    lazy val docs1r = suffixed(docs1, k = 1)
    lazy val eval13 = docs1r.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    lazy val batch0 = docs1r
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
    def idHash(seed: Int) =
      graft.functions.PortableHash.hash60(col("doc_id").cast("string"), seed)
    def docRow(name: String)(run: => DataFrame => Long): Unit =
      row(name, docs1, docsN)(run)
    def r0Row(name: String)(run: => DataFrame => Long): Unit =
      row(name, docs1r, docsN)(run)

    row("agg", li1, liN)(li => li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")), count(lit(1)))
      .count())

    def nearDups(d: DataFrame) = graft.dedup.Dedup.minhashNearDuplicatesFrom(
      graft.dedup.Dedup.shingleSets(d, "doc_id", "text"))
    docRow("minhash_lsh")(nearDups(_).count())

    // end-to-end near-dup clustering: LSH pairs -> iterative connected
    // components (the other scale-critical loop; per-round cost must
    // track the edge count, not the corpus)
    docRow("dedup_cluster")(d => graft.dedup.Dedup.connectedComponents(
      nearDups(d).select(col("a"), col("b"))).count())

    // Cross-corpus contamination: the train corpus grows Nx while the
    // eval set stays FIXED (replica 0's %13 docs) — the production
    // shape, "re-check a grown corpus against the same benchmark".
    // Both sides derive from the r0-PERTURBED corpus (docs1r), so the
    // 1x and Nx train sides carry identical replica-0 text; the other
    // N-1 replicas share nothing with the eval set, so the match count
    // is constant across sizes and the honest cost left is the
    // train-side shingle/signature scan + the cross bucket join
    // against the fixed eval buckets.
    r0Row("cross_contamination") {
      val contamEval = eval13
      d => graft.dedup.Dedup.crossCorpusMatches(d, "doc_id", "text",
          contamEval, "doc_id", "text")
        .filter(col("jaccard") >= 0).count()
    }

    // span-level exact dedup: the per-token perturbation keeps every
    // within-replica k-gram relation exact and shares nothing across
    // replicas, so duplicated-span structure scales linearly
    docRow("dup_spans")(d =>
      graft.dedup.Dedup.duplicateSpans(d, "doc_id", "text")
        .filter(col("dup_frac") >= 0).count())

    // span dedup as an ACTION: detect + rewrite the corpus with spans
    // removed — adds the covered-position semi join and the per-doc
    // rebuild on top of the spans pass. The filter REFERENCES the
    // rebuilt text: a bare count() lets Catalyst eliminate the whole
    // outer join (unique-keyed right side) and measures nothing.
    docRow("span_scrub")(d =>
      graft.dedup.Dedup.scrubDuplicateSpans(d, "doc_id", "text")
        .filter(length(col("text")) >= 0).count())

    // perceptual image dedup: per-doc BMP (distinct per-id pixel phase,
    // so replicas are genuinely new images), real decode -> dHash ->
    // banded hamming pairs -> CC. Probed at the LARGE-CORPUS band
    // setting (2x28-bit bands: random band collisions ~ n^2/2^28 stay
    // negligible at probe sizes, so cost must track the linear
    // decode+hash scan — the q110 default 4x14 is the small-corpus
    // recall setting whose collision space saturates by design).
    // per-doc BMP with md5-of-text-derived polynomial pixel
    // coefficients — the audio probe's generative-formula lesson
    // applies here too: an id-linear pixel formula shifts every pixel
    // by a CONSTANT per id, leaving the gradient structure (and so the
    // dHash) aliased across ids; md5 coefficients (2^42 space) plus
    // the per-token replica perturbation make every replica a
    // genuinely new image
    def imageDhs(d: DataFrame): DataFrame = {
      import spark.implicits._
      val hmd5 = md5(col("text"))
      def hx(from: Int, len: Int) =
        conv(substring(hmd5, from, len), 16, 10).cast("long")
      val media = d.select(col("doc_id").cast("long").as("id"),
          (hx(1, 2).cast("int") % 16 + 8).as("w"),
          (hx(3, 2).cast("int") % 16 + 8).as("h"),
          (hx(5, 4) % 16384L).as("s1"), (hx(9, 4) % 16384L).as("s2"),
          (hx(13, 4) % 16384L).as("s3"))
        .as[(Long, Int, Int, Long, Long, Long)]
        .mapPartitions(_.map { case (id, w, hh, s1, s2, s3) =>
          val rgb = Array.tabulate(w * hh * 3)(i =>
            (((s1 + 1) * (i + 3) + (s2 + 1) * i.toLong * (i + 7) + s3)
              % 256).toByte)
          val p = graft.multimodal.Bmp.encode(
            graft.multimodal.Bmp.Image(w, hh, rgb))
          graft.multimodal.Multimodal.BmpMedia(id, p, p.length)
        })
      graft.multimodal.Perceptual.dHashes(media)(spark)
    }
    // the large-corpus band setting every image-dedup row probes
    def dhashClusters(dhs: DataFrame): Long =
      graft.multimodal.Perceptual.clusters(dhs,
          "id", "dhash", maxHamming = 6, bands = 2)
        .filter(col("cluster") >= 0).count()
    docRow("perceptual_dedup")(d => dhashClusters(imageDhs(d)))

    // winnowing: two doc-keyed window passes; per-token perturbation
    // keeps every within-replica gram relation intact (hash VALUES
    // differ so selected positions redistribute, but density ~2/(w+1)
    // of grams holds) — fingerprint rows grow ~Nx
    docRow("winnow")(d =>
      graft.text.Winnow.fingerprints(d, "doc_id", "text")
        .filter(col("fp") >= 0).count())

    // BPE training: the corpus pass is the word-frequency
    // reduction; the per-token perturbation grows the unique-word
    // dict EXACTLY Nx (every word distinct per replica), so each
    // merge round's pair-count groupBy scales in dict size. The
    // returned merge count stays 8 — the output is the learned
    // table, not data — so the honest row is wall time vs dict
    // growth. Training's argmax consumes the full pair count; no
    // pruning hazard.
    docRow("bpe_train")(d =>
      graft.text.Bpe.trainMerges(d, "text", 8).length.toLong)

    // ANN: corpus grows Nx, the query batch stays FIXED (50 vectors from
    // the first replica) — the shape of "index more data, same query
    // load". Replicated vectors land in the replica-independent buckets
    // their originals chose, so per-query candidates grow exactly Nx:
    // linear candidate growth is the honest outcome, and wall time must
    // track it plus the corpus-side bucket-assignment scan.
    lazy val emb1 = graft.sources.Tables(spark, sfDir, "embeddings")
    lazy val embN = replicate(emb1, Seq("vec_id"), 100000000L)
    row("ann_lsh", emb1, embN)(e =>
      graft.similarity.Similarity.portableAnnTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 10)
        .count())
    // IVF probes training too (the Lloyd loop is iters+1 corpus scans +
    // one skinny-row shuffle per iteration) with the O(1)-plan-size
    // CentroidOps argmin — c=64 exercises a wider centroid matrix than
    // the declared q42
    row("ann_ivf", emb1, embN)(e =>
      graft.similarity.Similarity.ivfTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 10,
        c = 64, nProbe = 8)
        .count())
    // IVF-PQ probes the COMPRESSED path: build + encode + ADC top-k.
    // Encode cost is linear in corpus (m argmins per vector); query
    // cost tracks candidates — same fixed query batch as the others.
    row("ann_ivfpq", emb1, embN)(e =>
      graft.similarity.Similarity.ivfPqTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 10,
        c = 16, m = 8, nProbe = 4, kCodes = 64)
        .count())

    // Semantic dedup: replicas get a PER-REPLICA ±1 sign pattern — a
    // diagonal isometry, so every within-replica dot product and norm
    // is preserved EXACTLY (the planted dup structure replicates
    // verbatim) while cross-replica cosines scramble to noise. That is
    // the honest embedding analogue of the per-token text perturbation:
    // duplicate structure grows linearly, like genuinely new data. The
    // cluster count scales WITH the corpus (c ∝ N, the design's stated
    // scale path) so per-cluster populations — and the quadratic
    // within-cluster pair stage — stay flat per unit of data.
    lazy val embP = emb1.select(col("vec_id"), col("embedding"))
      .unionByName(emb1.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    def signFlip(df: DataFrame, k: Int): DataFrame = {
      val reps = spark.range(k).withColumnRenamed("id", "__rep")
      df.crossJoin(reps)
        .withColumn("vec_id", col("vec_id") + col("__rep") * 100000000L)
        .withColumn("embedding", transform(col("embedding"), (x, i) =>
          x * when(pmod(hash(col("__rep") * 64 + i), lit(2)) === 0, 1.0f)
            .otherwise(-1.0f)))
        .drop("__rep")
    }
    lazy val sem1 = signFlip(embP, 1)
    lazy val semN = signFlip(embP, factor)
    // hierarchical two-level assignment on BOTH sides (the recommended
    // config at scale): ~2√c·dims per row instead of c·dims
    def semRow(name: String, nProbe: Int): Unit =
      row(name, (sem1, 16), (semN, 16 * factor)) { case (e, c) =>
        graft.similarity.Similarity.semanticDedup(e, "vec_id", "embedding",
          threshold = 0.99, c = c, iters = 2, hierarchical = true,
          nProbe = nProbe).count()
      }
    semRow("semantic_dedup", nProbe = 1)
    // ...and the recommended 100 TB configuration: hierarchical scan +
    // nProbe=2 pair generation (pair-stage input 2 rows/vector)
    semRow("semantic_multiprobe", nProbe = 2)

    // the incremental rows time one batch fold into an index that
    // set-up builds on docs1r (1x) and docsN (Nx)
    def indexRow[I](name: String)(build: DataFrame => I)(
        run: => I => Long): Unit = row(name, build(docs1r), build(docsN))(run)
    // Incremental LSH: a FIXED batch folds into a 1x vs Nx index — the
    // growing-corpus ingest shape. The batch replays replica 0, so its
    // collision count against the index is constant across sizes; the
    // honest cost left is the index-side scan each batch pays.
    indexRow("incremental_lsh")(
      graft.dedup.IncrementalLsh.build(_, "doc_id", "text")._1) {
      val lshBatch = batch0
      idx => graft.dedup.IncrementalLsh.addBatch(idx, lshBatch, "doc_id",
        "text")._2.count()
    }

    // Incremental semantic ingest, same fixed-batch shape: a constant
    // batch (replica 0 of the sign-flip corpus, ids offset) folds into
    // a 1x vs Nx index built on the sign-flip corpus — collision
    // structure against the index is constant, so the honest cost left
    // is the batch assignment + the index-side member join.
    def semIndex(e: DataFrame, c: Int) = graft.similarity.IncrementalSemantic
      .build(e, "vec_id", "embedding", threshold = 0.99, c = c)._1
    row("incremental_semantic", semIndex(sem1, 16),
      semIndex(semN, 16 * factor)) {
      val semBatch = sem1
        .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
      idx => graft.similarity.IncrementalSemantic.addBatch(idx, semBatch,
        "vec_id", "embedding", threshold = 0.99)._2.count()
    }

    // Sequence packing: numGroups stays FIXED (4 streams) while the
    // corpus grows Nx — the exact shape the old single-window plan
    // funnelled (one task per stream). The two-phase prefix sum must
    // keep per-task input at shuffle-slice size, so wall time tracks
    // the scan, not the stream length.
    docRow("seq_packing")(d =>
      graft.pipeline.Packing.packSequences(d, "doc_id", "text",
        seqLen = 2048, numGroups = 4)
        .filter(col("n_seqs") >= 0).count())

    // Epoch shuffle: 2 seeded global permutations of the corpus via
    // the two-phase rank — wall must track the scan + range shuffle,
    // never a single-partition sort (output rows exactly 2N)
    docRow("epoch_shuffle") { d =>
      val epochs = spark.range(2).select(col("id").cast("int").as("epoch"))
      val keyed = d.select(col("doc_id")).crossJoin(broadcast(epochs))
        .withColumn("k", graft.functions.PortableHash.hash60Base(
          concat_ws(":", col("epoch"), col("doc_id"))))
      graft.operators.Ranking.globalRowNumber(keyed,
        Seq("epoch", "k", "doc_id"), "ord")
        .filter(col("ord") >= 0).count()
    }

    lazy val cust1 = graft.sources.Tables(spark, sfDir, "customer")
    lazy val custN = replicate(cust1, Seq("c_custkey"), 10000000L)
    row("scd_merge", cust1, custN) { c =>
      val prod = c.select(col("c_custkey").cast("long").as("dim_id"),
        col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        lit(1).as("scd_version"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("scd_start_date"),
        lit("2200-01-01 00:00:00").cast("timestamp").as("scd_end_date"),
        lit(true).as("scd_active"))
      val stag = c.select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 50)
          .otherwise(col("c_acctbal")).as("c_acctbal"), col("c_mktsegment"))
      graft.scd.ScdMerge.merge(prod, stag, Scd.schema,
        graft.scd.MergeOptions(
          java.sql.Timestamp.valueOf("2024-07-01 00:00:00"))).count()
    }

    // sketch rollup (q77 shape): per-(type, day) KMV partials merged per
    // type — per-group shuffle payload is k longs regardless of input
    // size, so wall time must track the scan, not the distinct count
    lazy val ev1 = graft.sources.Tables(spark, sfDir, "events")
    lazy val evN = replicate(ev1, Seq("event_id", "user_id"), 1000000000L)
    row("sketch_rollup", ev1, evN) { ev =>
      val h = graft.functions.PortableHash
        .hash60Base(col("user_id").cast("string"))
      ev.withColumn("day", expr("ts_us div 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(graft.functions.KmvSketch.kmvBuffer(h, 64).as("sk"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch.kmvMergeEstimate(col("sk"), 64))
        .count()
    }

    // Audio fingerprint dedup: per-doc WAV with md5-of-text-derived
    // polynomial coefficients (2^42 coefficient space — the per-token
    // replica perturbation changes every md5, so replicas are genuinely
    // new clips; an id-multiplier formula aliased mod 2^14 and collided
    // at 64x), real decode -> 52-bit spectral fingerprint -> banded
    // hamming pairs -> CC. Probed at the LARGE-CORPUS band setting
    // (2x26-bit bands: random band collisions ~ n^2/2^26 stay
    // negligible at probe sizes) — cost must track the linear
    // encode+decode+fingerprint scan.
    // fingerprint relation of the md5-coefficient clips, shared with
    // the incremental-audio probe
    def audioFps(d: DataFrame): DataFrame =
      graft.multimodal.AudioFp.fingerprints(Media.wavClips(spark, d))(spark)
    docRow("audio_dedup")(d =>
      graft.multimodal.AudioFp.clusters(audioFps(d),
          "id", "afp", maxHamming = 1, bands = 2)
        .filter(col("cluster") >= 0).count())

    // Incremental audio: a FIXED batch (replica 0's clips, ids offset)
    // folds into a 1x vs Nx index — the growing-corpus ingest shape.
    // The index side of addBatch is a 16-byte-per-clip hash relation,
    // so the honest cost left is the batch decode+fingerprint plus the
    // banded join against the index (2x26 bands keep random collisions
    // negligible at probe sizes).
    import graft.multimodal.HammingIndex.{Audio, Image}
    indexRow("incremental_audio")(d =>
      Audio.build(audioFps(d), maxHamming = 1, bands = 2)._1) {
      val audioBatch = audioFps(batch0).localCheckpoint()
      idx => Audio.addBatch(idx, audioBatch, maxHamming = 1)._2.count()
    }

    // Incremental image: a FIXED batch (replica 0's dHashes, ids
    // offset) folds into a 1x vs Nx perceptual index — same
    // growing-corpus ingest shape as incremental_audio, at the
    // large-corpus 2x28-bit band setting (random band collisions
    // ~ n^2/2^28 negligible at probe sizes). The index side is a
    // 16-byte-per-image hash relation; honest cost = the batch
    // decode+dHash plus the banded join against the index.
    indexRow("incremental_image")(d =>
      Image.build(imageDhs(d), maxHamming = 1, bands = 2)._1) {
      val imageBatch = imageDhs(batch0).localCheckpoint()
      idx => Image.addBatch(idx, imageBatch, maxHamming = 1)._2.count()
    }

    // DSIR importance resampling: the raw corpus grows Nx while the
    // TARGET stays fixed (replica 0's %4==1 sources) — "re-weight a
    // grown crawl against the same curated target". Cost must track
    // the two tokenize+explode scans (raw Nx + target constant) and
    // the doc-keyed score sum against the broadcast dim-row ratio
    // table; output rows grow exactly Nx.
    lazy val docsFull1 = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    lazy val docsFull1r = suffixed(docsFull1, k = 1)
    lazy val docsFullN = suffixed(docsFull1)
    def fullRow(name: String)(run: => DataFrame => Long): Unit =
      row(name, docsFull1r, docsFullN)(run)
    fullRow("dsir_resample") {
      val dsirTarget = docsFull1r
        .filter(substring(col("source"), 4, 10).cast("int") % 4 === 1)
        .select(col("doc_id"), col("text")).localCheckpoint()
      d => graft.pipeline.Dsir.resample(d.select(col("doc_id"), col("text")),
          dsirTarget, "doc_id", "text", dim = 256, keepPpm = 500000L)
        .filter(col("imp") >= 0 && col("threshold") >= 0).count()
    }

    // Bloom decontamination: the train side grows Nx while the eval set
    // stays FIXED (replica 0's %5 docs) — "re-check a grown corpus" with
    // the join-free gate. The m-bit bitset is CONSTANT-size driver state
    // (2^22 bits = 512 KiB here, sized so the filter is not saturated at
    // 64x) and the eval probe is k scan-local integer tests, so the
    // honest cost left is the train-side fingerprint scan + the
    // constant-size aggregate merge; output rows stay constant.
    r0Row("bloom_decontaminate") {
      val bloomEval = docs1r.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      def fp(c: Column) =
        graft.functions.PortableHash.hash60Base(
          graft.text.TextAnalysis.normalized(c))
      d => {
        val filt = graft.dedup.Bloom.build(d, fp(col("text")), 1 << 22, 4)
        bloomEval.select(col("eval_id"),
            graft.dedup.Bloom.probeHits(fp(col("text")), filt)
              .cast("long").as("h"))
          .filter(col("h") >= 0).count()
      }
    }

    // Hashed-linear classifier gate: one tokenize+explode scan feeding a
    // map-side-combinable doc-keyed sum against the broadcast (bucket,
    // weight) relation — cost must track the token scan; output rows
    // grow exactly Nx.
    docRow("classifier_gate") { d =>
      val w = graft.text.TextClassify.syntheticWeights(spark, 1024)
      graft.text.TextClassify.hashedLinear(d, "doc_id", "text",
          w, 1024, thresholdNum = -248, thresholdDen = 1)
        .filter(col("score") >= Long.MinValue).count()
    }

    // Exact distributed selection (median of the doc-length column):
    // rounds = ceil(log_256(valueRange)) stays CONSTANT as the corpus
    // grows, each round is one 256-cell map-side-combinable histogram
    // with the range filter pushed to the scan — cost must track
    // rounds x scan, never a sort.
    docRow("exact_selection") { d =>
      val dd = d.withColumn("len", length(col("text")).cast("long"))
      val n = dd.count()
      graft.operators.Selection.kthSmallest(dd, col("len"), (n + 1) / 2)
    }

    // Entropy gate: per-char explode + two map-side-combinable aggs —
    // cost must track the character scan; output rows grow exactly Nx.
    docRow("entropy_gate")(d =>
      graft.quality.Entropy.gate(d, "doc_id", "text")
        .filter(col("coll") >= 0).count())

    // PII scrub: pure row-local regex + Luhn pass, zero shuffle — the
    // action hashes the scrubbed text so the full rewrite materializes.
    docRow("pii_scrub")(d =>
      d.select(col("doc_id"), md5(graft.text.Pii.scrub(col("text"))).as("m"))
        .filter(length(col("m")) >= 0).count())

    // END-TO-END streaming corpus clean (the q126 front door composed:
    // land as staged parquet -> 3-file stream -> per-batch gates + LSH
    // fold -> end-of-stream resolve). File count stays FIXED at both
    // sizes (q126's batching) so the per-batch payload grows Nx — the
    // "same ingest cadence, bigger files" axis; the batch-count axis
    // (fixed batch into a grown index) is the incremental_lsh row.
    // Gates run with plant-insensitive selectivity (minQuality 0,
    // every langId label admitted): the per-token replica suffix
    // destroys stopword/marker tokens, so the DEFAULT thresholds would
    // gate replicas differently from real text — scoring still runs at
    // full cost, admission is corpus-independent, and survivors must
    // come out exactly Nx (within-replica exact-dup and near-dup
    // structure is preserved by the perturbation; nothing collides
    // across replicas). Includes the staging write, like the q126
    // bench number — landing is part of the front door.
    val openGates = graft.pipeline.CorpusPipeline.Config(minQuality = 0.0,
      languages = Seq("en", "de", "fr", "es", "und"))
    r0Row("streaming_corpus") { d =>
      val (_, gated, pairs) = Streams.withTempDir("graft-probe-stream") {
        stage => Streams.withTempDir("graft-probe-stream-cp") { cp =>
          d.repartition(3, col("doc_id"))
            .write.mode("overwrite").parquet(stage)
          val stream = graft.streaming.StreamFold.files(spark, stage)
          graft.streaming.StreamingCorpus.ingest(
            stream, "doc_id", "text", cp, openGates)
        }
      }
      graft.streaming.StreamingCorpus
        .resolveSurvivors(gated, pairs, "doc_id", "text", openGates)
        .filter(length(col("text")) >= 0 && col("quality") >= -1.0)
        .count()
    }

    // One-call RELEASE manifest (q144 composed: gates -> exact dedup ->
    // 0.5 dedup CC -> cross-corpus decontamination vs a FIXED eval set
    // (replica 0's %13 docs — production shape: re-release a grown
    // corpus against the same benchmark) -> 0.3 split CC -> token
    // counts). Gate admission corpus-independent (same reasoning as
    // streaming_corpus). Output = Nx clean survivors minus a CONSTANT
    // contaminated set (only replica 0 overlaps the eval docs), so
    // rows grow ~Nx with a fixed offset.
    r0Row("release_manifest") {
      val releaseEval = eval13
      d => graft.pipeline.CorpusPipeline.release(d, releaseEval,
          "doc_id", "text", openGates)
        .filter(col("n_tok") >= 0 && length(col("split")) > 0).count()
    }

    // Exact stratified split: per-source two-phase rank + boundary
    // cuts — wall must track the range shuffle + slice windows, never
    // a per-source funnel (sources stay FIXED at ~20 while rows grow
    // Nx, the funnel-exposing shape).
    lazy val docsSrc1 = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
    lazy val docsSrcN = replicate(docsSrc1, Seq("doc_id"), 10000000L)
    row("stratified_split", docsSrc1, docsSrcN)(d =>
      graft.pipeline.Splits.stratifiedExact(d, "doc_id", "source")
        .filter(col("src_rank") >= 1 && length(col("split")) > 0).count())

    // Token-balanced shards: one tokenize scan into the GLOBAL
    // two-phase prefix sum over the salted-hash order + broadcast
    // total — wall must track the range shuffle + slice windows (no
    // per-shard funnel; numShards only parameterizes the cut
    // arithmetic). Output rows exactly Nx.
    docRow("token_shards")(d =>
      graft.pipeline.Packing.tokenShards(d, "doc_id", "text", 8)
        .filter(col("shard") >= 0 && col("n_tok") > 0).count())

    // Curriculum schedule: quality scan -> band (row-local), epoch
    // expansion via a broadcast 3-row cross join, admission filter,
    // then ONE global two-phase order over (epoch, band, hash). Bands
    // and epochs stay fixed; admitted rows (and output) grow exactly
    // Nx. The 1x side runs the SUFFIXED replica (docs1r): the
    // per-token perturbation destroys stopwords and therefore shifts
    // quality bands, identically in every replica — suffixing both
    // sides makes admitted rows (and output) exactly Nx.
    r0Row("curriculum")(d =>
      graft.pipeline.Curriculum.schedule(d, "doc_id", "text",
          epochs = 3, bands = 5)
        .filter(col("ord") >= 1 && col("band") >= 0).count())

    // Per-source cleaning funnel: the full stage chain (gates ->
    // exact dedup -> LSH -> CC) + four source-keyed counts. Sources
    // stay FIXED at ~20 while rows grow Nx — the funnel-exposing
    // shape for the report joins; the stage chain itself is the
    // release_manifest machinery (gate config plant-insensitive for
    // the same reason as streaming_corpus/release_manifest).
    fullRow("funnel_report")(d =>
      graft.pipeline.CorpusPipeline.funnelReport(d, "doc_id", "source",
          "text", openGates)
        .filter(col("n_final") >= 0 && col("n_in") > 0).count())

    // Binary loader export: packing placement + token join + per-
    // sequence assembly + TWO catalog publishes (the parquet write IS
    // the operator — a loader artifact that is never materialized is
    // not exported). Sequences, and therefore output rows and written
    // bytes, grow exactly Nx.
    docRow("shard_export")(d =>
      Streams.withTempDir("graft-probe-export") { root =>
        val cat = new graft.catalog.ParquetCatalog(spark, root)
        graft.pipeline.Packing.exportShards(d, "doc_id", "text", cat,
          "shards", seqLen = 2048, numGroups = 8)
        val (bin, _) = graft.pipeline.Packing.readShards(cat, "shards")
        bin.filter(col("n_tok") > 0).count()
      })

    // Cross-corpus span scrub: train grows Nx, the eval gram set stays
    // FIXED (replica 0's %9 docs) — the decontamination posture. Only
    // replica 0's grams can match (per-token suffixes make replica
    // gram spaces disjoint), so scrubbed spans stay constant while the
    // gram build + semi join + rebuild scale with the corpus.
    lazy val scrubEval = docs1r.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    r0Row("cross_scrub") {
      val eval = scrubEval
      d => graft.dedup.Dedup.scrubCrossSpans(d, "doc_id", "text",
          eval, "doc_id", "text", k = 8, maxDf = 64L)
        .filter(length(col("text")) >= 0).count()
    }

    // Per-source calibrated gate: sources stay FIXED at ~20 while rows
    // grow Nx — the rank must ride the two-phase slicing, never a
    // source-sized window funnel. Output rows exactly Nx.
    fullRow("calibrated_gate")(d =>
      graft.quality.Calibrate.topFractionBySource(d, "doc_id", "source",
          "text", 3L, 4L)
        .filter(col("src_rank") >= 1 && col("n_src") > 0).count())

    // Eval-side contamination report: train grows Nx against the FIXED
    // eval set (the benchmark posture — eval suites do not grow with
    // the crawl). Output rows stay CONSTANT (one per eval doc); wall
    // must track the train gram build + the gram-keyed semi join.
    r0Row("contamination_report") {
      val eval = scrubEval
      d => graft.dedup.Dedup.crossContaminationReport(d, "doc_id", "text",
          eval, "doc_id", "text", k = 8, maxDf = 64L)
        .filter(col("coverage_ppm") >= 0 && col("n_tok") >= 0).count()
    }

    // Per-source rank buckets: ~20 FIXED sources, rows Nx; the
    // tokenize-scan score keeps the probe honest and the rank must
    // ride the two-phase slicing. Output rows exactly Nx.
    fullRow("rank_buckets")(d =>
      graft.quality.Calibrate.rankBucketsBySource(
          d.withColumn("score",
            size(graft.text.TextAnalysis.tokens(col("text")))
              .cast("double")),
          "doc_id", "source", "score", nBuckets = 3)
        .filter(col("bucket") >= 0 && col("src_rank") >= 1).count())

    // Quantized vector artifact: quantize + pack + publish Nx vectors
    // through the catalog, then serve a FIXED 16-query top-10 from the
    // read-back bytes (the ANN fixed-query-batch posture).
    row("vector_artifact", sem1, semN)(e =>
      Streams.withTempDir("graft-probe-vec") { root =>
        val cat = new graft.catalog.ParquetCatalog(spark, root)
        graft.similarity.VectorStore.exportVectors(e, "vec_id",
          "embedding", cat, "vecs")
        val dec = graft.similarity.VectorStore.vectorsDecoded(
            graft.similarity.VectorStore.readVectors(cat, "vecs"))
          .select(col("vec_id"), col("qvec"))
        graft.similarity.VectorStore.servedTopK(dec,
            dec.filter(col("vec_id") < 16), "vec_id", "qvec", k = 10)
          .filter(col("qcos") >= -2.0).count()
      })

    // Perceptron training: feature matrix build (one tokenize scan)
    // + 3 full-batch rounds, each one broadcast join + doc-keyed sum
    // + a dim-row delta collect — wall must track the token scan x
    // rounds; the model relation stays a constant dim rows.
    docRow("perceptron_train") { d =>
      val lab = d.select(col("doc_id"), col("text"), lit(1L).as("y"))
        .unionByName(d.select((col("doc_id") + 900000000L).as("doc_id"),
          concat(lit("the offer is free buy now click here ref "),
            col("doc_id").cast("string")).as("text"),
          lit(-1L).as("y")))
      graft.text.TextClassify.trainPerceptron(lab, "doc_id", "text",
          "y", dim = 256, rounds = 3)
        .filter(col("weight") > Long.MinValue).count()
    }

    // Cross-corpus SEMANTIC contamination: the train corpus grows Nx
    // while the eval set stays FIXED (x2-scaled copies of replica 0's
    // %13 vectors — cosine-identical to their sources, byte-different).
    // Only replica 0 can match (cross-replica cosines scramble under
    // the sign-flip isometry), so the match count is constant across
    // sizes. c stays FIXED here — unlike semantic_dedup's c ∝ N, the
    // candidate stage is train-x-eval: with a fixed eval side the
    // per-bucket eval population is constant, so candidate work is
    // already linear in N at fixed c (growing c only helps when BOTH
    // sides grow).
    row("semantic_cross", sem1, semN) {
      val semEval = sem1.filter(col("vec_id") % 13 === 0)
        .select((col("vec_id") + 900000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .localCheckpoint()
      d => graft.similarity.Similarity.crossCorpusSemanticMatches(d,
          "vec_id", semEval, "vec_id", "embedding", threshold = 0.99,
          c = 16, iters = 2, nProbe = 2)
        .filter(col("cosine") >= -2.0).count()
    }

    // Stupid-backoff familiarity: counts fit on the even-source half,
    // odd-source half scored — BOTH grow Nx. The per-token perturbation
    // keeps every replica's n-gram space disjoint, so count relations
    // grow exactly Nx and every scoring join stays key-partitioned;
    // scored rows grow exactly Nx.
    fullRow("backoff_familiarity") { d =>
      val srcnum = substring(col("source"), 4, 10).cast("int")
      graft.text.Repetition.backoffScore(
          d.filter(srcnum % 2 === 0).select(col("doc_id"), col("text")),
          d.filter(srcnum % 2 === 1).select(col("doc_id"), col("text")),
          "doc_id", "text")
        .filter(col("score_sum") >= 0).count()
    }

    // Length-bucketed batching: the bucket count stays FIXED (token
    // lengths don't grow under the per-token perturbation) while rows
    // per bucket grow Nx — the funnel-exposing shape for the
    // per-bucket two-phase rank. Output rows exactly Nx.
    docRow("length_batches")(d =>
      graft.pipeline.Packing.lengthBatches(d, "doc_id", "text", 32, 16)
        .filter(col("pos") >= 0).count())

    // Tokenizer fertility: merges trained ONCE on replica 0 (the
    // deployment shape — apply a frozen tokenizer to a grown corpus);
    // the report is one tokenize scan through the constant-depth
    // replace chain into a source-keyed aggregate. Sources stay fixed,
    // so output rows are constant and the honest axis is wall vs scan.
    fullRow("tokenizer_fertility") {
      // train OUTSIDE the timed region (frozen tokenizer)
      val fertMerges = graft.text.Bpe.trainMerges(
        docsFull1r.select(col("doc_id"), col("text")), "text", 8)
      d => graft.text.Bpe.fertilityReport(d, "source", "text", fertMerges)
        .filter(col("fertility") >= 0).count()
    }

    // HTML stage 0: wrap + extract — regex-dominated codegen scan plus
    // the per-doc reassembly aggregation; cost must track pages.
    docRow("html_extract")(d =>
      graft.text.Html.extract(
          d.select(col("doc_id"),
            Crawl.wrapCol(col("doc_id"), col("text")).as("html")),
          "doc_id", "html")
        .filter(col("n_kept") >= 0 && length(col("text")) >= 0)
        .count())

    // Unigram-LM training: the per-token perturbation grows the
    // unique-word dict exactly Nx (like bpe_train), so the substring
    // seed counts and both EM rounds' Viterbi passes scale in dict
    // size; the collected model stays top-K-bounded.
    docRow("unigram_train")(d =>
      graft.text.Unigram.train(d, "text").pieces.size.toLong)

    // The JPEG rows: `encode` plants one md5-derived image per id,
    // then real decode -> dHash -> the large-corpus band CC.
    def jpegClusters(d: DataFrame)(encode: Long => Array[Byte]): Long = {
      import spark.implicits._
      val media = d.select(col("doc_id")).as[Long].mapPartitions(_.map {
        id =>
          val p = encode(id)
          graft.multimodal.Multimodal.BmpMedia(id, p, p.length)
      })
      dhashClusters(graft.multimodal.Perceptual.dHashes(media)(spark))
    }
    // JPEG decode + perceptual dedup: md5-derived cell constants per
    // id (replica ids offset -> genuinely new images, the r9 image
    // lesson), real encode+decode per row, large-corpus band setting.
    docRow("jpeg_dedup")(jpegClusters(_)(id =>
      graft.multimodal.Jpeg.encode(Media.jpegPlantImage(id, altCell = false))))

    // Link graph + PageRank: pages carry replica-LOCAL md5-derived
    // targets (the hash of the FULL offset id — each replica is a
    // genuinely different random graph, not a copy); 5 rank rounds of
    // edge-keyed join + aggregation scale in |E| = 3·docs.
    lazy val nDocs1 = graft.sources.Tables.docCount(spark, sfDir)
    // the link rows' targets are mod the corpus size: set-up forces it
    def linkRow(name: String)(run: (Long, DataFrame) => Long): Unit =
      docRow(name) { val n = nDocs1; run(n, _) }
    def target(n: Long, seed: Int) =
      (idHash(seed) % n) + expr("doc_id div 10000000") * 10000000L
    def linkGraph(n: Long, d: DataFrame): (DataFrame, DataFrame) = {
      val refs = Seq(71, 72, 73).map { seed =>
        concat(lit("<a href=\""), Crawl.urlOf(target(n, seed)),
          lit("\">r</a>"))
      }
      val pages = d.select(col("doc_id"),
        concat(lit("<html><body>"), concat_ws(" ", refs: _*),
          lit("</body></html>")).as("html"))
      (d.select(col("doc_id").as("node")), WebGraph.docEdges(
        WebGraph.links(pages, "doc_id", "html")))
    }
    linkRow("link_pagerank") { (n, d) =>
      val (nodes, edges) = linkGraph(n, d)
      WebGraph.pageRank(nodes, edges, rounds = 5)
        .filter(col("rank") > 0).count()
    }

    // Link RESOLUTION: q233's messy forms (three quote styles,
    // root/../ relatives, protocol-relative) with replica-offset
    // targets; extraction + resolution + canonicalization are
    // per-page codegen string ops — the probe must read scan-bound
    // linear.
    def resolvePages(n: Long, d: DataFrame): DataFrame = {
      val (t1, t2, t3) = (target(n, 74), target(n, 75), target(n, 76))
      val u1 = Crawl.urlOf(t1)
      d.select(col("doc_id"), Crawl.urlOf(col("doc_id")).as("url"),
        concat(lit("<html><body><a href=\""), u1, lit("\">a</a>"),
          lit("<a href='"), u1, lit("?utm_source=feed'>b</a>"),
          lit("<a href="), u1, lit("#top>c</a>"),
          lit("<a href=\"/p/"), t2.cast("string"), lit("\">d</a>"),
          lit("<a href=\"../p/"), t2.cast("string"), lit("\">e</a>"),
          lit("<a href=\"//d"), (t3 % 20).cast("string"),
          lit(".example.com/p/"), t3.cast("string"),
          lit("\">f</a></body></html>")).as("html"))
    }
    def canonicalCount(links: DataFrame): Long =
      links.select(col("src"),
          WebGraph.canonicalUrl(col("url")).as("c"))
        .filter(length(col("c")) > 0).count()
    linkRow("link_resolution")((n, d) => canonicalCount(
      WebGraph.resolvedLinks(resolvePages(n, d), "doc_id", "url", "html")))

    // BASE-aware resolution (round 14): resolvePages with a rotating
    // <base> plant (relative / cross-host / root-relative / none) —
    // the extra per-page work is one extract + one resolve chain, so
    // the probe must stay scan-bound like link_resolution.
    linkRow("base_resolution") { (n, d) =>
      val j = expr("doc_id div 20") % 4
      val base = when(j === 1, lit("<base href=\"../\">"))
        .when(j === 2, lit("<base href=\"http://cdn.example.com/l/\">"))
        .when(j === 3, lit("<base href='/b/'>"))
        .otherwise(lit(""))
      canonicalCount(WebGraph.resolvedLinksBase(
        resolvePages(n, d).select(col("doc_id"), col("url"),
          concat(base, col("html")).as("html")), "doc_id", "url", "html"))
    }

    // Gopher quality rules (round 14): token + line explodes, both
    // doc-keyed aggregates — must read scan-bound linear, no spill.
    docRow("gopher_rules")(d =>
      graft.text.GopherQuality.signals(d, "doc_id", "text",
          minTok = 20L,
          stopwords = Seq("the", "a", "of", "and", "is"))
        .filter(col("n_tok") >= 0 && col("alpha_frac") >= 0.0 &&
          col("n_stop") >= 0)
        .count())

    // HITS: same probe graph, 5 Kleinberg rounds — two edge-keyed
    // join+agg passes per round instead of PageRank's one.
    linkRow("hits_rank") { (n, d) =>
      val (nodes, edges) = linkGraph(n, d)
      WebGraph.hits(nodes, edges, rounds = 5)
        .filter(col("auth") >= 0).count()
    }

    // WordPiece: like bpe_train, the per-token perturbation grows
    // the unique-word dict exactly Nx; each likelihood round adds a
    // symbol-count groupBy + two joins over the dict.
    docRow("wordpiece_train")(d =>
      graft.text.WordPiece.trainMerges(d, "text", 8).length.toLong)

    // Paragraph scrub: boilerplate planted BEFORE replication, so the
    // per-token perturbation makes each replica's boilerplate its own
    // (per-replica df = n/3 — linear structure, no cross-replica
    // mega-paragraph).
    lazy val para1 = docs1.select(col("doc_id"),
      concat_ws("\n",
        when(idHash(81) % 3 === 0,
          lit("subscribe to our newsletter today for updates")),
        col("text"),
        when(idHash(82) % 2 === 0,
          concat(lit("all rights reserved by source "),
            (col("doc_id") % 20).cast("string")))).as("ptext"))
    lazy val paraN = replicate(para1, Seq("doc_id"), 10000000L,
      textCols = Seq("ptext"))
    row("paragraph_scrub", para1, paraN)(d =>
      graft.dedup.Dedup
        .scrubFrequentParagraphs(d, "doc_id", "ptext", maxDf = 8L)
        .filter(col("n_dropped") >= 0 && length(col("clean_text")) >= 0)
        .count())

    // Sketches: the item stream grows Nx (per-token perturbation —
    // every replica's grams are new), the sketch stays its constant
    // shape and the probe batch is FIXED (replica-0 grams), so output
    // is constant and the honest number is build-scan wall time.
    def shItems(d: DataFrame): DataFrame =
      graft.dedup.Dedup.shingles(d, "doc_id", "text", n = 3)
        .select(col("shingle").as("item"))
    docRow("cms_sketch") {
      val cmsProbes = shItems(docs1.filter(col("doc_id") < 5)).distinct()
      d => graft.quality.CmsSketch.estimate(
          graft.quality.CmsSketch.partials(shItems(d), "item", 4, 1024),
          cmsProbes, "item", 4, 1024)
        .filter(col("est") >= 0).count()
    }
    docRow("hll_sketch")(d =>
      graft.quality.HllSketch.complete(
          graft.quality.HllSketch.registers(shItems(d), "item"))
        .filter(col("est") >= 0 && col("max_rho") >= 0).count())

    // C4 rules over the period-folded corpus (q262's prep — per-line
    // explode + doc-keyed re-agg, expect scan-bound linear).
    docRow("c4_rules")(d =>
      graft.text.C4Quality.clean(
          d.select(col("doc_id"), regexp_replace(col("text"),
            "(\\S+( \\S+){7}) ", "$1.\n").as("text")),
          "doc_id", "text")
        .filter(col("n_sent") >= 0 && col("n_lines_kept") >= 0)
        .count())

    // the transport rows' tail: `raw(headers, body bytes)` undoes the
    // content coding, then the charset decode; counts the decoded rows.
    // The count is an aggregate over the decoded column, not a filter:
    // Catalyst pushes a Filter below the projections with every alias
    // inlined at each reference, so the payload and the replicated text
    // were rebuilt inside every `when` branch of the filter condition,
    // past what whole-stage codegen compiles.
    def decodedCount(p: DataFrame)(raw: (Column, Column) => Column): Long = {
      val pt = Warc.payloadText(col("payload"))
      p.select(Warc.decodeBody(raw(pt, Warc.bodyBytes(col("payload"))),
          Warc.httpCharset(pt)).as("dec"))
        .agg(count_if(length(col("dec")) >= 0)).head().getLong(0)
    }

    // Charset transport: encode → binary payload → header parse →
    // per-charset decode, all in-plan (the q260 column path without
    // the storage round-trip — per-row codegen string/byte work).
    docRow("charset_transport") { d =>
      val tr = translate(col("text"), "ae", "éä")
      val latin = col("doc_id") % 2 === 1
      val body = when(latin, encode(tr, "ISO-8859-1"))
        .otherwise(encode(tr, "UTF-8"))
      val p = d.select(col("doc_id"),
        Warc.httpResponseBytes(lit(200), lit("text/html"),
          when(latin, lit("iso-8859-1")).otherwise(lit("utf-8")),
          lit(""), body).as("payload"))
      decodedCount(p)((_, bb) => bb)
    }

    // Mime sniff over q264's planted containers (in-plan; the gzip
    // class exercises real deflate per row).
    docRow("mime_sniff") { d =>
      val m = col("doc_id") % 6
      val text8 = encode(col("text"), "UTF-8")
      val body = when(m === 0,
          concat(unhex(lit("89504E470D0A1A0A")), text8))
        .when(m === 1, concat(unhex(lit("FFD8FFE0")), text8))
        .when(m === 2, graft.functions.Gzip.deflateCol(text8))
        .when(m === 3,
          concat(encode(lit("RIFF0000WAVEfmt "), "ISO-8859-1"), text8))
        .when(m === 4, concat(encode(lit("BM"), "ISO-8859-1"), text8))
        .otherwise(encode(concat(lit("<html><body>"), col("text"),
          lit("</body></html>")), "UTF-8"))
      d.select(graft.sources.MimeSniff.sniff(body).as("sn"))
        .filter(length(col("sn")) > 0).count()
    }

    // rel=canonical extraction + fold (q263's construction; per-page
    // string work + one ckey groupBy).
    docRow("canonical_fold") { d =>
      val t = col("doc_id")
      val m = t % 4
      val pages = d.select(t.as("doc_id"),
        when(m === 1, concat(Crawl.urlOf(t), lit("?ref=camp")))
          .otherwise(Crawl.urlOf(t)).as("url"),
        when(m === 2, concat(lit("<html><head></head><body>"),
          col("text"), lit("</body></html>")))
          .otherwise(concat(
            lit("<html><head><link rel=\"canonical\" href=\""),
            when(m === 1, concat(lit("/p/"), t.cast("string")))
              .when(m === 3, Crawl.urlOf(t - t % 10))
              .otherwise(Crawl.urlOf(t)),
            lit("\"></head><body>"), col("text"),
            lit("</body></html>"))).as("html"))
      val can = WebGraph.canonicalLinks(pages, "doc_id", "url",
        "html").withColumnRenamed("src", "doc_id")
      pages.join(can, Seq("doc_id"), "left")
        .select(coalesce(col("canonical"), col("url")).as("ckey"))
        .groupBy(col("ckey")).agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 1).count()
    }

    // Full transport onion per row (q271): chunk-frame + gzip +
    // cp1252, then dechunk → inflate → charset decode — all codegen
    // expression work riding the scan, so the probe measures the
    // codec constants at Nx rows.
    docRow("chunked_transport") { d =>
      import graft.functions.{Chunked, Gzip}
      val tr = translate(col("text"), "ae", "éä")
      val gz = col("doc_id") % 3 === 1
      val raw = Warc.encodeCp1252(tr)
      val p = d.select(col("doc_id"),
        Warc.httpResponseChunked(lit(200), lit("text/html"),
          lit("latin1"), when(gz, lit("gzip")).otherwise(lit("")),
          when(gz, Gzip.deflateCol(raw)).otherwise(raw),
          lit(7) + col("doc_id") % 13).as("payload"))
      decodedCount(p)((pt, bb) =>
        when(Warc.httpContentEncoding(pt) === "gzip",
          Gzip.inflateCol(Chunked.dechunkCol(bb)))
          .otherwise(Chunked.dechunkCol(bb)))
    }

    // Color JPEG encode + decode + dHash per sampled image (q274's
    // construction; md5-derived pixels, so replicas are genuinely new
    // images — the r9 image-probe lesson).
    docRow("color_jpeg")(jpegClusters(_)(id =>
      graft.multimodal.Jpeg.encodeColor(
        Media.colorPlantImage(id, altCell = false), subsample = id % 2 == 0)))

    // urlDecisions at Nx URLs against a fixed 60-rule set (a third
    // wildcard/anchored): the precompiled first-match scan must stay
    // linear in URLs with a model-sized per-row constant.
    docRow("url_decide") { d =>
      import spark.implicits._
      val rules = (0 until 60).map { k =>
        val host = s"d${k % 20}.example.com"
        val p = k % 3 match {
          case 0 => s"$host/p/${k / 3}"
          case 1 => s"$host/*${k % 10}$$"
          case _ => s"$host/p/*${k % 7}"
        }
        (p, if (k % 2 == 0) "deny" else "allow")
      }.toDF("pattern", "action")
      val urls = d.select(Crawl.urlOf(col("doc_id")).as("url"))
      WebGraph.urlDecisions(urls, rules)
        .filter(length(col("action")) > 0).count()
    }

    // Content-Encoding deflate onion (q280): per-row zlib/raw deflate
    // under the shared 'deflate' label, browser-style inflate fallback
    // — codec constants at Nx rows.
    docRow("deflate_transport") { d =>
      import graft.functions.Gzip
      val tr = translate(col("text"), "ae", "éä")
      val utf8 = encode(tr, "UTF-8")
      val k4 = col("doc_id") % 4
      val enc = when(k4 === 1, lit("gzip"))
        .when(k4 === 2 || k4 === 3, lit("deflate")).otherwise(lit(""))
      val body = when(k4 === 1, Gzip.deflateCol(utf8))
        .when(k4 === 2, Gzip.deflateZlibCol(utf8))
        .when(k4 === 3, Gzip.deflateRawCol(utf8))
        .otherwise(utf8)
      val p = d.select(col("doc_id"), Warc.httpResponseBytes(lit(200),
        lit("text/html"), lit("utf-8"), enc, body).as("payload"))
      decodedCount(p) { (pt, bb) =>
        val ce = Warc.httpContentEncoding(pt)
        when(ce === "gzip", Gzip.inflateCol(bb))
          .when(ce === "deflate", Gzip.inflateDeflateCol(bb))
          .otherwise(bb)
      }
    }

    // Recursive sitemap tree (q281's fixture): the frontier stays
    // model-sized (20 hosts × a handful of shards) while leaf CONTENT
    // scales with the corpus — the walk must stay linear in entries.
    docRow("sitemap_tree") { d =>
      import spark.implicits._
      val rows0 = d.select(Crawl.docHost.as("host"),
        (expr("doc_id div 20") % 9).as("shard"),
        concat(lit("<url><loc>"), Crawl.urlOf(col("doc_id")),
          lit("</loc><lastmod>2025-01-01</lastmod></url>")).as("e"))
      def smUrl(h: Column, n: String) =
        concat(lit("http://"), h, lit(s"/sm/$n"))
      def ref(h: Column, n: String) =
        concat(lit("<sitemap><loc>"), smUrl(h, n),
          lit("</loc></sitemap>"))
      def leafDf(n: String, sh: Seq[Int]) =
        rows0.filter(col("shard").isin(sh.map(_.toLong): _*))
          .groupBy(col("host"))
          .agg(concat_ws("", collect_list(col("e"))).as("xml"))
          .select(smUrl(col("host"), n).as("url"), col("xml"))
      val hosts = (0 until 20).map(k => s"d$k.example.com").toDF("host")
      val idx = hosts.select(smUrl(col("host"), "a1").as("url"),
          concat(ref(col("host"), "b0"), ref(col("host"), "b1"))
            .as("xml"))
        .unionByName(hosts.select(smUrl(col("host"), "b1").as("url"),
          concat(ref(col("host"), "c0"), ref(col("host"), "a1"),
            ref(col("host"), "missing")).as("xml")))
      val fetched = leafDf("a0", Seq(0, 1, 2))
        .unionByName(leafDf("a2", Seq(3, 4)))
        .unionByName(leafDf("b0", Seq(5, 6)))
        .unionByName(leafDf("c0", Seq(7, 8)))
        .unionByName(idx)
      val roots = hosts.select(col("host"),
        concat(ref(col("host"), "a0"), ref(col("host"), "a1"),
          ref(col("host"), "a2")).as("xml"))
      WebGraph.parseSitemapsRecursive(roots, "host", "xml", fetched,
          "url", "xml", maxDepth = 8)
        .filter(col("url") =!= "").count()
    }

    // DRI color JPEG encode+decode+dHash (q283's construction with
    // restart markers in every stream — the codec-bound DRI overhead
    // at Nx images).
    docRow("dri_jpeg")(jpegClusters(_)(id =>
      graft.multimodal.Jpeg.encodeColor(
        Media.colorPlantImage(id, altCell = false),
        subsample = id % 2 == 0, restartInterval = 3)))

    // Trained language-ID apply at Nx docs against a FROZEN 1x-fitted
    // model (the deployment shape): classify routes through the NATIVE
    // referenced-object codegen scan (functions/LangScore — no
    // explode/join/shuffle), which must stay linear in trigram volume.
    val langCipher = "translate(text, 'abcdefghijklmnopqrstuvwxy', 'yxwvutsrqponmlkjihgfedcba')"
    def ciphered = when(col("doc_id") % 2 === 0, col("text"))
      .otherwise(expr(langCipher)).as("text")
    lazy val langModel = graft.text.LangClassifier.fit(
      docs1.filter(col("doc_id") % 10 < 2)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("xx"))
            .as("label"), ciphered),
      "doc_id", "label", "text")
    docRow("trained_langid") {
      val model = langModel
      d => graft.text.LangClassifier.classify(
          d.select(col("doc_id"), ciphered), "doc_id", "text", model)
        .filter(length(col("lang_trained")) > 0).count()
    }

    // Progressive (successive-approximation) JPEG encode+decode+dHash
    // per sampled image — the multi-scan codec constant at Nx images.
    docRow("prog_jpeg")(jpegClusters(_)(id =>
      graft.multimodal.Jpeg.encodeProgressive(
        Media.colorPlantImage(id, altCell = false),
        color = true, sa = id % 2 == 0)))

    // CJK multibyte transport (q289's shape): per-row legacy-codec
    // encode through the real JDK charsets, header parse + WHATWG
    // superset decode back — codec work rides the scan, must stay
    // linear in bytes.
    docRow("cjk_transport") { d =>
      import spark.implicits._
      val landed = d.select(col("doc_id"), col("text"))
        .as[(Long, String)].mapPartitions(_.map { case (id, text) =>
          val cls = ((id / 20) % 5).toInt
          val (_, jdk, plant, aliases) =
            Text.CjkClasses(cls)
          val alias = aliases(((id / 100) % aliases.length).toInt)
          val planted = text.map(c => if (c == 'a') plant.charAt(0)
            else if (c == 'e') plant.charAt(1) else c)
          (id, alias,
            planted.getBytes(java.nio.charset.Charset.forName(jdk)))
        }).toDF("doc_id", "label", "body")
      val p = landed.select(col("doc_id"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), col("label"),
          lit(""), col("body")).as("payload"))
      decodedCount(p)((_, bb) => bb)
    }

    // 4:2:2 JPEG encode+decode+dHash (q290's layout, DRI on half the
    // streams) — the codec-bound profile at the third sampling layout.
    docRow("jpeg_422")(jpegClusters(_)(id =>
      graft.multimodal.Jpeg.encodeColor422(
        Media.plantImage422(id, altCell = false),
        restartInterval = if (id % 2 == 0) 3 else 0)))

    // Freshness-tiered scheduler (q295 minus the WARC landing, which
    // the transport probes already price): inventory and state scale
    // with the corpus, the scheduled OUTPUT is politeness-capped per
    // host — the cost must track the inventory scan and candidate
    // joins, incl. the per-host ranking window whose input grows Nx
    // while its output stays slot-bounded.
    docRow("fresh_scheduler") { d =>
      val t = col("doc_id")
      val state = Crawl.recrawlKnown(d).select(Crawl.urlOf(t).as("url"),
        Crawl.storedLastmod.as("stored_lastmod"),
        Warc.httpResponseCaching(lit(200), lit("text/html"),
          md5(encode(col("text"), "UTF-8")),
          concat(lit("max-age="), ((t % 9) * 500).cast("string")),
          lit(""), col("text")).as("sp"))
      val cand = Crawl.recrawlCandidates(Crawl.recrawlInventory(d),
        state.select(col("url"), col("stored_lastmod")))
      Crawl.recrawlScheduled(Crawl.recrawlAllowed(spark, cand))
        .select(col("url"))
        .join(state.select(col("url"),
          Warc.httpCacheControlMaxAge(col("sp")).as("ma")),
          Seq("url"), "left")
        .select(coalesce(
          (regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")
            % 13) * 400 < col("ma"), lit(false)).as("fresh"))
        .filter(col("fresh")).count()
    }

    // Multi-language routing at Nx docs against the FROZEN 1x-fitted
    // model: clean() + one more classify over the survivors — per-doc
    // scans, must stay linear like the pipeline probes.
    r0Row("multilang_route") {
      val cfg = graft.pipeline.CorpusPipeline.Config(langGate =
        Some(graft.pipeline.CorpusPipeline.LangGate(langModel,
          Seq("en", "xx"))))
      d => graft.pipeline.CorpusPipeline.routeByLanguage(
          d.select(col("doc_id"), ciphered), "doc_id", "text", cfg)
        .filter(length(col("lang_routed")) > 0).count()
    }

    table.result()
  }
}

package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * runs push only scd_merge,minhash_lsh far past the heap)
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(8)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = SparkEntry.session(SparkEntry.cpus)
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

    val li1 = graft.sources.Tables(spark, sfDir, "lineitem")
    val liN = replicate(li1, Seq("l_orderkey"), 100000000L)
    val docs1 = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val docsN = replicate(docs1, Seq("doc_id"), 10000000L,
      textCols = Seq("text"))
    val cust1 = graft.sources.Tables(spark, sfDir, "customer")
    val custN = replicate(cust1, Seq("c_custkey"), 10000000L)

    def agg(li: DataFrame): Long = li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")), count(lit(1)))
      .count()

    def minhash(d: DataFrame): Long =
      graft.dedup.Dedup.minhashNearDuplicates(d, "doc_id", "text",
        persistShingles = false).count()

    // span-level exact dedup: the per-token perturbation keeps every
    // within-replica k-gram relation exact and shares nothing across
    // replicas, so duplicated-span structure scales linearly
    def spans(d: DataFrame): Long =
      graft.dedup.Dedup.duplicateSpans(d, "doc_id", "text")
        .filter(col("dup_frac") >= 0).count()

    // span dedup as an ACTION: detect + rewrite the corpus with spans
    // removed — adds the covered-position semi join and the per-doc
    // rebuild on top of the spans pass. The filter REFERENCES the
    // rebuilt text: a bare count() lets Catalyst eliminate the whole
    // outer join (unique-keyed right side) and measures nothing.
    def scrub(d: DataFrame): Long =
      graft.dedup.Dedup.scrubDuplicateSpans(d, "doc_id", "text")
        .filter(length(col("text")) >= 0).count()

    // end-to-end near-dup clustering: LSH pairs -> iterative connected
    // components (the other scale-critical loop; per-round cost must
    // track the edge count, not the corpus)
    def cluster(d: DataFrame): Long = {
      val pairs = graft.dedup.Dedup.minhashNearDuplicates(d, "doc_id",
        "text", persistShingles = false).select(col("a"), col("b"))
      graft.dedup.Dedup.connectedComponents(pairs).count()
    }

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
    def perceptual(d: DataFrame): Long =
      graft.multimodal.Perceptual.clusters(imageDhs(d),
          "id", "dhash", maxHamming = 6, bands = 2)
        .filter(col("cluster") >= 0).count()

    def merge(c: DataFrame): Long = {
      val prod = c.select(col("c_custkey").cast("long").as("dim_id"),
        col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        lit(1).as("scd_version"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("scd_start_date"),
        lit("2200-01-01 00:00:00").cast("timestamp").as("scd_end_date"),
        lit(true).as("scd_active"))
      val stag = c.select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 50)
          .otherwise(col("c_acctbal")).as("c_acctbal"), col("c_mktsegment"))
      graft.scd.ScdMerge.merge(prod, stag, graft.queries.ScdQueries.schema,
        graft.scd.MergeOptions(
          java.sql.Timestamp.valueOf("2024-07-01 00:00:00"))).count()
    }

    // sketch rollup (q77 shape): per-(type, day) KMV partials merged per
    // type — per-group shuffle payload is k longs regardless of input
    // size, so wall time must track the scan, not the distinct count
    val ev1 = graft.sources.Tables(spark, sfDir, "events")
    val evN = replicate(ev1, Seq("event_id", "user_id"), 1000000000L)
    def rollup(ev: DataFrame): Long = {
      val h = graft.functions.PortableHash
        .hash60Base(col("user_id").cast("string"))
      ev.withColumn("day", expr("ts_us div 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(graft.functions.KmvSketch.kmvBuffer(h, 64).as("sk"))
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvSketch.kmvMergeEstimate(col("sk"), 64))
        .count()
    }

    // ANN: corpus grows Nx, the query batch stays FIXED (50 vectors from
    // the first replica) — the shape of "index more data, same query
    // load". Replicated vectors land in the replica-independent buckets
    // their originals chose, so per-query candidates grow exactly Nx:
    // linear candidate growth is the honest outcome, and wall time must
    // track it plus the corpus-side bucket-assignment scan.
    val emb1 = graft.sources.Tables(spark, sfDir, "embeddings")
    val embN = replicate(emb1, Seq("vec_id"), 100000000L)
    def annLsh(e: DataFrame): Long =
      graft.similarity.Similarity.portableAnnTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 10)
        .count()
    // IVF probes training too (the Lloyd loop is iters+1 corpus scans +
    // one skinny-row shuffle per iteration) with the O(1)-plan-size
    // CentroidOps argmin — c=64 exercises a wider centroid matrix than
    // the declared q42
    def annIvf(e: DataFrame): Long =
      graft.similarity.Similarity.ivfTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 10,
        c = 64, nProbe = 8)
        .count()
    // IVF-PQ probes the COMPRESSED path: build + encode + ADC top-k.
    // Encode cost is linear in corpus (m argmins per vector); query
    // cost tracks candidates — same fixed query batch as the others.
    def annPq(e: DataFrame): Long =
      graft.similarity.Similarity.ivfPqTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 10,
        c = 16, m = 8, nProbe = 4, kCodes = 64)
        .count()

    // Semantic dedup: replicas get a PER-REPLICA ±1 sign pattern — a
    // diagonal isometry, so every within-replica dot product and norm
    // is preserved EXACTLY (the planted dup structure replicates
    // verbatim) while cross-replica cosines scramble to noise. That is
    // the honest embedding analogue of the per-token text perturbation:
    // duplicate structure grows linearly, like genuinely new data. The
    // cluster count scales WITH the corpus (c ∝ N, the design's stated
    // scale path) so per-cluster populations — and the quadratic
    // within-cluster pair stage — stay flat per unit of data.
    val embP = emb1.select(col("vec_id"), col("embedding"))
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
    val sem1 = signFlip(embP, 1)
    val semN = signFlip(embP, factor)
    // hierarchical two-level assignment on BOTH sides (the recommended
    // config at scale): ~2√c·dims per row instead of c·dims
    def semDedup(e: DataFrame, c: Int): Long =
      graft.similarity.Similarity.semanticDedup(e, "vec_id", "embedding",
        threshold = 0.99, c = c, iters = 2, hierarchical = true).count()
    // ...and the recommended 100 TB configuration: hierarchical scan +
    // nProbe=2 pair generation (pair-stage input 2 rows/vector)
    def semDedup2(e: DataFrame, c: Int): Long =
      graft.similarity.Similarity.semanticDedup(e, "vec_id", "embedding",
        threshold = 0.99, c = c, iters = 2, hierarchical = true,
        nProbe = 2).count()

    // Sequence packing: numGroups stays FIXED (4 streams) while the
    // corpus grows Nx — the exact shape the old single-window plan
    // funnelled (one task per stream). The two-phase prefix sum must
    // keep per-task input at shuffle-slice size, so wall time tracks
    // the scan, not the stream length.
    def pack(d: DataFrame): Long =
      graft.pipeline.Packing.packSequences(d, "doc_id", "text",
        seqLen = 2048, numGroups = 4)
        .filter(col("n_seqs") >= 0).count()

    // Epoch shuffle: 2 seeded global permutations of the corpus via
    // the two-phase rank — wall must track the scan + range shuffle,
    // never a single-partition sort (output rows exactly 2N)
    def shuffleEpochs(d: DataFrame): Long = {
      val epochs = spark.range(2).select(col("id").cast("int").as("epoch"))
      val keyed = d.select(col("doc_id")).crossJoin(broadcast(epochs))
        .withColumn("k", graft.functions.PortableHash.hash60Base(
          concat_ws(":", col("epoch"), col("doc_id"))))
      graft.operators.Ranking.globalRowNumber(keyed,
        Seq("epoch", "k", "doc_id"), "ord")
        .filter(col("ord") >= 0).count()
    }

    // Incremental LSH: a FIXED batch folds into a 1x vs Nx index — the
    // growing-corpus ingest shape. The batch replays replica 0, so its
    // collision count against the index is constant across sizes; the
    // honest cost left is the index-side scan each batch pays.
    val docs1r = replicate(docs1, Seq("doc_id"), 10000000L,
      textCols = Seq("text"), k = 1)
    val lshBatch = docs1r
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
    def incLsh(idx: graft.dedup.LshIndex): Long =
      graft.dedup.IncrementalLsh.addBatch(idx, lshBatch, "doc_id",
        "text")._2.count()

    // Incremental semantic ingest, same fixed-batch shape: a constant
    // batch (replica 0 of the sign-flip corpus, ids offset) folds into
    // a 1x vs Nx index built on the sign-flip corpus — collision
    // structure against the index is constant, so the honest cost left
    // is the batch assignment + the index-side member join.
    val semBatch = sem1
      .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
    def incSem(idx: graft.similarity.SemanticIndex): Long =
      graft.similarity.IncrementalSemantic.addBatch(idx, semBatch,
        "vec_id", "embedding", threshold = 0.99)._2.count()

    // Cross-corpus contamination: the train corpus grows Nx while the
    // eval set stays FIXED (replica 0's %13 docs) — the production
    // shape, "re-check a grown corpus against the same benchmark".
    // Both sides derive from the r0-PERTURBED corpus (docs1r), so the
    // 1x and Nx train sides carry identical replica-0 text; the other
    // N-1 replicas share nothing with the eval set, so the match count
    // is constant across sizes and the honest cost left is the
    // train-side shingle/signature scan + the cross bucket join
    // against the fixed eval buckets.
    val contamEval = docs1r.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    def crossContam(d: DataFrame): Long =
      graft.dedup.Dedup.crossCorpusMatches(d, "doc_id", "text",
        contamEval, "doc_id", "text")
        .filter(col("jaccard") >= 0).count()

    // Audio fingerprint dedup: per-doc WAV with md5-of-text-derived
    // polynomial coefficients (2^42 coefficient space — the per-token
    // replica perturbation changes every md5, so replicas are genuinely
    // new clips; an id-multiplier formula aliased mod 2^14 and collided
    // at 64x), real decode -> 52-bit spectral fingerprint -> banded
    // hamming pairs -> CC. Probed at the LARGE-CORPUS band setting
    // (2x26-bit bands: random band collisions ~ n^2/2^26 stay
    // negligible at probe sizes) — cost must track the linear
    // encode+decode+fingerprint scan.
    def audio(d: DataFrame): Long = {
      import spark.implicits._
      val hmd5 = md5(col("text"))
      def hx(from: Int, len: Int) =
        conv(substring(hmd5, from, len), 16, 10).cast("long")
      val media = d.select(col("doc_id").cast("long").as("id"),
          (hx(1, 2).cast("int") * 8 + 512).as("n"),
          (hx(3, 4) % 16384L).as("s1"), (hx(7, 4) % 16384L).as("s2"),
          (hx(11, 4) % 16384L).as("s3"))
        .as[(Long, Int, Long, Long, Long)]
        .mapPartitions(_.map { case (id, n, s1, s2, s3) =>
          val p = graft.multimodal.Wav.encode(graft.multimodal.Wav.Audio(
            8000, 1, Array.tabulate(n)(i =>
              ((((s1 + 1) * (i + 3) + (s2 + 1) * i.toLong * (i + 7) + s3)
                % 16384L) - 8192L).toShort)))
          graft.multimodal.AudioFp.AudioMedia(id, p, p.length)
        })
      graft.multimodal.AudioFp.clusters(
          graft.multimodal.AudioFp.fingerprints(media)(spark),
          "id", "afp", maxHamming = 1, bands = 2)
        .filter(col("cluster") >= 0).count()
    }

    // fingerprint relation for the incremental-audio probe (same
    // md5-coefficient clips as `audio`, hashes only)
    def audioFps(d: DataFrame): DataFrame = {
      import spark.implicits._
      val hmd5 = md5(col("text"))
      def hx(from: Int, len: Int) =
        conv(substring(hmd5, from, len), 16, 10).cast("long")
      val media = d.select(col("doc_id").cast("long").as("id"),
          (hx(1, 2).cast("int") * 8 + 512).as("n"),
          (hx(3, 4) % 16384L).as("s1"), (hx(7, 4) % 16384L).as("s2"),
          (hx(11, 4) % 16384L).as("s3"))
        .as[(Long, Int, Long, Long, Long)]
        .mapPartitions(_.map { case (id, n, s1, s2, s3) =>
          val p = graft.multimodal.Wav.encode(graft.multimodal.Wav.Audio(
            8000, 1, Array.tabulate(n)(i =>
              ((((s1 + 1) * (i + 3) + (s2 + 1) * i.toLong * (i + 7) + s3)
                % 16384L) - 8192L).toShort)))
          graft.multimodal.AudioFp.AudioMedia(id, p, p.length)
        })
      graft.multimodal.AudioFp.fingerprints(media)(spark)
    }

    // Incremental audio: a FIXED batch (replica 0's clips, ids offset)
    // folds into a 1x vs Nx index — the growing-corpus ingest shape.
    // The index side of addBatch is a 16-byte-per-clip hash relation,
    // so the honest cost left is the batch decode+fingerprint plus the
    // banded join against the index (2x26 bands keep random collisions
    // negligible at probe sizes).
    val audioBatch = audioFps(docs1r
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
      .localCheckpoint()
    def incAudio(idx: graft.multimodal.IncrementalAudio.AudioIndex): Long =
      graft.multimodal.IncrementalAudio.addBatch(idx, audioBatch,
        maxHamming = 1)._2.count()

    // Incremental image: a FIXED batch (replica 0's dHashes, ids
    // offset) folds into a 1x vs Nx perceptual index — same
    // growing-corpus ingest shape as incremental_audio, at the
    // large-corpus 2x28-bit band setting (random band collisions
    // ~ n^2/2^28 negligible at probe sizes). The index side is a
    // 16-byte-per-image hash relation; honest cost = the batch
    // decode+dHash plus the banded join against the index.
    val imageBatch = imageDhs(docs1r
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
      .localCheckpoint()
    def incImage(
        idx: graft.multimodal.IncrementalPerceptual.PerceptualIndex): Long =
      graft.multimodal.IncrementalPerceptual.addBatch(idx, imageBatch,
        maxHamming = 1)._2.count()

    // DSIR importance resampling: the raw corpus grows Nx while the
    // TARGET stays fixed (replica 0's %4==1 sources) — "re-weight a
    // grown crawl against the same curated target". Cost must track
    // the two tokenize+explode scans (raw Nx + target constant) and
    // the doc-keyed score sum against the broadcast dim-row ratio
    // table; output rows grow exactly Nx.
    val docsFull1 = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val docsFull1r = replicate(docsFull1, Seq("doc_id"), 10000000L,
      textCols = Seq("text"), k = 1)
    val docsFullN = replicate(docsFull1, Seq("doc_id"), 10000000L,
      textCols = Seq("text"))
    val dsirTarget = docsFull1r
      .filter(substring(col("source"), 4, 10).cast("int") % 4 === 1)
      .select(col("doc_id"), col("text")).localCheckpoint()
    def dsir(d: DataFrame): Long =
      graft.pipeline.Dsir.resample(d.select(col("doc_id"), col("text")),
          dsirTarget, "doc_id", "text", dim = 256, keepPpm = 500000L)
        .filter(col("imp") >= 0 && col("threshold") >= 0).count()

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
    val semEval = sem1.filter(col("vec_id") % 13 === 0)
      .select((col("vec_id") + 900000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .localCheckpoint()
    def semCross(d: DataFrame): Long =
      graft.similarity.Similarity.crossCorpusSemanticMatches(d, "vec_id",
          semEval, "vec_id", "embedding", threshold = 0.99, c = 16,
          iters = 2, nProbe = 2)
        .filter(col("cosine") >= -2.0).count()

    // Stupid-backoff familiarity: counts fit on the even-source half,
    // odd-source half scored — BOTH grow Nx. The per-token perturbation
    // keeps every replica's n-gram space disjoint, so count relations
    // grow exactly Nx and every scoring join stays key-partitioned;
    // scored rows grow exactly Nx.
    def backoff(d: DataFrame): Long = {
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
    def lenBatch(d: DataFrame): Long =
      graft.pipeline.Packing.lengthBatches(d, "doc_id", "text", 32, 16)
        .filter(col("pos") >= 0).count()

    // Tokenizer fertility: merges trained ONCE on replica 0 (the
    // deployment shape — apply a frozen tokenizer to a grown corpus);
    // the report is one tokenize scan through the constant-depth
    // replace chain into a source-keyed aggregate. Sources stay fixed,
    // so output rows are constant and the honest axis is wall vs scan.
    lazy val fertMerges = graft.text.Bpe.trainMerges(
      docsFull1r.select(col("doc_id"), col("text")), "text", 8)
    def fert(d: DataFrame): Long =
      graft.text.Bpe.fertilityReport(d, "source", "text", fertMerges)
        .filter(col("fertility") >= 0).count()

    // Bloom decontamination: the train side grows Nx while the eval set
    // stays FIXED (replica 0's %5 docs) — "re-check a grown corpus" with
    // the join-free gate. The m-bit bitset is CONSTANT-size driver state
    // (2^22 bits = 512 KiB here, sized so the filter is not saturated at
    // 64x) and the eval probe is k scan-local integer tests, so the
    // honest cost left is the train-side fingerprint scan + the
    // constant-size aggregate merge; output rows stay constant.
    val bloomEval = docs1r.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    def bloomProbe(d: DataFrame): Long = {
      def fp(c: org.apache.spark.sql.Column) =
        graft.functions.PortableHash.hash60Base(
          graft.text.TextAnalysis.normalized(c))
      val filt = graft.dedup.Bloom.build(d, fp(col("text")), 1 << 22, 4)
      bloomEval.select(col("eval_id"),
          graft.dedup.Bloom.probeHits(fp(col("text")), filt)
            .cast("long").as("h"))
        .filter(col("h") >= 0).count()
    }

    // Hashed-linear classifier gate: one tokenize+explode scan feeding a
    // map-side-combinable doc-keyed sum against the broadcast (bucket,
    // weight) relation — cost must track the token scan; output rows
    // grow exactly Nx.
    def classify(d: DataFrame): Long = {
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
    def selection(d: DataFrame): Long = {
      val dd = d.withColumn("len", length(col("text")).cast("long"))
      val n = dd.count()
      graft.operators.Selection.kthSmallest(dd, col("len"), (n + 1) / 2)
    }

    // Entropy gate: per-char explode + two map-side-combinable aggs —
    // cost must track the character scan; output rows grow exactly Nx.
    def entropy(d: DataFrame): Long =
      graft.quality.Entropy.gate(d, "doc_id", "text")
        .filter(col("coll") >= 0).count()

    // PII scrub: pure row-local regex + Luhn pass, zero shuffle — the
    // action hashes the scrubbed text so the full rewrite materializes.
    def pii(d: DataFrame): Long =
      d.select(col("doc_id"), md5(graft.text.Pii.scrub(col("text"))).as("m"))
        .filter(length(col("m")) >= 0).count()

    // One-call RELEASE manifest (q144 composed: gates -> exact dedup ->
    // 0.5 dedup CC -> cross-corpus decontamination vs a FIXED eval set
    // (replica 0's %13 docs — production shape: re-release a grown
    // corpus against the same benchmark) -> 0.3 split CC -> token
    // counts). Gate admission corpus-independent (same reasoning as
    // streaming_corpus). Output = Nx clean survivors minus a CONSTANT
    // contaminated set (only replica 0 overlaps the eval docs), so
    // rows grow ~Nx with a fixed offset.
    val releaseEval = docs1r.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    def releaseRun(d: DataFrame): Long = {
      val cfg = graft.pipeline.CorpusPipeline.Config(minQuality = 0.0,
        languages = Seq("en", "de", "fr", "es", "und"))
      graft.pipeline.CorpusPipeline.release(d, releaseEval,
          "doc_id", "text", cfg)
        .filter(col("n_tok") >= 0 && length(col("split")) > 0).count()
    }

    // Token-balanced shards: one tokenize scan into the GLOBAL
    // two-phase prefix sum over the salted-hash order + broadcast
    // total — wall must track the range shuffle + slice windows (no
    // per-shard funnel; numShards only parameterizes the cut
    // arithmetic). Output rows exactly Nx.
    def tokShards(d: DataFrame): Long =
      graft.pipeline.Packing.tokenShards(d, "doc_id", "text", 8)
        .filter(col("shard") >= 0 && col("n_tok") > 0).count()

    // Curriculum schedule: quality scan -> band (row-local), epoch
    // expansion via a broadcast 3-row cross join, admission filter,
    // then ONE global two-phase order over (epoch, band, hash). Bands
    // and epochs stay fixed; admitted rows (and output) grow exactly
    // Nx. The 1x side runs the SUFFIXED replica (docs1r): the
    // per-token perturbation destroys stopwords and therefore shifts
    // quality bands, identically in every replica — suffixing both
    // sides makes admitted rows (and output) exactly Nx.
    def curriculumRun(d: DataFrame): Long =
      graft.pipeline.Curriculum.schedule(d, "doc_id", "text",
          epochs = 3, bands = 5)
        .filter(col("ord") >= 1 && col("band") >= 0).count()

    // Per-source cleaning funnel: the full stage chain (gates ->
    // exact dedup -> LSH -> CC) + four source-keyed counts. Sources
    // stay FIXED at ~20 while rows grow Nx — the funnel-exposing
    // shape for the report joins; the stage chain itself is the
    // release_manifest machinery (gate config plant-insensitive for
    // the same reason as streamCorpus/releaseRun).
    def funnelRun(d: DataFrame): Long = {
      val cfg = graft.pipeline.CorpusPipeline.Config(minQuality = 0.0,
        languages = Seq("en", "de", "fr", "es", "und"))
      graft.pipeline.CorpusPipeline.funnelReport(d, "doc_id", "source",
          "text", cfg)
        .filter(col("n_final") >= 0 && col("n_in") > 0).count()
    }

    // Binary loader export: packing placement + token join + per-
    // sequence assembly + TWO catalog publishes (the parquet write IS
    // the operator — a loader artifact that is never materialized is
    // not exported). Sequences, and therefore output rows and written
    // bytes, grow exactly Nx.
    def exportRun(d: DataFrame): Long = {
      val root = java.nio.file.Files
        .createTempDirectory("graft-probe-export").toString
      val cat = new graft.catalog.ParquetCatalog(spark, root)
      graft.pipeline.Packing.exportShards(d, "doc_id", "text", cat,
        "shards", seqLen = 2048, numGroups = 8)
      val (bin, _) = graft.pipeline.Packing.readShards(cat, "shards")
      val n = bin.filter(col("n_tok") > 0).count()
      graft.queries.Round7bQueries.rmTree(root)
      n
    }

    // Cross-corpus span scrub: train grows Nx, the eval gram set stays
    // FIXED (replica 0's %9 docs) — the decontamination posture. Only
    // replica 0's grams can match (per-token suffixes make replica
    // gram spaces disjoint), so scrubbed spans stay constant while the
    // gram build + semi join + rebuild scale with the corpus.
    val scrubEval = docs1r.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    def crossScrub(d: DataFrame): Long =
      graft.dedup.Dedup.scrubCrossSpans(d, "doc_id", "text",
          scrubEval, "doc_id", "text", k = 8, maxDf = 64L)
        .filter(length(col("text")) >= 0).count()

    // Per-source calibrated gate: sources stay FIXED at ~20 while rows
    // grow Nx — the rank must ride the two-phase slicing, never a
    // source-sized window funnel. Output rows exactly Nx.
    def calGate(d: DataFrame): Long =
      graft.quality.Calibrate.topFractionBySource(d, "doc_id", "source",
          "text", 3L, 4L)
        .filter(col("src_rank") >= 1 && col("n_src") > 0).count()

    // Eval-side contamination report: train grows Nx against the FIXED
    // eval set (the benchmark posture — eval suites do not grow with
    // the crawl). Output rows stay CONSTANT (one per eval doc); wall
    // must track the train gram build + the gram-keyed semi join.
    def contamReport(d: DataFrame): Long =
      graft.dedup.Dedup.crossContaminationReport(d, "doc_id", "text",
          scrubEval, "doc_id", "text", k = 8, maxDf = 64L)
        .filter(col("coverage_ppm") >= 0 && col("n_tok") >= 0).count()

    // Per-source rank buckets: ~20 FIXED sources, rows Nx; the
    // tokenize-scan score keeps the probe honest and the rank must
    // ride the two-phase slicing. Output rows exactly Nx.
    def rankBuckets(d: DataFrame): Long =
      graft.quality.Calibrate.rankBucketsBySource(
          d.withColumn("score",
            size(graft.text.TextAnalysis.tokens(col("text")))
              .cast("double")),
          "doc_id", "source", "score", nBuckets = 3)
        .filter(col("bucket") >= 0 && col("src_rank") >= 1).count()

    // Quantized vector artifact: quantize + pack + publish Nx vectors
    // through the catalog, then serve a FIXED 16-query top-10 from the
    // read-back bytes (the ANN fixed-query-batch posture).
    def vecArtifact(e: DataFrame): Long = {
      val root = java.nio.file.Files
        .createTempDirectory("graft-probe-vec").toString
      val cat = new graft.catalog.ParquetCatalog(spark, root)
      graft.similarity.VectorStore.exportVectors(e, "vec_id",
        "embedding", cat, "vecs")
      val dec = graft.similarity.VectorStore.vectorsDecoded(
          graft.similarity.VectorStore.readVectors(cat, "vecs"))
        .select(col("vec_id"), col("qvec"))
      val n = graft.similarity.VectorStore.servedTopK(dec,
          dec.filter(col("vec_id") < 16), "vec_id", "qvec", k = 10)
        .filter(col("qcos") >= -2.0).count()
      graft.queries.Round7bQueries.rmTree(root)
      n
    }

    // Exact stratified split: per-source two-phase rank + boundary
    // cuts — wall must track the range shuffle + slice windows, never
    // a per-source funnel (sources stay FIXED at ~20 while rows grow
    // Nx, the funnel-exposing shape).
    val docsSrc1 = graft.sources.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
    val docsSrcN = replicate(docsSrc1, Seq("doc_id"), 10000000L)
    def stratified(d: DataFrame): Long =
      graft.pipeline.Splits.stratifiedExact(d, "doc_id", "source")
        .filter(col("src_rank") >= 1 && length(col("split")) > 0).count()

    // Perceptron training: feature matrix build (one tokenize scan)
    // + 3 full-batch rounds, each one broadcast join + doc-keyed sum
    // + a dim-row delta collect — wall must track the token scan x
    // rounds; the model relation stays a constant dim rows.
    def percTrain(d: DataFrame): Long = {
      val lab = d.select(col("doc_id"), col("text"), lit(1L).as("y"))
        .unionByName(d.select((col("doc_id") + 900000000L).as("doc_id"),
          concat(lit("the offer is free buy now click here ref "),
            col("doc_id").cast("string")).as("text"),
          lit(-1L).as("y")))
      graft.text.TextClassify.trainPerceptron(lab, "doc_id", "text",
          "y", dim = 256, rounds = 3)
        .filter(col("weight") > Long.MinValue).count()
    }

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
    def streamCorpus(d: DataFrame): Long = {
      import java.nio.file.Files
      val stage = Files.createTempDirectory("graft-probe-stream").toString
      val cp = Files.createTempDirectory("graft-probe-stream-cp").toString
      val cfg = graft.pipeline.CorpusPipeline.Config(minQuality = 0.0,
        languages = Seq("en", "de", "fr", "es", "und"))
      d.repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = spark.readStream
        .schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val (_, gated, pairs) = graft.streaming.StreamingCorpus.ingest(
        stream, "doc_id", "text", cp, cfg)
      graft.queries.Round7bQueries.rmTree(stage)
      graft.queries.Round7bQueries.rmTree(cp)
      graft.streaming.StreamingCorpus
        .resolveSurvivors(gated, pairs, "doc_id", "text", cfg)
        .filter(length(col("text")) >= 0 && col("quality") >= -1.0)
        .count()
    }

    // HTML stage 0: wrap + extract — regex-dominated codegen scan plus
    // the per-doc reassembly aggregation; cost must track pages.
    def htmlEx(d: DataFrame): Long =
      graft.text.Html.extract(
          d.select(col("doc_id"), graft.queries.Round11Queries
            .wrapCol(col("doc_id"), col("text")).as("html")),
          "doc_id", "html")
        .filter(col("n_kept") >= 0 && length(col("text")) >= 0)
        .count()

    // Unigram-LM training: the per-token perturbation grows the
    // unique-word dict exactly Nx (like bpe_train), so the substring
    // seed counts and both EM rounds' Viterbi passes scale in dict
    // size; the collected model stays top-K-bounded.
    def uniTrain(d: DataFrame): Long =
      graft.text.Unigram.train(d, "text").pieces.size.toLong

    // JPEG decode + perceptual dedup: md5-derived cell constants per
    // id (replica ids offset -> genuinely new images, the r9 image
    // lesson), real encode+decode per row, large-corpus band setting.
    def jpegRun(d: DataFrame): Long = {
      import spark.implicits._
      implicit val sp: SparkSession = spark
      val media = d.select(col("doc_id")).as[Long].mapPartitions(_.map {
        id =>
          val img = graft.queries.Round11Queries
            .jpegPlantImage(id, altCell = false)
          val p = graft.multimodal.Jpeg.encode(img)
          graft.multimodal.Multimodal.BmpMedia(id, p, p.length)
      })
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(media), "id", "dhash",
          maxHamming = 6, bands = 2)
        .filter(col("cluster") >= 0).count()
    }

    // Link graph + PageRank: pages carry replica-LOCAL md5-derived
    // targets (the hash of the FULL offset id — each replica is a
    // genuinely different random graph, not a copy); 5 rank rounds of
    // edge-keyed join + aggregation scale in |E| = 3·docs.
    val nDocs1 = docs1.count()
    def probePages(d: DataFrame): DataFrame = {
      val refs = Seq(71, 72, 73).map { seed =>
        val t = (graft.functions.PortableHash
          .hash60(col("doc_id").cast("string"), seed) % nDocs1) +
          expr("doc_id div 10000000") * 10000000L
        concat(lit("<a href=\"http://d"), (t % 20).cast("string"),
          lit(".example.com/p/"), t.cast("string"), lit("\">r</a>"))
      }
      d.select(col("doc_id"),
        concat(lit("<html><body>"), concat_ws(" ", refs: _*),
          lit("</body></html>")).as("html"))
    }
    def pagerankRun(d: DataFrame): Long = {
      val pages = probePages(d)
      val edges = graft.graph.WebGraph.docEdges(
        graft.graph.WebGraph.links(pages, "doc_id", "html"))
      val nodes = d.select(col("doc_id").as("node"))
      graft.graph.WebGraph.pageRank(nodes, edges, rounds = 5)
        .filter(col("rank") > 0).count()
    }

    // HITS: same probe graph, 5 Kleinberg rounds — two edge-keyed
    // join+agg passes per round instead of PageRank's one.
    def hitsRun(d: DataFrame): Long = {
      val pages = probePages(d)
      val edges = graft.graph.WebGraph.docEdges(
        graft.graph.WebGraph.links(pages, "doc_id", "html"))
      val nodes = d.select(col("doc_id").as("node"))
      graft.graph.WebGraph.hits(nodes, edges, rounds = 5)
        .filter(col("auth") >= 0).count()
    }

    // Link RESOLUTION: q233's messy forms (three quote styles,
    // root/../ relatives, protocol-relative) with replica-offset
    // targets; extraction + resolution + canonicalization are
    // per-page codegen string ops — the probe must read scan-bound
    // linear.
    def resolvePages(d: DataFrame): DataFrame = {
      def t(seed: Int) = (graft.functions.PortableHash
        .hash60(col("doc_id").cast("string"), seed) % nDocs1) +
        expr("doc_id div 10000000") * 10000000L
      val (t1, t2, t3) = (t(74), t(75), t(76))
      val u1 = concat(lit("http://d"), (t1 % 20).cast("string"),
        lit(".example.com/p/"), t1.cast("string"))
      d.select(col("doc_id"),
        concat(lit("http://d"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"))
          .as("url"),
        concat(lit("<html><body><a href=\""), u1, lit("\">a</a>"),
          lit("<a href='"), u1, lit("?utm_source=feed'>b</a>"),
          lit("<a href="), u1, lit("#top>c</a>"),
          lit("<a href=\"/p/"), t2.cast("string"), lit("\">d</a>"),
          lit("<a href=\"../p/"), t2.cast("string"), lit("\">e</a>"),
          lit("<a href=\"//d"), (t3 % 20).cast("string"),
          lit(".example.com/p/"), t3.cast("string"),
          lit("\">f</a></body></html>")).as("html"))
    }
    def resolveRun(d: DataFrame): Long = {
      val links = graft.graph.WebGraph.resolvedLinks(
        resolvePages(d), "doc_id", "url", "html")
      links.select(col("src"),
          graft.graph.WebGraph.canonicalUrl(col("url")).as("c"))
        .filter(length(col("c")) > 0).count()
    }

    // BASE-aware resolution (round 14): resolvePages with a rotating
    // <base> plant (relative / cross-host / root-relative / none) —
    // the extra per-page work is one extract + one resolve chain, so
    // the probe must stay scan-bound like link_resolution.
    def baseResolveRun(d: DataFrame): Long = {
      val j = expr("doc_id div 20") % 4
      val base = when(j === 1, lit("<base href=\"../\">"))
        .when(j === 2, lit("<base href=\"http://cdn.example.com/l/\">"))
        .when(j === 3, lit("<base href='/b/'>"))
        .otherwise(lit(""))
      val pages = resolvePages(d).select(col("doc_id"), col("url"),
        concat(base, col("html")).as("html"))
      graft.graph.WebGraph.resolvedLinksBase(pages,
          "doc_id", "url", "html")
        .select(col("src"),
          graft.graph.WebGraph.canonicalUrl(col("url")).as("c"))
        .filter(length(col("c")) > 0).count()
    }

    // Gopher quality rules (round 14): token + line explodes, both
    // doc-keyed aggregates — must read scan-bound linear, no spill.
    def gopherRun(d: DataFrame): Long =
      graft.text.GopherQuality.signals(d, "doc_id", "text",
          minTok = 20L,
          stopwords = Seq("the", "a", "of", "and", "is"))
        .filter(col("n_tok") >= 0 && col("alpha_frac") >= 0.0 &&
          col("n_stop") >= 0)
        .count()

    // Paragraph scrub: boilerplate planted BEFORE replication, so the
    // per-token perturbation makes each replica's boilerplate its own
    // (per-replica df = n/3 — linear structure, no cross-replica
    // mega-paragraph).
    def paraPlant(d: DataFrame): DataFrame = d.select(col("doc_id"),
      concat_ws("\n",
        when(graft.functions.PortableHash
          .hash60(col("doc_id").cast("string"), 81) % 3 === 0,
          lit("subscribe to our newsletter today for updates")),
        col("text"),
        when(graft.functions.PortableHash
          .hash60(col("doc_id").cast("string"), 82) % 2 === 0,
          concat(lit("all rights reserved by source "),
            (col("doc_id") % 20).cast("string")))).as("ptext"))
    val para1 = paraPlant(docs1)
    val paraN = replicate(para1, Seq("doc_id"), 10000000L,
      textCols = Seq("ptext"))
    def paraScrub(d: DataFrame): Long =
      graft.dedup.Dedup
        .scrubFrequentParagraphs(d, "doc_id", "ptext", maxDf = 8L)
        .filter(col("n_dropped") >= 0 && length(col("clean_text")) >= 0)
        .count()

    // Sketches: the item stream grows Nx (per-token perturbation —
    // every replica's grams are new), the sketch stays its constant
    // shape and the probe batch is FIXED (replica-0 grams), so output
    // is constant and the honest number is build-scan wall time.
    def shItems(d: DataFrame): DataFrame =
      graft.dedup.Dedup.shingles(d, "doc_id", "text", n = 3)
        .select(col("shingle").as("item"))
    val cmsProbes = shItems(docs1.filter(col("doc_id") < 5)).distinct()
    def cmsRun(d: DataFrame): Long =
      graft.quality.CmsSketch.estimate(
          graft.quality.CmsSketch.partials(shItems(d), "item", 4, 1024),
          cmsProbes, "item", 4, 1024)
        .filter(col("est") >= 0).count()
    def hllRun(d: DataFrame): Long =
      graft.quality.HllSketch.complete(
          graft.quality.HllSketch.registers(shItems(d), "item"))
        .filter(col("est") >= 0 && col("max_rho") >= 0).count()

    // C4 rules over the period-folded corpus (q262's prep — per-line
    // explode + doc-keyed re-agg, expect scan-bound linear).
    def c4Run(d: DataFrame): Long =
      graft.text.C4Quality.clean(
          d.select(col("doc_id"), regexp_replace(col("text"),
            "(\\S+( \\S+){7}) ", "$1.\n").as("text")),
          "doc_id", "text")
        .filter(col("n_sent") >= 0 && col("n_lines_kept") >= 0)
        .count()

    // Charset transport: encode → binary payload → header parse →
    // per-charset decode, all in-plan (the q260 column path without
    // the storage round-trip — per-row codegen string/byte work).
    def charsetRun(d: DataFrame): Long = {
      import graft.sources.Warc
      val tr = translate(col("text"), "ae", "éä")
      val latin = col("doc_id") % 2 === 1
      val body = when(latin, encode(tr, "ISO-8859-1"))
        .otherwise(encode(tr, "UTF-8"))
      val p = d.select(col("doc_id"),
        Warc.httpResponseBytes(lit(200), lit("text/html"),
          when(latin, lit("iso-8859-1")).otherwise(lit("utf-8")),
          lit(""), body).as("payload"))
      p.select(col("doc_id"),
          Warc.decodeBody(Warc.bodyBytes(col("payload")),
            Warc.httpCharset(Warc.payloadText(col("payload"))))
            .as("dec"))
        .filter(length(col("dec")) >= 0).count()
    }

    // Mime sniff over q264's planted containers (in-plan; the gzip
    // class exercises real deflate per row).
    def mimeRun(d: DataFrame): Long = {
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
    def canonicalRun(d: DataFrame): Long = {
      import graft.graph.WebGraph
      val t = col("doc_id")
      def u(c: org.apache.spark.sql.Column) =
        concat(lit("http://d"), (c % 20).cast("string"),
          lit(".example.com/p/"), c.cast("string"))
      val m = t % 4
      val pages = d.select(t.as("doc_id"),
        when(m === 1, concat(u(t), lit("?ref=camp")))
          .otherwise(u(t)).as("url"),
        when(m === 2, concat(lit("<html><head></head><body>"),
          col("text"), lit("</body></html>")))
          .otherwise(concat(
            lit("<html><head><link rel=\"canonical\" href=\""),
            when(m === 1, concat(lit("/p/"), t.cast("string")))
              .when(m === 3, u(t - t % 10)).otherwise(u(t)),
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
    def chunkedRun(d: DataFrame): Long = {
      import graft.sources.Warc
      import graft.functions.{Chunked, Gzip}
      val tr = translate(col("text"), "ae", "éä")
      val gz = col("doc_id") % 3 === 1
      val raw = Warc.encodeCp1252(tr)
      val p = d.select(col("doc_id"),
        Warc.httpResponseChunked(lit(200), lit("text/html"),
          lit("latin1"), when(gz, lit("gzip")).otherwise(lit("")),
          when(gz, Gzip.deflateCol(raw)).otherwise(raw),
          lit(7) + col("doc_id") % 13).as("payload"))
      val pt = Warc.payloadText(col("payload"))
      p.select(
          Warc.decodeBody(
            when(Warc.httpContentEncoding(pt) === "gzip",
              Gzip.inflateCol(Chunked.dechunkCol(
                Warc.bodyBytes(col("payload")))))
              .otherwise(Chunked.dechunkCol(
                Warc.bodyBytes(col("payload")))),
            Warc.httpCharset(pt)).as("dec"))
        .filter(length(col("dec")) >= 0).count()
    }

    // Color JPEG encode + decode + dHash per sampled image (q274's
    // construction; md5-derived pixels, so replicas are genuinely new
    // images — the r9 image-probe lesson).
    def colorJpegRun(d: DataFrame): Long = {
      import spark.implicits._
      implicit val sp: SparkSession = spark
      val media = d.select(col("doc_id")).as[Long].mapPartitions(_.map {
        id =>
          val img = graft.queries.Round16Queries
            .colorPlantImage(id, altCell = false)
          val p = graft.multimodal.Jpeg.encodeColor(img,
            subsample = id % 2 == 0)
          graft.multimodal.Multimodal.BmpMedia(id, p, p.length)
      })
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(media), "id", "dhash",
          maxHamming = 6, bands = 2)
        .filter(col("cluster") >= 0).count()
    }

    // urlDecisions at Nx URLs against a fixed 60-rule set (a third
    // wildcard/anchored): the precompiled first-match scan must stay
    // linear in URLs with a model-sized per-row constant.
    def urlDecideRun(d: DataFrame): Long = {
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
      val urls = d.select(concat(lit("http://d"),
        (col("doc_id") % 20).cast("string"), lit(".example.com/p/"),
        col("doc_id").cast("string")).as("url"))
      graft.graph.WebGraph.urlDecisions(urls, rules)
        .filter(length(col("action")) > 0).count()
    }

    // Content-Encoding deflate onion (q280): per-row zlib/raw deflate
    // under the shared 'deflate' label, browser-style inflate fallback
    // — codec constants at Nx rows.
    def deflateRun(d: DataFrame): Long = {
      import graft.sources.Warc
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
      val pt = Warc.payloadText(col("payload"))
      val ce = Warc.httpContentEncoding(pt)
      val bb = Warc.bodyBytes(col("payload"))
      p.select(Warc.decodeBody(
          when(ce === "gzip", Gzip.inflateCol(bb))
            .when(ce === "deflate", Gzip.inflateDeflateCol(bb))
            .otherwise(bb),
          Warc.httpCharset(pt)).as("dec"))
        .filter(length(col("dec")) >= 0).count()
    }

    // Recursive sitemap tree (q281's fixture): the frontier stays
    // model-sized (20 hosts × a handful of shards) while leaf CONTENT
    // scales with the corpus — the walk must stay linear in entries.
    def sitemapTreeRun(d: DataFrame): Long = {
      import graft.graph.WebGraph
      import spark.implicits._
      val t = col("doc_id")
      val host = concat(lit("d"), (t % 20).cast("string"),
        lit(".example.com"))
      val rows0 = d.select(host.as("host"),
        (expr("doc_id div 20") % 9).as("shard"),
        concat(lit("<url><loc>http://d"), (t % 20).cast("string"),
          lit(".example.com/p/"), t.cast("string"),
          lit("</loc><lastmod>2025-01-01</lastmod></url>")).as("e"))
      def smUrl(h: org.apache.spark.sql.Column, n: String) =
        concat(lit("http://"), h, lit(s"/sm/$n"))
      def ref(h: org.apache.spark.sql.Column, n: String) =
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
    def driJpegRun(d: DataFrame): Long = {
      import spark.implicits._
      implicit val sp: SparkSession = spark
      val media = d.select(col("doc_id")).as[Long].mapPartitions(_.map {
        id =>
          val img = graft.queries.Round16Queries
            .colorPlantImage(id, altCell = false)
          val p = graft.multimodal.Jpeg.encodeColor(img,
            subsample = id % 2 == 0, restartInterval = 3)
          graft.multimodal.Multimodal.BmpMedia(id, p, p.length)
      })
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(media), "id", "dhash",
          maxHamming = 6, bands = 2)
        .filter(col("cluster") >= 0).count()
    }

    // Progressive (successive-approximation) JPEG encode+decode+dHash
    // per sampled image — the multi-scan codec constant at Nx images.
    def progJpegRun(d: DataFrame): Long = {
      import spark.implicits._
      implicit val sp: SparkSession = spark
      val media = d.select(col("doc_id")).as[Long].mapPartitions(_.map {
        id =>
          val img = graft.queries.Round16Queries
            .colorPlantImage(id, altCell = false)
          val p = graft.multimodal.Jpeg.encodeProgressive(img,
            color = true, sa = id % 2 == 0)
          graft.multimodal.Multimodal.BmpMedia(id, p, p.length)
      })
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(media), "id", "dhash",
          maxHamming = 6, bands = 2)
        .filter(col("cluster") >= 0).count()
    }

    // Trained language-ID apply at Nx docs against a FROZEN 1x-fitted
    // model (the deployment shape): classify routes through the NATIVE
    // referenced-object codegen scan (functions/LangScore — no
    // explode/join/shuffle), which must stay linear in trigram volume.
    val langCipher = "translate(text, 'abcdefghijklmnopqrstuvwxy', 'yxwvutsrqponmlkjihgfedcba')"
    val langModel = graft.text.LangClassifier.fit(
      docs1.filter(col("doc_id") % 10 < 2)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("xx"))
            .as("label"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(expr(langCipher)).as("text")),
      "doc_id", "label", "text")
    def langidRun(d: DataFrame): Long =
      graft.text.LangClassifier.classify(
          d.select(col("doc_id"),
            when(col("doc_id") % 2 === 0, col("text"))
              .otherwise(expr(langCipher)).as("text")),
          "doc_id", "text", langModel)
        .filter(length(col("lang_trained")) > 0).count()

    // CJK multibyte transport (q289's shape): per-row legacy-codec
    // encode through the real JDK charsets, header parse + WHATWG
    // superset decode back — codec work rides the scan, must stay
    // linear in bytes.
    def cjkRun(d: DataFrame): Long = {
      import graft.sources.Warc
      import spark.implicits._
      val landed = d.select(col("doc_id"), col("text"))
        .as[(Long, String)].mapPartitions(_.map { case (id, text) =>
          val cls = ((id / 20) % 5).toInt
          val (_, jdk, plant, aliases) =
            graft.queries.Round18Queries.CjkClasses(cls)
          val alias = aliases(((id / 100) % aliases.length).toInt)
          val planted = text.map(c => if (c == 'a') plant.charAt(0)
            else if (c == 'e') plant.charAt(1) else c)
          (id, alias,
            planted.getBytes(java.nio.charset.Charset.forName(jdk)))
        }).toDF("doc_id", "label", "body")
      val p = landed.select(col("doc_id"),
        Warc.httpResponseBytes(lit(200), lit("text/html"), col("label"),
          lit(""), col("body")).as("payload"))
      val pt = Warc.payloadText(col("payload"))
      p.select(Warc.decodeBody(Warc.bodyBytes(col("payload")),
          Warc.httpCharset(pt)).as("dec"))
        .filter(length(col("dec")) >= 0).count()
    }

    // 4:2:2 JPEG encode+decode+dHash (q290's layout, DRI on half the
    // streams) — the codec-bound profile at the third sampling layout.
    def jpeg422Run(d: DataFrame): Long = {
      import spark.implicits._
      implicit val sp: SparkSession = spark
      val media = d.select(col("doc_id")).as[Long].mapPartitions(_.map {
        id =>
          val img = graft.queries.Round18Queries
            .plantImage422(id, altCell = false)
          val p = graft.multimodal.Jpeg.encodeColor422(img,
            restartInterval = if (id % 2 == 0) 3 else 0)
          graft.multimodal.Multimodal.BmpMedia(id, p, p.length)
      })
      graft.multimodal.Perceptual.clusters(
          graft.multimodal.Perceptual.dHashes(media), "id", "dhash",
          maxHamming = 6, bands = 2)
        .filter(col("cluster") >= 0).count()
    }

    // Freshness-tiered scheduler (q295 minus the WARC landing, which
    // the transport probes already price): inventory and state scale
    // with the corpus, the scheduled OUTPUT is politeness-capped per
    // host — the cost must track the inventory scan and candidate
    // joins, incl. the per-host ranking window whose input grows Nx
    // while its output stays slot-bounded.
    def freshSchedRun(d: DataFrame): Long = {
      import graft.graph.WebGraph
      import graft.sources.Warc
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val t = col("doc_id")
      val j5 = expr("doc_id div 20") % 5
      val j6 = expr("doc_id div 20") % 6
      val day0 = (t * 7) % 28 + 1
      val dayN = day0 + when(t % 3 === 0, 1).otherwise(0)
      def dstr(dd: org.apache.spark.sql.Column) =
        concat(lit("2025-01-"), lpad(dd.cast("string"), 2, "0"))
      val host = concat(lit("d"), (t % 20).cast("string"),
        lit(".example.com"))
      val urlc = concat(lit("http://d"), (t % 20).cast("string"),
        lit(".example.com/p/"), t.cast("string"))
      val entries = d.filter(j6 =!= 5).select(host.as("host"),
        concat(lit("<url><loc>"), urlc, lit("</loc><lastmod>"),
          dstr(dayN), lit("</lastmod></url>")).as("e"))
      val maps = entries.groupBy(col("host"))
        .agg(concat_ws("", collect_list(col("e"))).as("xml"))
      val inv = WebGraph.parseSitemaps(maps, "host", "xml")
        .select(col("url"), col("lastmod"))
      val state = d.filter(j5 =!= 4).select(urlc.as("url"),
        dstr(day0).as("stored_lastmod"),
        Warc.httpResponseCaching(lit(200), lit("text/html"),
          md5(encode(col("text"), "UTF-8")),
          concat(lit("max-age="), ((t % 9) * 500).cast("string")),
          lit(""), col("text")).as("sp"))
      val cand = inv.join(state.select(col("url"),
          col("stored_lastmod")), Seq("url"), "left")
        .filter(col("stored_lastmod").isNull ||
          col("lastmod") > col("stored_lastmod"))
        .select(col("url"), col("lastmod"),
          (regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")
            % 20).as("dom"))
      val robots = (0 until 20).map { k =>
        (s"d$k.example.com",
          s"User-agent: *\nDisallow: /*9$$\nDisallow: /p/2\n" +
            s"Crawl-delay: ${(k % 4) * 5 + 5}")
      }.toDF("host", "txt")
      val rules = WebGraph.parseRobotsFor(robots, "host", "txt",
        "graftbot")
      val delays = WebGraph.crawlDelays(robots, "host", "txt",
        "graftbot")
      val dec = WebGraph.urlDecisions(cand.select(col("url")), rules)
      val sched = cand.join(dec, Seq("url"))
        .filter(col("action") === "allow")
        .withColumn("host", concat(lit("d"), col("dom").cast("string"),
          lit(".example.com")))
        .join(broadcast(delays), Seq("host"), "left")
        .withColumn("slots",
          greatest(lit(1L), expr("60 div coalesce(delay, 60)")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("host"))
            .orderBy(col("lastmod").desc, col("url"))))
        .filter(col("rk") <= col("slots"))
        .select(col("url"))
      sched.join(state.select(col("url"),
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
    def routeRun(d: DataFrame): Long = {
      val mixed = d.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(expr(langCipher)).as("text"))
      val cfg = graft.pipeline.CorpusPipeline.Config(langGate =
        Some(graft.pipeline.CorpusPipeline.LangGate(langModel,
          Seq("en", "xx"))))
      graft.pipeline.CorpusPipeline.routeByLanguage(mixed, "doc_id",
          "text", cfg)
        .filter(length(col("lang_routed")) > 0).count()
    }

    // Every probe thunk's action FILTERS on a computed output column:
    // a bare count() lets Catalyst prune unused projections and
    // eliminate unique-keyed outer joins (and the windows feeding
    // them), silently measuring a fraction of the operator.
    // warmup
    agg(li1); ()
    type M = (Double, Long, Long) // seconds, rows, spill bytes
    val rows: Seq[(String, () => (M, M))] = Seq(
      "agg" -> (() => (time(agg(li1)), time(agg(liN)))),
      "minhash_lsh" -> (() => (time(minhash(docs1)), time(minhash(docsN)))),
      "dedup_cluster" -> (() => (time(cluster(docs1)), time(cluster(docsN)))),
      "cross_contamination" -> (() => (time(crossContam(docs1r)),
        time(crossContam(docsN)))),
      "dup_spans" -> (() => (time(spans(docs1)), time(spans(docsN)))),
      "span_scrub" -> (() => (time(scrub(docs1)), time(scrub(docsN)))),
      "perceptual_dedup" -> (() => (time(perceptual(docs1)),
        time(perceptual(docsN)))),
      // BPE training: the corpus pass is the word-frequency
      // reduction; the per-token perturbation grows the unique-word
      // dict EXACTLY Nx (every word distinct per replica), so each
      // merge round's pair-count groupBy scales in dict size. The
      // returned merge count stays 8 — the output is the learned
      // table, not data — so the honest row is wall time vs dict
      // growth. Training's argmax consumes the full pair count; no
      // pruning hazard.
      // winnowing: two doc-keyed window passes; per-token perturbation
      // keeps every within-replica gram relation intact (hash VALUES
      // differ so selected positions redistribute, but density ~2/(w+1)
      // of grams holds) — fingerprint rows grow ~Nx
      "winnow" -> (() => (
        time(graft.text.Winnow.fingerprints(docs1, "doc_id", "text")
          .filter(col("fp") >= 0).count()),
        time(graft.text.Winnow.fingerprints(docsN, "doc_id", "text")
          .filter(col("fp") >= 0).count()))),
      "bpe_train" -> (() => (
        time(graft.text.Bpe.trainMerges(docs1, "text", 8).length.toLong),
        time(graft.text.Bpe.trainMerges(docsN, "text", 8).length.toLong))),
      "ann_lsh" -> (() => (time(annLsh(emb1)), time(annLsh(embN)))),
      "ann_ivf" -> (() => (time(annIvf(emb1)), time(annIvf(embN)))),
      "ann_ivfpq" -> (() => (time(annPq(emb1)), time(annPq(embN)))),
      "semantic_dedup" -> (() => (time(semDedup(sem1, 16)),
        time(semDedup(semN, 16 * factor)))),
      "semantic_multiprobe" -> (() => (time(semDedup2(sem1, 16)),
        time(semDedup2(semN, 16 * factor)))),
      "incremental_lsh" -> (() => {
        val idx1 = graft.dedup.IncrementalLsh.build(docs1r, "doc_id",
          "text")._1
        val idxN = graft.dedup.IncrementalLsh.build(docsN, "doc_id",
          "text")._1
        (time(incLsh(idx1)), time(incLsh(idxN)))
      }),
      "incremental_semantic" -> (() => {
        val idx1 = graft.similarity.IncrementalSemantic.build(sem1,
          "vec_id", "embedding", threshold = 0.99, c = 16)._1
        val idxN = graft.similarity.IncrementalSemantic.build(semN,
          "vec_id", "embedding", threshold = 0.99, c = 16 * factor)._1
        (time(incSem(idx1)), time(incSem(idxN)))
      }),
      "seq_packing" -> (() => (time(pack(docs1)), time(pack(docsN)))),
      "epoch_shuffle" -> (() => (time(shuffleEpochs(docs1)),
        time(shuffleEpochs(docsN)))),
      "scd_merge" -> (() => (time(merge(cust1)), time(merge(custN)))),
      "sketch_rollup" -> (() => (time(rollup(ev1)), time(rollup(evN)))),
      "audio_dedup" -> (() => (time(audio(docs1)), time(audio(docsN)))),
      "incremental_audio" -> (() => {
        val idx1 = graft.multimodal.IncrementalAudio.build(
          audioFps(docs1r), maxHamming = 1, bands = 2)._1
        val idxN = graft.multimodal.IncrementalAudio.build(
          audioFps(docsN), maxHamming = 1, bands = 2)._1
        (time(incAudio(idx1)), time(incAudio(idxN)))
      }),
      "incremental_image" -> (() => {
        val idx1 = graft.multimodal.IncrementalPerceptual.build(
          imageDhs(docs1r), maxHamming = 1, bands = 2)._1
        val idxN = graft.multimodal.IncrementalPerceptual.build(
          imageDhs(docsN), maxHamming = 1, bands = 2)._1
        (time(incImage(idx1)), time(incImage(idxN)))
      }),
      "dsir_resample" -> (() => (time(dsir(docsFull1r)),
        time(dsir(docsFullN)))),
      "bloom_decontaminate" -> (() => (time(bloomProbe(docs1r)),
        time(bloomProbe(docsN)))),
      "classifier_gate" -> (() => (time(classify(docs1)),
        time(classify(docsN)))),
      "exact_selection" -> (() => (time(selection(docs1)),
        time(selection(docsN)))),
      "entropy_gate" -> (() => (time(entropy(docs1)), time(entropy(docsN)))),
      "pii_scrub" -> (() => (time(pii(docs1)), time(pii(docsN)))),
      "streaming_corpus" -> (() => (time(streamCorpus(docs1r)),
        time(streamCorpus(docsN)))),
      "release_manifest" -> (() => (time(releaseRun(docs1r)),
        time(releaseRun(docsN)))),
      "stratified_split" -> (() => (time(stratified(docsSrc1)),
        time(stratified(docsSrcN)))),
      "token_shards" -> (() => (time(tokShards(docs1)),
        time(tokShards(docsN)))),
      "curriculum" -> (() => (time(curriculumRun(docs1r)),
        time(curriculumRun(docsN)))),
      "funnel_report" -> (() => (time(funnelRun(docsFull1r)),
        time(funnelRun(docsFullN)))),
      "shard_export" -> (() => (time(exportRun(docs1)),
        time(exportRun(docsN)))),
      "cross_scrub" -> (() => (time(crossScrub(docs1r)),
        time(crossScrub(docsN)))),
      "calibrated_gate" -> (() => (time(calGate(docsFull1r)),
        time(calGate(docsFullN)))),
      "contamination_report" -> (() => (time(contamReport(docs1r)),
        time(contamReport(docsN)))),
      "rank_buckets" -> (() => (time(rankBuckets(docsFull1r)),
        time(rankBuckets(docsFullN)))),
      "vector_artifact" -> (() => (time(vecArtifact(sem1)),
        time(vecArtifact(semN)))),
      "perceptron_train" -> (() => (time(percTrain(docs1)),
        time(percTrain(docsN)))),
      "semantic_cross" -> (() => (time(semCross(sem1)),
        time(semCross(semN)))),
      "backoff_familiarity" -> (() => (time(backoff(docsFull1r)),
        time(backoff(docsFullN)))),
      "length_batches" -> (() => (time(lenBatch(docs1)),
        time(lenBatch(docsN)))),
      "tokenizer_fertility" -> (() => {
        fertMerges // train OUTSIDE the timed region (frozen tokenizer)
        (time(fert(docsFull1r)), time(fert(docsFullN)))
      }),
      "html_extract" -> (() => (time(htmlEx(docs1)), time(htmlEx(docsN)))),
      "unigram_train" -> (() => (time(uniTrain(docs1)),
        time(uniTrain(docsN)))),
      "jpeg_dedup" -> (() => (time(jpegRun(docs1)), time(jpegRun(docsN)))),
      "link_pagerank" -> (() => (time(pagerankRun(docs1)),
        time(pagerankRun(docsN)))),
      "link_resolution" -> (() => (time(resolveRun(docs1)),
        time(resolveRun(docsN)))),
      "base_resolution" -> (() => (time(baseResolveRun(docs1)),
        time(baseResolveRun(docsN)))),
      "gopher_rules" -> (() => (time(gopherRun(docs1)),
        time(gopherRun(docsN)))),
      "hits_rank" -> (() => (time(hitsRun(docs1)),
        time(hitsRun(docsN)))),
      // WordPiece: like bpe_train, the per-token perturbation grows
      // the unique-word dict exactly Nx; each likelihood round adds a
      // symbol-count groupBy + two joins over the dict.
      "wordpiece_train" -> (() => (
        time(graft.text.WordPiece.trainMerges(docs1, "text", 8)
          .length.toLong),
        time(graft.text.WordPiece.trainMerges(docsN, "text", 8)
          .length.toLong))),
      "paragraph_scrub" -> (() => (time(paraScrub(para1)),
        time(paraScrub(paraN)))),
      "cms_sketch" -> (() => (time(cmsRun(docs1)), time(cmsRun(docsN)))),
      "hll_sketch" -> (() => (time(hllRun(docs1)), time(hllRun(docsN)))),
      "c4_rules" -> (() => (time(c4Run(docs1)), time(c4Run(docsN)))),
      "charset_transport" -> (() => (time(charsetRun(docs1)),
        time(charsetRun(docsN)))),
      "mime_sniff" -> (() => (time(mimeRun(docs1)), time(mimeRun(docsN)))),
      "canonical_fold" -> (() => (time(canonicalRun(docs1)),
        time(canonicalRun(docsN)))),
      "chunked_transport" -> (() => (time(chunkedRun(docs1)),
        time(chunkedRun(docsN)))),
      "color_jpeg" -> (() => (time(colorJpegRun(docs1)),
        time(colorJpegRun(docsN)))),
      "url_decide" -> (() => (time(urlDecideRun(docs1)),
        time(urlDecideRun(docsN)))),
      "deflate_transport" -> (() => (time(deflateRun(docs1)),
        time(deflateRun(docsN)))),
      "sitemap_tree" -> (() => (time(sitemapTreeRun(docs1)),
        time(sitemapTreeRun(docsN)))),
      "dri_jpeg" -> (() => (time(driJpegRun(docs1)),
        time(driJpegRun(docsN)))),
      "trained_langid" -> (() => (time(langidRun(docs1)),
        time(langidRun(docsN)))),
      "prog_jpeg" -> (() => (time(progJpegRun(docs1)),
        time(progJpegRun(docsN)))),
      "cjk_transport" -> (() => (time(cjkRun(docs1)),
        time(cjkRun(docsN)))),
      "jpeg_422" -> (() => (time(jpeg422Run(docs1)),
        time(jpeg422Run(docsN)))),
      "fresh_scheduler" -> (() => (time(freshSchedRun(docs1)),
        time(freshSchedRun(docsN)))),
      "multilang_route" -> (() => (time(routeRun(docs1r)),
        time(routeRun(docsN)))))
    val results = rows
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, f) => n -> f() }
    val parts = results.map { case (name, ((t1, n1, s1), (tN, nN, sN))) =>
      f"""\"$name\":{\"t1\":$t1%.2f,\"rows1\":$n1,\"tN\":$tN%.2f,\"rowsN\":$nN,\"ratio\":${tN / t1}%.2f,\"spill1MB\":${s1 / 1e6}%.1f,\"spillNMB\":${sN / 1e6}%.1f}"""
    }
    println(s"""{"factor":$factor,${parts.mkString(",")}}""")
    spark.stop()
  }
}

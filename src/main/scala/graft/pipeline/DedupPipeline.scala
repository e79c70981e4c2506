package graft.pipeline

import graft.config.DedupConfig
import graft.functions.{AudioPcm, SimHash, TextShingles}
import graft.operators.{ConnectedComponents, ContainmentJoin, LshCandidates, MinHasher, PairVerifier}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One row per pipeline stage, written alongside outputs (the north rule's
  * per-partition lineage + metrics; analog of the reference's metadata
  * counters, improved_faiss_detector.py:399-405). */
final case class StageMetric(stage: String, metric: String, value: Long)

final case class PipelineResult(
    signatures: DataFrame,   // clip_id, sha, tHashExact, ashingles, tsig, asig, simhash, cfps
    dupPairs: DataFrame,     // a, b, score, method
    clusters: DataFrame,     // node, component, clusterSize
    metrics: Seq[StageMetric])

/**
 * The full near-duplicate pipeline over a clips table (BASELINE.json
 * north_star): signature extraction -> LSH candidates (text + audio) ->
 * exact verify -> containment pass -> connected components.
 *
 * Every stage is a declarative DataFrame plan; shuffles happen exactly at:
 *  (1) the MinHash groupBy(clip_id)            — signature build
 *  (2) the band-key groupBy/self-join          — candidate generation
 *  (3) the verify joins back to signatures     — exact re-score
 *  (4) CC label-propagation rounds             — clustering
 * The signatures DataFrame is cached across (2)/(3) so the corpus is scanned
 * once.
 */
object DedupPipeline {

  /** Char-gram shingle column for the exact text-verify metric — exposed so
    * consumers that need shingles OUTSIDE the hub (run()'s endpoint-filtered
    * text verify, the clip_signatures oracle query) derive them from the
    * clips table instead of paying for them in every hub scan. */
  def textShingleCol(cfg: DedupConfig): org.apache.spark.sql.Column =
    TextShingles.charGramHashesUdf(cfg.charGramK)(lower(col("transcript")))

  /** Per-clip feature/signature extraction — a SINGLE projection pass with
    * zero shuffle: shingling is Catalyst built-ins, and the MinHash
    * signatures use the row-local fast path (MinHasher.signatureUdf — a
    * signature is a pure function of the row's shingle set; the
    * explode+groupBy form would shuffle the exploded corpus for nothing.
    * MinHashSpec pins the two paths equal). */
  def signatures(spark: SparkSession, clips: DataFrame, cfg: DedupConfig): DataFrame = {
    // row-local rolling-hash shingles (TextShingles.*31Jvm): same distinct
    // k-gram identity as the Catalyst charShingles/wordShingles forms (the
    // oracle queries keep those) with zero per-gram string allocation —
    // ShingleSpec pins set sizes and pair jaccards equal.
    val tsh = textShingleCol(cfg)
    // LSH signature runs on word n-grams (low background J — see DedupConfig);
    // char-gram shingles stay for the exact verify metric.
    val twsh = TextShingles.wordNgramHashesUdf(cfg.textLshWordNgram)(lower(col("transcript")))
    val tSigUdf = MinHasher.signatureUdf(cfg.numPerms, cfg.seed)
    val aSigUdf = MinHasher.signatureUdf(cfg.numPerms, cfg.seed + 1)
    clips.select(
      col("clip_id"),
      sha2(col("bytes"), 256).as("sha"),
      // 256-bit transcript identity: exact edges bypass verification and CC
      // propagates them, so a 64-bit key's birthday collisions (~10^4 false
      // cluster merges at 10^12 rows) are not acceptable; NULL for empty
      // transcripts — an absent transcription is not shared content.
      when(length(col("transcript")) > 0, sha2(col("transcript"), 256))
        .as("tHashExact"),
      tsh.as("tshingles"),
      twsh.as("twshingles"),
      AudioPcm.audioShingles(spark, col("bytes"), col("sr_hz"),
        cfg.frameMs, cfg.hopMs, cfg.framesPerShingle, cfg.energyLevels).as("ashingles"),
      SimHash.simhash(spark, col("transcript")).as("simhash"),
      ContainmentJoin.fingerprintsUdf(cfg.containmentMinRun)(lower(col("transcript")))
        .as("cfps"),
      col("transcript"))
      .withColumn("tsig", tSigUdf(col("twshingles")))
      .withColumn("asig", aSigUdf(col("ashingles")))
      // twshingles exists only to feed tsig: dropping it here keeps ~1-2 KB
      // per row out of the checkpointed hub table every downstream stage
      // scans (and out of the stage commit at 10^12 rows)
      .drop("twshingles")
  }

  /** Exact-identity star edges (stage a of run, public for the DuckDB-
    * oracled clip_exact_* queries): both identity keys (content sha +
    * transcript hash) in ONE tagged key space — one groupBy + one join
    * instead of two of each. tHashExact is NULL for empty transcripts, so
    * concat yields NULL and the filter drops the key — untranscribed clips
    * never collapse into one cluster. groupBy + adjacent pairing would lose
    * transitivity info; star edges to the min id per group are linear and CC
    * closes the group. */
  def exactEdges(sigs: DataFrame): DataFrame = {
    val g = sigs.select(col("clip_id"), explode(filter(array(
      concat(lit("s:"), col("sha")),
      concat(lit("t:"), col("tHashExact"))), k => k.isNotNull)).as("k"))
    val heads = g.groupBy("k").agg(min("clip_id").as("a"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    g.join(heads, "k").filter(col("clip_id") =!= col("a"))
      .select(col("a"), col("clip_id").as("b"), lit(1.0).as("score"),
        lit("exact").as("method"))
      .dropDuplicates("a", "b")
  }

  def run(spark: SparkSession, clips: DataFrame, cfg: DedupConfig = DedupConfig.default): PipelineResult = {
    val metrics = scala.collection.mutable.ArrayBuffer[StageMetric]()
    // clips are read twice (signature pass + PCM confirm); cache the bytes
    // once instead of re-scanning/re-decoding the source.
    val cachedClips = clips.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint, not .persist: the signature rows carry several
    // 100-1000 element arrays, and the columnar cache builder (per-element
    // compression) costs more than the signature computation itself;
    // checkpointing stores UnsafeRows as-is and cuts the plan lineage for
    // every downstream branch. With cfg.stageRoot set the stage instead
    // commits to a LakeTable snapshot — the durable, resumable form: a
    // restarted job with the same input fingerprint reads the committed
    // signatures instead of re-signing the corpus.
    //
    // The hub is NARROW: tshingles (~2.4 KB/row) and transcript are dropped
    // before materialization — a checkpointed row store has no column
    // pruning, so ~8 downstream joins re-stream the FULL row width per scan
    // (GBs per run here, TBs of stage-table I/O at the north star). Each
    // dropped column has exactly one consumer, which recomputes it from the
    // COLUMNAR clips cache (pruned to the small transcript column) on the
    // endpoint-filtered subset instead. Catalyst column-pruning removes the
    // dropped columns' kernels from this plan entirely.
    val sigs = cfg.stageRoot match {
      case None => signatures(spark, cachedClips, cfg)
        .drop("tshingles", "transcript").localCheckpoint(eager = true)
      case Some(root) =>
        val t = new graft.sources.LakeTable(root, "signatures_stage")
        // CONTENT-sensitive fingerprint (id + content hash + transcript), not
        // id-only: re-running over the same ids with regenerated bytes or
        // re-ingested transcripts must re-sign, not silently reuse stale
        // signatures. The signature-relevant config is fingerprinted too.
        val fp = cachedClips.agg(count(lit(1)),
          expr("bit_xor(xxhash64(clip_id, sha2(bytes, 256)," +
            " coalesce(transcript, '')))")).first()
        val n = fp.getLong(0)
        val idh = if (fp.isNullAt(1)) 0L else fp.getLong(1)
        val cfgh = cfg.signatureConfigHash
        val resumable = t.exists && {
          val m = t.latestMetrics
          m.get("input_rows").contains(n) && m.get("input_fingerprint").contains(idh) &&
            m.get("config_hash").contains(cfgh)
        }
        if (!resumable)
          t.commit(signatures(spark, cachedClips, cfg)
            .drop("tshingles", "transcript"), "stage",
            Map("input_rows" -> n, "input_fingerprint" -> idh, "config_hash" -> cfgh))
        t.read(spark)
    }
    if (cfg.collectMetrics)
      metrics += StageMetric("signatures", "rows", sigs.count())

    // (a) exact dups: identical content hash (audio) or identical transcript
    val exactPairs = exactEdges(sigs)

    // (a2) representative filter: near-dup candidate generation runs on ONE
    //     representative per exact-content group. Identical content has
    //     identical signatures, so banding every copy multiplies bucket mass
    //     QUADRATICALLY in duplication depth (a 1000-copy group is 10^6
    //     in-bucket pairs that verify to the same answer) — at 10^12 rows
    //     with real-world duplication this is the difference between
    //     O(unique^2-shaped) and O(corpus^2-shaped) candidate mass, and
    //     mega-groups otherwise die on the bucket cap instead of being
    //     found. Exact edges (a) already chain every copy to its group min,
    //     so CC transitivity extends each rep-level pair to all copies;
    //     clusters are IDENTICAL to the unfiltered pipeline (PipelineSpec
    //     pins recall/precision on cluster co-membership).
    // LAZY cut: repIds (one groupBy over the hub) feeds the candidate query
    // (text + audio banding — one broadcast, reused), the containment query
    // on the OTHER driver thread, and the metrics read; uncut, each of those
    // queries re-runs the corpus-wide groupBy. First materializer is the
    // candidate checkpoint below; the later queries scan the cached id rows.
    val (repIds, freeRepIds) = graft.SparkUtil.checkpointCut(
      sigs.groupBy(col("sha"), col("tHashExact"))
        .agg(min(col("clip_id")).as("clip_id"))
        .select("clip_id"),
      eager = false)
    val repSigs = sigs.join(repIds, Seq("clip_id"), "left_semi")

    // (b) LSH candidates for BOTH modalities in one fused banded self-join
    //     (half the candidate-stage count — stage/driver overhead is the
    //     serial term in the scaling budget)
    // cacheBuckets tracks collectMetrics: a metrics run reads the dropped-
    // bucket relation, which uncached re-runs the whole banding shuffle as a
    // separate query; a bench/probe run (metrics off) never reads it and
    // skips the cache's measured ~1.5-2 s block-write cost.
    val (cands0, dropped, freeBuckets) = LshCandidates.fusedCandidatePairsCut(Seq(
      "text" -> LshCandidates.bandKeysHashed(
        repSigs.filter(col("tsig").isNotNull)
          .select(col("clip_id"), col("tsig").as("sig")),
        "clip_id", cfg.bands, cfg.rowsPerBand),
      // audio: the OR'd multi-grouping banding (recall margin — see
      // DedupConfig.audioBandGroupStrides); the SAME keys the store's bands
      // index carries (IncrementalDedup.bandRows), so merge == rebuild
      "audio" -> LshCandidates.bandKeysHashedGrouped(
        repSigs.filter(col("asig").isNotNull)
          .select(col("clip_id"), col("asig").as("sig")),
        "clip_id", cfg.audioBands, cfg.audioRowsPerBand, cfg.numPerms,
        cfg.audioBandGroupStrides)),
      "clip_id", cfg.maxBucketSize, cfg.lshSaltChunk,
      cacheBuckets = cfg.collectMetrics)
    // checkpointCut (cache + LINEAGE CUT, see SparkUtil): the banded
    // self-join is ~25% of the whole run's task time and BOTH verify
    // branches consume it — uncached, each branch recomputes the
    // explode+groupBy+join chain (profiled: 2x the candidate stage); unCUT,
    // every downstream verify layer re-embeds the whole candidate tree and
    // plan rendering/optimization walks it exponentially (measured 80M-char
    // event renders on a 120-row corpus). Rows are (a, b, modality) triples
    // — tiny relative to the corpus.
    val (cands, freeCands) = graft.SparkUtil.checkpointCut(cands0)
    val tCands = cands.filter(col("modality") === "text").select("a", "b")
    val aCands = cands.filter(col("modality") === "audio").select("a", "b")

    // text-verify shingles come from the CLIPS cache, not the hub: the
    // columnar clips cache prunes the scan to (clip_id, transcript) — a few
    // tens of MB — and verify's endpoint semi-join pushes below the UDF
    // projection, so shingles are recomputed only for candidate endpoints.
    // Keeping them in the hub instead cost ~2.4 KB/row on EVERY downstream
    // hub scan (no column pruning through a localCheckpoint).
    val tshFeatures = cachedClips.select(
      col("clip_id"), textShingleCol(cfg).as("tshingles"))
    val textPairs = PairVerifier.verify(tCands, tshFeatures, "clip_id", "tshingles",
      cfg.textJaccardThreshold, "text_minhash")

    // (c) audio: the r=3 bands still pass a false tail; the signature-
    //     estimate screen (1KB/row) keeps the exact-Jaccard join from
    //     shuffling the ~7KB shingle arrays for it, then the exact
    //     PCM-correlation confirm runs on survivors only. audioScreened is
    //     persisted because pcmConfirm reads it twice (id semi-join + join).
    // persisted: verify's endpoint semi-join reads its pair input multiple
    // times (ids + both sides), and unpersisted that would recompute the
    // screen chain each read. Rows are (a, b) pairs — tiny.
    //
    // The audio chain (estimate screen -> exact-Jaccard verify) is TWO
    // serial driver actions by construction; the text/containment/exact
    // branch is independent of it until the final union. Running the two
    // chains on separate driver threads overlaps their jobs in the
    // scheduler — a direct cut to the per-run serial floor the N-vs-4N
    // probe charges against scaling (per-job floor timelines in
    // plans/r06/floor_*_jobs.txt; BASELINE.md "Serial floor"); the thread
    // pool is driver-side only and every cut stays EAGER (a lazy cut here
    // lets concurrent broadcast subtrees thundering-herd recompute the
    // uncached plan — measured +50% sum-job-wall).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val fAudio = scala.concurrent.Future {
      val (aPlausible, freeAPlausible) = graft.SparkUtil.checkpointCut(
        PairVerifier.estimateScreen(aCands, sigs, "clip_id", "asig",
          cfg.audioEstimateMin))
      val (audioScreened, freeAudioScreened) = graft.SparkUtil.checkpointCut(
        PairVerifier.verify(aPlausible, sigs, "clip_id", "ashingles",
          cfg.audioJaccardThreshold, "audio_minhash"))
      (audioScreened, freeAPlausible, freeAudioScreened)
    }

    // (d) containment: long verbatim transcript runs (>= cfg.containmentMinRun);
    //     default = winnowing screen + exact verify (fingerprints precomputed
    //     by the signature pass); switchable to the exact distributed
    //     suffix-array pass (same rep-filtered input, same hot-run cap role,
    //     same pairs — SuffixArraySpec pins backend agreement)
    val containBase =
      if (cfg.containmentViaSuffixArray)
        graft.operators.SuffixArray.substringPairs(
          cachedClips.join(repIds, Seq("clip_id"), "left_semi")
            .select(col("clip_id"), lower(col("transcript")).as("_lt")),
          "clip_id", "_lt", cfg.containmentMinRun, cfg.containmentMaxBucket)
      else ContainmentJoin.pairsFromFps(
        repSigs.select(col("clip_id"), explode(col("cfps")).as("fp")),
        cachedClips.select(col("clip_id"), lower(col("transcript")).as("_lt")),
        "clip_id", "_lt", cfg)
    val containPairs = containBase
      .select(col("a"), col("b"), lit(0.9).as("score"), lit("containment").as("method"))

    // the text/containment/exact branch materializes CONCURRENTLY with the
    // audio chain above; pairs rows are tiny (a, b, score, method)
    val fTextish = scala.concurrent.Future {
      graft.SparkUtil.checkpointCut(exactPairs
        .unionByName(textPairs).unionByName(containPairs))
    }
    // shutdown in finally: a branch failure rethrows at Await, and the
    // pool's non-daemon threads must not outlive it (a driver app would
    // otherwise hang at JVM exit instead of failing). On FAILURE the sibling
    // branch is torn down promptly (shutdownNow interrupts its thread, which
    // aborts the blocked Spark action) instead of letting its already-running
    // jobs run to completion — a hung sibling would otherwise delay failure
    // propagation indefinitely.
    val ((audioScreened, freeAPlausible, freeAudioScreened),
         (textishPairs, freeTextish)) =
      try {
        (scala.concurrent.Await.result(fAudio, scala.concurrent.duration.Duration.Inf),
         scala.concurrent.Await.result(fTextish, scala.concurrent.duration.Duration.Inf))
      } catch {
        case t: Throwable => pool.shutdownNow(); throw t
      } finally pool.shutdown()
    val audioPairs = PairVerifier.pcmConfirm(audioScreened, cachedClips, "clip_id", cfg.pcmCorrMin)

    // checkpointCut, not persist: freeing the upstream hub checkpoints below
    // is only safe once NOTHING can recompute through them — a persisted-but
    // -evictable dupPairs cache would re-derive through freed checkpoint
    // blocks (observed: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND in clusters.count
    // after an eviction). The checkpoint materializes every branch and
    // severs that lineage; it is the blocks the RETURNED result holds.
    // LAZY cut + count(): the count below is the sole, immediate
    // materializer, so the cut and the cap-decision count cost ONE driver
    // action instead of two (the count scans the blocks the checkpoint is
    // writing — no herd risk: nothing else references dupPairs until it
    // returns). dropDuplicates runs over the full union exactly as before
    // the two-thread split: same rows in, same pairs out.
    val (dupPairs, _) = graft.SparkUtil.checkpointCut(textishPairs
      .unionByName(audioPairs)
      .dropDuplicates("a", "b"), eager = false)
    val nPairs = dupPairs.count()
    if (cfg.collectMetrics) {
      // one job for both dropped-bucket counters (never silent, never serial)
      val droppedCounts = dropped.select(col("modality").as("m"))
        .groupBy("m").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      metrics += StageMetric("candidates_text_dropped_buckets", "rows",
        droppedCounts.getOrElse("text", 0L))
      metrics += StageMetric("candidates_audio_dropped_buckets", "rows",
        droppedCounts.getOrElse("audio", 0L))
      // containment fingerprint buckets over the (tighter) containment cap
      // (rep-filtered, matching what the containment stage actually joined)
      metrics += StageMetric("containment_dropped_buckets", "rows",
        repSigs.select(explode(col("cfps")).as("fp"))
          .groupBy("fp").count()
          .filter(col("count") > cfg.containmentMaxBucket).count())
      metrics += StageMetric("dup_pairs", "rows", nPairs)
    }

    // global max-pairs safety valve (reference's rising-floor cap,
    // utils/util.py:174-220) — NEVER silent: dropped count goes to metrics.
    // Applied UNCONDITIONALLY (a metrics-off run must produce the same pairs
    // as a metrics-on run).
    // dupPairs is materialized; drop the internal caches NOW — leaked storage
    // blocks force eviction churn in every later job sharing the session
    // (measured: a second full run costs ~2x the CPU of the first purely
    // from leftover blocks).
    freeAudioScreened()
    freeAPlausible()
    freeCands()
    freeBuckets()
    freeRepIds()
    freeTextish()
    val nKept = if (cfg.maxPairs > 0) math.min(nPairs, cfg.maxPairs) else nPairs
    val cappedPairs =
      if (cfg.maxPairs > 0 && nPairs > cfg.maxPairs) {
        if (cfg.collectMetrics)
          metrics += StageMetric("dup_pairs_dropped_by_cap", "rows", nPairs - nKept)
        val keep = math.min(cfg.maxPairs, Int.MaxValue.toLong).toInt
        dupPairs.orderBy(desc("score"), col("a"), col("b")).limit(keep)
      } else dupPairs
    cachedClips.unpersist() // dupPairs materialized; bytes no longer needed

    val clusters = ConnectedComponents.clusters(cappedPairs, cfg.minClusterSize, nKept)
    PipelineResult(sigs, cappedPairs, clusters, metrics.toSeq)
  }
}

package graft.pipeline

import graft.config.DedupConfig
import graft.operators.{ContainmentJoin, PairVerifier}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Read-only query-by-example search over a committed DedupStore — the analog
 * of the reference's headline interaction `search_similar_images(target, k,
 * threshold)` (improved_faiss_detector.py:522-556) and `most_similar`
 * (bert_similarity.py:152-220): probe clips → stored-index lookup → exact
 * verify (text jaccard / audio jaccard + PCM confirm / exact-identity) →
 * per-probe top-k. Never mutates the store (the only way to dedup a new
 * clip before this was a full IncrementalDedup.merge).
 *
 * Plan shape: probe-side signatures are computed once (tiny); the probe's
 * own band hashes / fingerprints / content keys select which buckets of the
 * VALUE-BUCKETED index tables to read (LakeTable.readBuckets), so a search
 * against a 10^12-row store scans O(probe x matched-buckets) — the FAISS
 * `index.search` equi-cost re-expressed as partition-pruned table reads.
 * Byte-heavy verifies then read only the candidate ids' buckets of the
 * signature/clip tables.
 *
 * A call makes three bucket-set driver actions (IncrementalDedup.bucketSets,
 * one single-stage job each), one per dependency level, since each level's
 * reads need the previous level's rows: probe -> {bands, fps, exactKeys},
 * candidates -> {signatures, clips for transcripts}, audio survivors ->
 * {clips for PCM bytes}. Table reads run no schema-inference job (LakeTable
 * passes the snapshot's recorded schema).
 */
object ClipSearch {

  /**
   * @param probes   clips table-shaped rows to search for (clip_id must not
   *                 collide with stored ids — prefix probe ids if needed)
   * @param k        results per probe
   * @param includeDeleted  v3 tombstone semantics: search deleted entries too
   *                 (incremental_faiss_detector.py:566-572)
   * @return (probe_id, match_id, score, method, rank) — rank 1..k per probe,
   *         score desc; exact content/transcript matches score 1.0
   */
  def search(spark: SparkSession, probes: DataFrame, store: DedupStore,
             cfg: DedupConfig = DedupConfig.default, k: Int = 10,
             includeDeleted: Boolean = false,
             fusion: Option[graft.operators.FusionConfig] = None): DataFrame = {
    // checkpointCut (SparkUtil): cache + lineage cut + reclaimable blocks.
    // Search is the repeated-call API — every hub below is freed before
    // returning (leaked blocks cause ~2x eviction churn in later jobs), and
    // unCUT hub lineage makes per-event plan walks exponential in the
    // verify-layer depth.
    val (probeSigs, freeProbeSigs) = graft.SparkUtil.checkpointCut(
      DedupPipeline.signatures(spark, probes, cfg))
    def visible(df: DataFrame): DataFrame =
      df.filter(col("is_deleted") === false || lit(includeDeleted))

    // ---- candidates from the value-bucketed inverted indexes ----
    val pBands = IncrementalDedup.bandRows(probeSigs, cfg)
    val pFps = IncrementalDedup.fpRows(probeSigs)
    val pKeys = IncrementalDedup.keyRows(probeSigs)
    val Seq(bandBkts, fpBkts, keyBkts) = IncrementalDedup.bucketSets(Seq(
      pBands -> store.bands, pFps -> store.fps, pKeys -> store.exactKeys))
    val storedBands = visible(store.bands.readBuckets(spark, bandBkts))
    // same hot-band guard as the batch/incremental paths (counts complete:
    // a bandVal's rows all live in one store bucket)
    val bSizes = storedBands.groupBy("modality", "band", "bandVal")
      .agg(count(lit(1)).as("n"))
    val bKept = storedBands.join(bSizes.filter(col("n") <= cfg.maxBucketSize),
      Seq("modality", "band", "bandVal"))
    val (bandCands, freeBandCands) = graft.SparkUtil.checkpointCut(pBands
      .select(col("clip_id").as("probe_id"), col("modality"), col("band"), col("bandVal"))
      .join(bKept.select(col("clip_id").as("match_id"), col("modality"), col("band"), col("bandVal")),
        Seq("modality", "band", "bandVal"))
      .filter(col("probe_id") =!= col("match_id"))
      .select("probe_id", "match_id", "modality")
      .dropDuplicates("probe_id", "match_id", "modality"))

    val storedFps = visible(store.fps.readBuckets(spark, fpBkts))
    val fpSizes = storedFps.groupBy("fp").agg(count(lit(1)).as("n"))
    val fpKept = storedFps.join(fpSizes.filter(col("n") <= cfg.containmentMaxBucket), "fp")
    val (cCands, freeCCands) = graft.SparkUtil.checkpointCut(
      pFps.select(col("clip_id").as("probe_id"), col("fp"))
        .join(fpKept.select(col("clip_id").as("match_id"), col("fp")), "fp")
        .filter(col("probe_id") =!= col("match_id"))
        .select("probe_id", "match_id")
        .dropDuplicates("probe_id", "match_id"))

    // exact identity: probe keys vs the stored key index
    val storedKeys = visible(store.exactKeys.readBuckets(spark, keyBkts))
    val exact = pKeys.select(col("clip_id").as("probe_id"), col("k"))
      .join(storedKeys.select(col("clip_id").as("match_id"), col("k")), "k")
      .filter(col("probe_id") =!= col("match_id"))
      .select(col("probe_id"), col("match_id"), lit(1.0).as("score"),
        lit("exact").as("method"))
      .dropDuplicates("probe_id", "match_id")

    // ---- verify on candidate ids only (bucket-pruned feature reads) ----
    // candidate id lists keep duplicates: they only feed bucket sets and
    // left-semi joins, and a distinct would cost an exchange per list
    val matchIds = bandCands.select(col("match_id").as("clip_id"))
      .union(cCands.select(col("match_id").as("clip_id")))
    // narrow-store discipline: the signature table carries no transcripts
    // or char-gram shingles (its two widest columns); the text/containment
    // verifies read transcripts from the bucket-pruned CLIPS table for the
    // matched candidate ids only and recompute shingles on that subset.
    val txtIds = bandCands.filter(col("modality") === "text")
      .select(col("match_id").as("clip_id"))
      .union(cCands.select(col("match_id").as("clip_id")))
    val Seq(sigBkts, txtBkts) = IncrementalDedup.bucketSets(Seq(
      matchIds -> store.signatures, txtIds -> store.clips))
    // semi-join to the matched candidate ids (same pruning as the merge
    // path): the bucket slice still holds every co-bucketed row, and a probe
    // whose band values hash across many buckets would otherwise drag whole
    // signature-table slices into all four scored joins below
    val (stored, freeStored) = graft.SparkUtil.checkpointCut(
      visible(store.signatures.readBuckets(spark, sigBkts))
        .join(matchIds, Seq("clip_id"), "left_semi"))
    val (matchTxt, freeMatchTxt) = graft.SparkUtil.checkpointCut(
      visible(store.clips.readBuckets(spark, txtBkts))
        .join(txtIds, Seq("clip_id"), "left_semi")
        .select(col("clip_id"), col("transcript")))

    val jac = udf((x: Array[Long], y: Array[Long]) => PairVerifier.jaccardLongJvm(x, y))
    val est = udf((x: Array[Long], y: Array[Long]) => PairVerifier.estimateJvm(x, y))

    val tScored = bandCands.filter(col("modality") === "text")
      .join(probeSigs.select(col("clip_id").as("probe_id"), col("tshingles").as("_sa")), "probe_id")
      .join(matchTxt.select(col("clip_id").as("match_id"),
        DedupPipeline.textShingleCol(cfg).as("_sb")), "match_id")
      .withColumn("score", jac(col("_sa"), col("_sb")))
      .filter(col("score") >= cfg.textJaccardThreshold)
      .select(col("probe_id"), col("match_id"), col("score"),
        lit("text_minhash").as("method"))

    val aCand = bandCands.filter(col("modality") === "audio")
      .join(probeSigs.select(col("clip_id").as("probe_id"), col("asig").as("_ea")), "probe_id")
      .join(stored.select(col("clip_id").as("match_id"), col("asig").as("_eb")), "match_id")
      .filter(est(col("_ea"), col("_eb")) >= cfg.audioEstimateMin)
      .select("probe_id", "match_id")
    val (aScored, freeAScored) = graft.SparkUtil.checkpointCut(aCand
      .join(probeSigs.select(col("clip_id").as("probe_id"), col("ashingles").as("_sa")), "probe_id")
      .join(stored.select(col("clip_id").as("match_id"), col("ashingles").as("_sb")), "match_id")
      .withColumn("score", jac(col("_sa"), col("_sb")))
      .filter(col("score") >= cfg.audioJaccardThreshold)
      .select("probe_id", "match_id", "score"))
    // PCM confirm on survivors only: probe bytes join + pruned clips read
    val corr = udf((x: Array[Byte], y: Array[Byte]) => PairVerifier.pcmCorrJvm(x, y))
    val neededIds = aScored.select(col("match_id").as("clip_id"))
    val matchBytes = visible(store.clips.readBuckets(spark,
      IncrementalDedup.bucketsOf(neededIds, store.clips)))
      .join(neededIds, Seq("clip_id"), "left_semi")
      .select(col("clip_id").as("match_id"), col("bytes").as("_bb"), col("sr_hz").as("_srb"))
    val probeBytes = probes.select(col("clip_id").as("probe_id"),
      col("bytes").as("_ba"), col("sr_hz").as("_sra"))
    // SAME geometry gate as the batch/merge verify (PairVerifier.pcmConfirm):
    // sample-rate equality AND length ratio >= 0.9. pcmCorrJvm truncates to
    // the shorter signal, so without the ratio gate a short probe matching a
    // long stored clip's PREFIX passed search while merge rejected the same
    // pair — search and index must agree on every verdict (SearchSpec pins it)
    val aConfirmed = aScored.join(probeBytes, "probe_id").join(matchBytes, "match_id")
      .filter(col("_sra") === col("_srb"))
      .filter(least(length(col("_ba")), length(col("_bb"))).cast("double") /
        greatest(length(col("_ba")), length(col("_bb"))) >= 0.9)
      .filter(corr(col("_ba"), col("_bb")) >= cfg.pcmCorrMin)
      .select(col("probe_id"), col("match_id"), col("score"),
        lit("audio_minhash").as("method"))

    // containment: gram prefilter + exact longest-common-run confirm (same
    // three-tier verify as the batch pass, ContainmentJoin.pairsFromFps)
    val cj = ContainmentJoin
    val w = cfg.containmentMinRun - cj.GramK + 1
    val cScored = cCands
      .join(probeSigs.select(col("clip_id").as("probe_id"),
        lower(col("transcript")).as("_ta"),
        cj.gramsUdf(lower(col("transcript"))).as("_ga")), "probe_id")
      .join(matchTxt.select(col("clip_id").as("match_id"),
        lower(col("transcript")).as("_tb"),
        cj.gramsUdf(lower(col("transcript"))).as("_gb")), "match_id")
      .filter(cj.sharedUdf(col("_ga"), col("_gb")) >= w)
      .filter(cj.lcrUdf(col("_ta"), col("_tb")) >= cfg.containmentMinRun)
      .select(col("probe_id"), col("match_id"), lit(0.9).as("score"),
        lit("containment").as("method"))

    val allScored = exact.unionByName(tScored).unionByName(aConfirmed)
      .unionByName(cScored)
    // one row per (probe, match). Default: best score wins, ties resolve by
    // method strength (exact > audio-PCM-confirmed > text > containment).
    // With a FusionConfig: the reference's weighted/adaptive cross-method
    // combiner ranks instead (weighted_models_demo.py:395-502) — per-method
    // scores fuse into one, thresholded like find_similar_images.
    val best = fusion match {
      case Some(fc) =>
        graft.operators.Fusion.fuse(allScored, Seq("probe_id", "match_id"), fc.weights)
          .withColumn("score", col(fc.method))
          .filter(col("score") >= fc.threshold)
          .select(col("probe_id"), col("match_id"), col("score"),
            lit(fc.method).as("method"))
      case None =>
        val methodPrio = when(col("method") === "exact", 4)
          .when(col("method") === "audio_minhash", 3)
          .when(col("method") === "text_minhash", 2)
          .otherwise(1)
        allScored
          .groupBy("probe_id", "match_id")
          .agg(max(struct(col("score"), methodPrio.as("prio"), col("method"))).as("_m"))
          .select(col("probe_id"), col("match_id"),
            col("_m.score").as("score"), col("_m.method").as("method"))
    }
    // checkpoint (not just cache) the tiny <= probes x k result BEFORE
    // freeing the intermediates it derives from: a merely-cached result
    // could evict and try to recompute through freed checkpoint blocks.
    // Only the result's own blocks outlive the call.
    val (result, _) = graft.SparkUtil.checkpointCut(best
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("score").desc, col("match_id"))))
      .filter(col("rank") <= k))
    Seq(freeProbeSigs, freeBandCands, freeCCands, freeStored, freeMatchTxt,
      freeAScored).foreach(_.apply())
    result
  }
}

package graft.pipeline

import graft.config.DedupConfig
import graft.operators.{ConnectedComponents, ContainmentJoin, LshCandidates, PairVerifier}
import graft.sources.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's persistent state: Iceberg-shaped tables (LakeTable shim),
  * hash-bucketed by their key so merges rewrite only touched buckets.
  *
  * Row tables bucket by id; the three INVERTED-INDEX tables bucket by their
  * JOIN VALUE (band hash / winnowing fingerprint / exact-content key), so a
  * delta or probe batch computes its own values, maps them to bucket ids,
  * and reads ONLY those buckets — the candidate join against a 10^12-row
  * corpus scans O(delta x matched-buckets), never the corpus (the
  * reference's FAISS index lookup re-expressed as bucket-pruned table
  * reads; "the table IS the index", SURVEY.md S5). */
/** Bucket-count sizing. numBuckets bounds BOTH the per-bucket file size and
  * the merge write amplification: a d-row delta rewrites ~min(d, B) buckets
  * of ~N/B rows each, so amplification is ~N/B per delta row — at 10^12 rows
  * the default 32 would make every bucket a 30-billion-row rewrite and any
  * delta >~150 ids would touch all buckets (O(delta) collapses to O(N)).
  * Size B from expected table rows (DedupStore.sized): ~4M rows/bucket keeps
  * bucket files in the hundreds of MB and write amplification bounded; the
  * driver-side bucket-id collects stay tiny (<= B ints). 32 remains the
  * small-corpus default only. IncrementalSpec proves O(delta) bytes at 1024
  * buckets with a delta that would rewrite a 32-bucket table completely. */
final class DedupStore(val root: String, val numBuckets: Int = 32) {
  val clips = new LakeTable(root, "clips", "clip_id", numBuckets)
  val signatures = new LakeTable(root, "signatures", "clip_id", numBuckets)
  val dupPairs = new LakeTable(root, "dup_pairs", "a", numBuckets)
  val clusters = new LakeTable(root, "clusters", "clip_id", numBuckets)
  // inverted indexes (value-bucketed); rows carry is_deleted so tombstoned
  // clips stay searchable with includeDeleted (v3 semantics) until compact
  val bands = new LakeTable(root, "bands", "bandVal", numBuckets)
  val fps = new LakeTable(root, "fps", "fp", numBuckets)
  val exactKeys = new LakeTable(root, "exact_keys", "k", numBuckets)
  // component-bucketed mirror of clusters: merge repair needs "all members
  // of these components", which the id-bucketed table cannot prune
  val clustersByComp = new LakeTable(root, "clusters_by_comp", "component", numBuckets)
}

object DedupStore {
  /** Power-of-two bucket count targeting ~`targetRowsPerBucket` rows per
    * bucket, clamped to [32, 2^20]. 10^12 rows -> 2^18 buckets of ~4M rows. */
  def bucketsForRows(expectedRows: Long, targetRowsPerBucket: Long = 4000000L): Int = {
    val want = math.max(1L, (expectedRows + targetRowsPerBucket - 1) / targetRowsPerBucket)
    val pow = java.lang.Long.highestOneBit(math.min(want, 1L << 20))
    val b = if (pow == want) pow else pow << 1
    math.max(32L, math.min(1L << 20, b)).toInt
  }

  /** Store with bucket count sized for the expected corpus scale. */
  def sized(root: String, expectedRows: Long): DedupStore =
    new DedupStore(root, bucketsForRows(expectedRows))
}

/**
 * Incremental near-dup indexing: MERGE-INTO over the signature/cluster
 * tables, re-expressing the reference's md5-diff incremental index
 * (improved_faiss_detector.py:269-295,413-469 — new/changed re-embedded,
 * unchanged reused) and its v3 tombstone semantics
 * (incremental_faiss_detector.py:74-87 — deletes preserved, excluded from
 * search). Per the north rule: new clips dedup against the existing corpus
 * WITHOUT full recompute — only the delta is re-signed, candidates come
 * from bucket-pruned reads of the stored band/fingerprint/key indexes, and
 * cluster labels are repaired by re-running connected components on the
 * touched subgraph only.
 *
 * Scale notes: every read of a big table in this path is bucket-pruned
 * (readBuckets) to the delta's own hash values, the candidate endpoints,
 * or the touched component ids (via the component-bucketed clusters
 * mirror) — no stage of a merge scans the corpus.
 */
object IncrementalDedup {

  // ---- inverted-index row builders (pure functions of a signature DF) ----

  /** (clip_id, modality, band, bandVal) for both LSH modalities. */
  def bandRows(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val t = LshCandidates.bandKeysHashed(sigs.filter(col("tsig").isNotNull)
        .select(col("clip_id"), col("tsig").as("sig")),
        "clip_id", cfg.bands, cfg.rowsPerBand)
      .select(col("clip_id"), lit("text").as("modality"), col("band"), col("bandVal"))
    val a = LshCandidates.bandKeysHashedGrouped(sigs.filter(col("asig").isNotNull)
        .select(col("clip_id"), col("asig").as("sig")),
        "clip_id", cfg.audioBands, cfg.audioRowsPerBand, cfg.numPerms,
        cfg.audioBandGroupStrides)
      .select(col("clip_id"), lit("audio").as("modality"), col("band"), col("bandVal"))
    t.unionByName(a)
  }

  /** (clip_id, fp) winnowing fingerprints. */
  def fpRows(sigs: DataFrame): DataFrame =
    sigs.select(col("clip_id"), explode(col("cfps")).as("fp"))

  /** (clip_id, k) tagged exact-content keys (s:sha / t:transcript-hash;
    * the t: key is absent for empty transcripts — same guard as the batch
    * exact stage). */
  def keyRows(sigs: DataFrame): DataFrame =
    sigs.select(col("clip_id"), explode(filter(array(
      concat(lit("s:"), col("sha")), concat(lit("t:"), col("tHashExact"))),
      x => x.isNotNull)).as("k"))

  /** Store-bucket ids of each (frame, table) request's key column — the
    * driver action that turns a delta's or probe's values into pruned reads.
    * Every request is answered by ONE job of one stage with no exchange
    * (beyond any the frames' own plans hold): each task folds its rows into
    * a bitset of its request's numBuckets bits, and the driver ORs the task
    * bitsets as they arrive, so driver memory is O(requests x numBuckets)
    * at any row count. Callers batch the requests of one dependency level
    * into one call: each call is a blocking driver round trip. */
  def bucketSets(requests: Seq[(DataFrame, LakeTable)]): Seq[Set[Int]] =
    if (requests.isEmpty) Seq.empty
    else {
      import java.util.BitSet
      val sc = requests.head._1.sparkSession.sparkContext
      val tagged = requests.zipWithIndex.map { case ((df, t), i) =>
        df.select(t.bucketOf.cast("int")).queryExecution.toRdd
          .map(row => (i, row.getInt(0)))
      }
      val bits = sc.union(tagged).aggregate(Array.fill(requests.size)(new BitSet))(
        (acc, ib) => { acc(ib._1).set(ib._2); acc },
        (a, b) => { a.indices.foreach(i => a(i).or(b(i))); a })
      bits.toSeq.map(_.stream().toArray.toSet)
    }

  /** Store-bucket ids of one frame's key column (see bucketSets). */
  private[pipeline] def bucketsOf(df: DataFrame, t: LakeTable): Set[Int] =
    bucketSets(Seq(df -> t)).head

  /** Full rebuild (the reference's --force-rebuild, G6).
    *
    * The containment tier is PINNED to the winnowing backend here,
    * whatever cfg says: the store's containment index IS winnowing
    * fingerprints (fpRows), and every subsequent merge verifies through
    * them — a rebuild under the suffix-array backend would share the same
    * pairs in the normal regime (SuffixArraySpec pins backend agreement)
    * but caps hot runs by CLASS size where merges cap by FINGERPRINT
    * bucket, so a boilerplate-heavy corpus could break merge == rebuild.
    * The suffix-array flag is a batch-analytics knob, not a store one. */
  def initialize(spark: SparkSession, clipsDf: DataFrame, cfg: DedupConfig,
                 store: DedupStore): Unit = {
    val res = DedupPipeline.run(spark, clipsDf,
      cfg.copy(containmentViaSuffixArray = false))
    store.clips.commit(clipsDf.withColumn("is_deleted", lit(false)), "create")
    store.signatures.commit(res.signatures.withColumn("is_deleted", lit(false)),
      "create", res.metrics.map(m => s"${m.stage}.${m.metric}" -> m.value).toMap)
    store.dupPairs.commit(res.dupPairs, "create")
    // full assignment: every clip gets a component (singletons = own id)
    val assign = res.signatures.select(col("clip_id"))
      .join(res.clusters.select(col("node").as("clip_id"), col("component")),
        Seq("clip_id"), "left")
      .select(col("clip_id"), coalesce(col("component"), col("clip_id")).as("component"))
    store.clusters.commit(assign, "create")
    store.clustersByComp.commit(assign, "create")
    store.bands.commit(bandRows(res.signatures, cfg)
      .withColumn("is_deleted", lit(false)), "create")
    store.fps.commit(fpRows(res.signatures)
      .withColumn("is_deleted", lit(false)), "create")
    store.exactKeys.commit(keyRows(res.signatures)
      .withColumn("is_deleted", lit(false)), "create")
    res.signatures.unpersist(); res.dupPairs.unpersist()
  }

  /**
   * Merge a batch of incoming clips (inserts + updates) and optional
   * deletions into the store. Semantics vs a full rebuild on the merged
   * corpus: identical cluster assignments (IncrementalSpec pins this).
   */
  def merge(spark: SparkSession, incoming: DataFrame, cfg: DedupConfig,
            store: DedupStore, deleteIds: DataFrame = null): Unit = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import spark.implicits._
    val deletes = Option(deleteIds)
      .getOrElse(Seq.empty[String].toDF("clip_id"))
      .select(col("clip_id")).persist(MEMORY_AND_DISK)

    // ---- 1. change detection (J8): content hash diff on the key ----
    // Same 256-bit transcript identity as the batch signature pass (NULL for
    // empty transcripts), compared null-safely. A match against a TOMBSTONED
    // row classifies as 'changed': re-ingesting previously deleted content
    // must resurrect it (re-signed with is_deleted=false), not silently no-op.
    // The previous-signature lookup is bucket-pruned to the incoming ids.
    val incKeys = incoming.select(col("clip_id"),
      sha2(col("bytes"), 256).as("_sha"),
      when(length(col("transcript")) > 0, sha2(col("transcript"), 256)).as("_th"))
    val incBkts = bucketsOf(incoming.select("clip_id"), store.signatures)
    val existingKeys = store.signatures.readBuckets(spark, incBkts).select(
      col("clip_id"), col("sha"), col("tHashExact"), col("is_deleted").as("_tomb"))
    val classified = incKeys.join(existingKeys, Seq("clip_id"), "left")
      .select(col("clip_id"),
        when(col("sha").isNull, "new")
          .when(col("_tomb") ||
            !(col("sha") <=> col("_sha")) || !(col("tHashExact") <=> col("_th")), "changed")
          .otherwise("unchanged").as("kind"))
      .persist(MEMORY_AND_DISK)
    val deltaIds = classified.filter(col("kind") =!= "unchanged").select("clip_id")
    val changedIds = classified.filter(col("kind") === "changed").select("clip_id")
    val invalid = deltaIds.union(deletes).distinct().persist(MEMORY_AND_DISK)
    // "no changes" early-exit (the reference's idempotent update path,
    // improved_faiss_detector.py:421-427): an all-unchanged batch with no
    // deletes must not pay the candidate/verify/commit machinery
    if (invalid.isEmpty) {
      Seq(deletes, classified, invalid).foreach(_.unpersist())
      return
    }

    // ---- 2. re-sign ONLY the delta ----
    val deltaClips = incoming.join(deltaIds, "clip_id")
      .persist(MEMORY_AND_DISK)
    // NARROW, matching the stored schema: tshingles (~2.4 KB/row) and the
    // raw transcript never enter the signature store — the text/containment
    // verifies below recompute them from the clips table on candidate
    // endpoints only (same discipline as the batch hub, DedupPipeline.run).
    val deltaSigs = DedupPipeline.signatures(spark, deltaClips, cfg)
      .drop("tshingles", "transcript")
      .localCheckpoint(eager = true)
    val sigCols = deltaSigs.columns.toSeq
    val activeDelta = deltaSigs.join(deletes, Seq("clip_id"), "left_anti")
      .localCheckpoint(eager = true)

    // previous signature rows of invalidated ids — locates every stale
    // index row (index rows are a deterministic function of the signature)
    val invalidSigBkts = bucketsOf(invalid, store.signatures)
    val oldSigs = store.signatures.readBuckets(spark, invalidSigBkts)
      .join(invalid, Seq("clip_id"), "left_semi")
      .select(sigCols.map(col): _*)
      .localCheckpoint(eager = true)

    // ---- 3. candidates: delta values -> bucket-pruned index reads ----

    // exact dups FIRST (band/fp probing needs the promoted centers below).
    // Three edge families keep the merged graph's exact groups EXACTLY as
    // connected as a rebuild's, at O(delta + broken-group) cost:
    //  E1 one edge per (delta id, key) to the key's overall min — linear in
    //     delta; CC transitivity chains the rest of the group;
    //  E2 a repair star for keys whose stored star CENTER (the min stored
    //     id, which every batch member starred to) was invalidated: those
    //     stars died with the center, so survivors re-star to the new min —
    //     cost O(members of broken groups only), never healthy groups;
    //  E3 a single bridge edge min(stored survivors) <-> overall min for
    //     healthy groups — covers a delta id sorting BELOW every stored id
    //     (then d == overall min and E1's self-filter would drop the only
    //     edge linking the delta to the stored group).
    val deltaKeys = keyRows(activeDelta).persist(MEMORY_AND_DISK)
    val oldKeys = keyRows(oldSigs).select("k") // keys that lost a member
    val probeKeys = deltaKeys.select("k").union(oldKeys).distinct()
    val keyBkts = bucketsOf(probeKeys, store.exactKeys)
    val storedKeyRows = store.exactKeys.readBuckets(spark, keyBkts)
      .filter(!col("is_deleted"))
      .join(probeKeys, Seq("k"), "left_semi")
      .join(invalid.withColumn("_inv", lit(true)), Seq("clip_id"), "left")
      .select(col("clip_id"), col("k"), coalesce(col("_inv"), lit(false)).as("_inv"))
      .persist(MEMORY_AND_DISK)
    val storedAgg = storedKeyRows.groupBy("k").agg(
      min(col("clip_id")).as("_oldCenter"), // min over stored incl. invalidated
      min(when(!col("_inv"), col("clip_id"))).as("_minSurv"),
      count(when(!col("_inv"), lit(1))).as("_nSurv"))
    val deltaAgg = deltaKeys.groupBy("k").agg(
      min("clip_id").as("_minDelta"), count(lit(1)).as("_nDelta"))
    val keyState = deltaAgg.join(storedAgg, Seq("k"), "full_outer")
      .select(col("k"),
        least(col("_minSurv"), col("_minDelta")).as("_minAll"),
        col("_minSurv"),
        (col("_oldCenter").isNotNull && !(col("_oldCenter") <=> col("_minSurv")))
          .as("_broken"),
        (coalesce(col("_nSurv"), lit(0L)) + coalesce(col("_nDelta"), lit(0L)))
          .as("_nTot"))
      .filter(col("_nTot") > 1)
      // localCheckpoint, not persist: keyState is referenced by FOUR
      // consumers (e1/e2/e3/promotedIds) and sits above a multi-join
      // subtree; cached-but-unCut lineage would multiply every downstream
      // plan tree (rendering alone of the shared-subtree product was
      // measured OOMing a 32g driver)
      .localCheckpoint(eager = true)
    val e1 = deltaKeys.select(col("clip_id").as("d"), col("k"))
      .join(keyState.select("k", "_minAll"), "k")
      .filter(col("d") =!= col("_minAll"))
      .select(col("d"), col("_minAll").as("o"))
    val e2 = storedKeyRows.filter(!col("_inv"))
      .select(col("clip_id").as("d"), col("k"))
      .join(keyState.filter(col("_broken")).select("k", "_minAll"), "k")
      .filter(col("d") =!= col("_minAll"))
      .select(col("d"), col("_minAll").as("o"))
    val e3 = keyState.filter(!col("_broken") && col("_minSurv").isNotNull &&
        col("_minSurv") =!= col("_minAll"))
      .select(col("_minSurv").as("d"), col("_minAll").as("o"))
    val exactEdges = e1.union(e2).union(e3)
      .select(least(col("d"), col("o")).as("a"), greatest(col("d"), col("o")).as("b"))
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"), lit(1.0).as("score"), lit("exact").as("method"))

    // PROMOTED CENTERS: an invalidated id that was the min of an exact group
    // was also that group's banded representative (the batch path bands one
    // rep per exact group) — its near-dup edges died with it, and nothing
    // else in the group was ever probed against the band/fp indexes. The new
    // group min inherits rep duty: its stored signature joins the delta on
    // the PROBE side of candidate generation (verification decides every
    // pair, so promotion can only restore recall, never add false dups).
    // Cost: O(broken groups), zero when no group lost its min.
    val promotedIds = keyState.filter(col("_broken") && col("_minSurv").isNotNull)
      .select(col("_minSurv").as("clip_id")).distinct().persist(MEMORY_AND_DISK)
    val promotedSigs = store.signatures
      .readBuckets(spark, bucketsOf(promotedIds, store.signatures))
      .filter(!col("is_deleted"))
      .join(promotedIds, Seq("clip_id"), "left_semi")
      .select(sigCols.map(col): _*)
    // lineage cut (same reason as keyState): probeSigs feeds both band
    // modalities + fps + the verify union — an uncut tree multiplies
    val probeSigs = activeDelta.unionByName(promotedSigs).localCheckpoint(eager = true)

    val probeBands = bandRows(probeSigs, cfg).persist(MEMORY_AND_DISK)
    // index updates carry DELTA rows only (promoted rows are already stored)
    val deltaBands = probeBands.join(promotedIds, Seq("clip_id"), "left_anti")
    val bandBkts = bucketsOf(probeBands, store.bands)
    val storedBands = store.bands.readBuckets(spark, bandBkts)
      .filter(!col("is_deleted"))
      .join(invalid, Seq("clip_id"), "left_anti")
      .select("clip_id", "modality", "band", "bandVal")
    val allBands = storedBands.unionByName(deltaBands)
    // bucket-size guard (same skew story as the batch path): counts are
    // complete because a bandVal's rows all live in one store bucket
    val bSizes = allBands.groupBy("modality", "band", "bandVal")
      .agg(count(lit(1)).as("n"))
    val bKept = allBands.join(bSizes.filter(col("n") <= cfg.maxBucketSize),
      Seq("modality", "band", "bandVal"))
    // checkpointCut, not persist: candidate/feature hubs are re-referenced
    // by every verify layer below, and unCUT lineage makes plan walks
    // exponential in layer depth (see SparkUtil.checkpointCut)
    val (bandCands, freeBandCands) = graft.SparkUtil.checkpointCut(probeBands
      .select(col("clip_id").as("d"), col("modality"), col("band"), col("bandVal"))
      .join(bKept.select(col("clip_id").as("o"), col("modality"), col("band"), col("bandVal")),
        Seq("modality", "band", "bandVal"))
      .filter(col("d") =!= col("o"))
      .select(col("modality"), least(col("d"), col("o")).as("a"),
        greatest(col("d"), col("o")).as("b"))
      .dropDuplicates("a", "b", "modality"))
    val tCands = bandCands.filter(col("modality") === "text").select("a", "b")
    val aCands = bandCands.filter(col("modality") === "audio").select("a", "b")

    // containment candidates: delta+promoted fingerprints vs stored fp index
    val probeFps = fpRows(probeSigs).persist(MEMORY_AND_DISK)
    val deltaFps = probeFps.join(promotedIds, Seq("clip_id"), "left_anti")
    val fpBkts = bucketsOf(probeFps, store.fps)
    val storedFps = store.fps.readBuckets(spark, fpBkts)
      .filter(!col("is_deleted"))
      .join(invalid, Seq("clip_id"), "left_anti")
      .select("clip_id", "fp")
    val allFps = storedFps.unionByName(deltaFps)
    val fSizes = allFps.groupBy("fp").agg(count(lit(1)).as("n"))
    val fKept = allFps.join(fSizes.filter(col("n") <= cfg.containmentMaxBucket), "fp")
    val (cCands, freeCCands) = graft.SparkUtil.checkpointCut(
      probeFps.select(col("clip_id").as("d"), col("fp"))
        .join(fKept.select(col("clip_id").as("o"), col("fp")), "fp")
        .filter(col("d") =!= col("o"))
        .select(least(col("d"), col("o")).as("a"), greatest(col("d"), col("o")).as("b"))
        .dropDuplicates("a", "b"))

    // ---- 4. verify on candidate endpoints only (bucket-pruned features) ----
    val endIds = bandCands.select(col("a").as("clip_id"))
      .union(bandCands.select(col("b").as("clip_id")))
      .union(cCands.select(col("a").as("clip_id")))
      .union(cCands.select(col("b").as("clip_id")))
      .distinct()
    val featBkts = bucketsOf(endIds, store.signatures)
    val (feats, freeFeats) = graft.SparkUtil.checkpointCut(
      store.signatures.readBuckets(spark, featBkts)
        .filter(!col("is_deleted"))
        .join(deltaIds, Seq("clip_id"), "left_anti")
        .select(sigCols.map(col): _*)
        .unionByName(activeDelta)
        // endpoints only: the bucket slice still holds every co-bucketed row,
        // and caching it would hold ~the whole table at small bucket counts
        .join(endIds, Seq("clip_id"), "left_semi"))

    // text features live OUTSIDE the signature store (narrow-store
    // discipline): transcripts for text/containment endpoints come from the
    // bucket-pruned clips table (plus the in-flight delta), and char-gram
    // shingles are recomputed on that endpoint-filtered subset only —
    // never stored, never re-streamed through every signature scan.
    val txtIds = tCands.select(col("a").as("clip_id"))
      .union(tCands.select(col("b").as("clip_id")))
      .union(cCands.select(col("a").as("clip_id")))
      .union(cCands.select(col("b").as("clip_id")))
      .distinct()
    val (endTxt, freeEndTxt) = graft.SparkUtil.checkpointCut(
      store.clips.readBuckets(spark, bucketsOf(txtIds, store.clips))
        .filter(!col("is_deleted"))
        .join(deltaIds, Seq("clip_id"), "left_anti")
        .select(col("clip_id"), col("transcript"))
        .unionByName(deltaClips.join(deletes, Seq("clip_id"), "left_anti")
          .select(col("clip_id"), col("transcript")))
        .join(txtIds, Seq("clip_id"), "left_semi"))

    val textPairs = PairVerifier.verify(tCands,
      endTxt.select(col("clip_id"),
        DedupPipeline.textShingleCol(cfg).as("tshingles")),
      "clip_id", "tshingles", cfg.textJaccardThreshold, "text_minhash")
    val (aPlausible, freeAPlausible) = graft.SparkUtil.checkpointCut(
      PairVerifier.estimateScreen(aCands, feats, "clip_id", "asig",
        cfg.audioEstimateMin))
    val (audioScreened, freeAudioScreened) = graft.SparkUtil.checkpointCut(
      PairVerifier.verify(aPlausible, feats, "clip_id", "ashingles",
        cfg.audioJaccardThreshold, "audio_minhash"))
    // PCM confirm bytes: pruned clips read for the screened endpoints
    val aIds = audioScreened.select(col("a").as("clip_id"))
      .union(audioScreened.select(col("b").as("clip_id"))).distinct()
    val clipBkts = bucketsOf(aIds, store.clips)
    val clipCols = deltaClips.columns.toSeq
    val activeClips = store.clips.readBuckets(spark, clipBkts)
      .filter(!col("is_deleted"))
      .join(deltaIds, Seq("clip_id"), "left_anti")
      .select(clipCols.map(col): _*)
      .unionByName(deltaClips.join(deletes, Seq("clip_id"), "left_anti"))
    val audioPairs = PairVerifier.pcmConfirm(audioScreened, activeClips, "clip_id",
      cfg.pcmCorrMin)

    // containment verify: gram prefilter + exact LCS on candidate endpoints
    val containPairs = {
      val txt = endTxt.select(col("clip_id"), lower(col("transcript")).as("_lt"),
        ContainmentJoin.gramsUdf(lower(col("transcript"))).as("_g"))
      val w = cfg.containmentMinRun - ContainmentJoin.GramK + 1
      cCands
        .join(txt.select(col("clip_id").as("a"), col("_lt").as("_ta"), col("_g").as("_ga")), "a")
        .join(txt.select(col("clip_id").as("b"), col("_lt").as("_tb"), col("_g").as("_gb")), "b")
        .filter(ContainmentJoin.sharedUdf(col("_ga"), col("_gb")) >= w)
        .filter(ContainmentJoin.lcrUdf(col("_ta"), col("_tb")) >= cfg.containmentMinRun)
        .select(col("a"), col("b"), lit(0.9).as("score"), lit("containment").as("method"))
    }

    val newPairs = exactEdges
      .unionByName(textPairs).unionByName(audioPairs).unionByName(containPairs)
      .dropDuplicates("a", "b")
      .localCheckpoint(eager = true)

    // ---- 5. cluster repair on the touched subgraph only ----
    // "members of touched components" via the component-bucketed mirror:
    // node->component lookups prune by id buckets, membership lookups prune
    // by component buckets — no full scan anywhere in the repair path
    val touchedNodes = newPairs.select(col("a").as("clip_id"))
      .union(newPairs.select(col("b").as("clip_id")))
      .union(invalid)
      .distinct()
      .persist(MEMORY_AND_DISK)
    val touchedComps = store.clusters
      .readBuckets(spark, bucketsOf(touchedNodes, store.clusters))
      .join(touchedNodes, Seq("clip_id"))
      .select(col("component")).distinct()
      .persist(MEMORY_AND_DISK)
    val touchedCompBkts = bucketsOf(touchedComps, store.clustersByComp)
    val affectedNodes = store.clustersByComp.readBuckets(spark, touchedCompBkts)
      .join(touchedComps, Seq("component"))
      .select(col("clip_id"))
      .union(touchedNodes) // brand-new ids have no previous assignment
      .distinct()
      .persist(MEMORY_AND_DISK)
    // surviving edges with an affected endpoint: edges stay inside
    // components, so the a-buckets of affected nodes cover them
    val affPairBkts = bucketsOf(affectedNodes.withColumnRenamed("clip_id", "a"),
      store.dupPairs)
    val invalidA = invalid.withColumnRenamed("clip_id", "a")
    val invalidB = invalid.withColumnRenamed("clip_id", "b")
    val prevPairsAff = store.dupPairs.readBuckets(spark, affPairBkts)
      .persist(MEMORY_AND_DISK)
    val subEdges = prevPairsAff
      .join(invalidA, Seq("a"), "left_anti")
      .join(invalidB, Seq("b"), "left_anti")
      .select("a", "b")
      .unionByName(newPairs.select("a", "b"))
      .join(affectedNodes.withColumnRenamed("clip_id", "a"), Seq("a"))
      .persist(MEMORY_AND_DISK)
    val repaired = ConnectedComponents.run(subEdges, nEdgesHint = subEdges.count())
      .select(col("node").as("clip_id"), col("component"))

    // ---- 6. commit (snapshot isolation: readers flip atomically) ----
    // O(delta) I/O: only buckets containing a changed/deleted id (row
    // tables) or a delta hash value (index tables) are read and rewritten;
    // every untouched bucket's files are reused via the manifest.
    val nDelta = deltaClips.count()
    val touchedIds = deltaIds.union(deletes)
    val touchedIdBuckets = bucketsOf(touchedIds, store.signatures)
    def applyDeletes(df: DataFrame): DataFrame = df
      .join(deletes.withColumn("_del", lit(true)), Seq("clip_id"), "left")
      .withColumn("is_deleted", col("is_deleted") || coalesce(col("_del"), lit(false)))
      .drop("_del")
    val touchedClips = applyDeletes(
      store.clips.readBuckets(spark, touchedIdBuckets)
        .join(deltaIds, Seq("clip_id"), "left_anti")
        .unionByName(deltaClips.withColumn("is_deleted", lit(false))))
    store.clips.commitDelta(touchedClips, touchedIdBuckets, "merge",
      Map("delta_rows" -> nDelta))
    val touchedSigs = applyDeletes(
      store.signatures.readBuckets(spark, touchedIdBuckets)
        .join(deltaIds, Seq("clip_id"), "left_anti")
        .unionByName(deltaSigs.withColumn("is_deleted", lit(false))))
    store.signatures.commitDelta(touchedSigs, touchedIdBuckets, "merge",
      Map("delta_rows" -> nDelta))

    // index tables: stale rows of delta ids die, delta rows arrive, rows of
    // deleted ids stay but are tombstone-flagged (searchable until compact)
    // All six touched-bucket sets come from one bucketSets job before the
    // three commits: their inputs are cut (persisted / checkpointed) and
    // none of them reads an index table.
    val indexUpdates = Seq(
      (store.bands, deltaBands, bandRows(oldSigs, cfg)),
      (store.fps, deltaFps, fpRows(oldSigs)),
      (store.exactKeys, deltaKeys, keyRows(oldSigs)))
    val indexTouched = bucketSets(indexUpdates.flatMap { case (t, newRows, oldRows) =>
      Seq(newRows -> t, oldRows -> t) }).grouped(2).map(_.reduce(_ ++ _)).toSeq
    indexUpdates.zip(indexTouched).foreach { case ((t, newRows, _), touched) =>
      val content = applyDeletes(
        t.readBuckets(spark, touched)
          .join(deltaIds, Seq("clip_id"), "left_anti")
          .unionByName(newRows.withColumn("is_deleted", lit(false))))
      t.commitDelta(content, touched, "merge")
    }

    val nNew = newPairs.count()
    // pairs bucket on `a`; an edge dies if EITHER endpoint is invalid, and
    // all such edges live in affected components (pruned read above)
    val removedA = prevPairsAff.join(invalidA, Seq("a"), "left_semi").select("a")
      .union(prevPairsAff.join(invalidB, Seq("b"), "left_semi").select("a"))
    val touchedPairBuckets = bucketsOf(
      removedA.union(newPairs.select("a")), store.dupPairs)
    val touchedPairs = store.dupPairs.readBuckets(spark, touchedPairBuckets)
      .join(invalidA, Seq("a"), "left_anti")
      .join(invalidB, Seq("b"), "left_anti")
      .unionByName(newPairs)
      .dropDuplicates("a", "b")
    store.dupPairs.commitDelta(touchedPairs, touchedPairBuckets, "merge",
      Map("new_pairs" -> nNew))

    // clusters: rebuild complete rows for touched buckets only (unchanged
    // rows reread from the pruned slice, affected rows repaired, deleted
    // rows dropped, brand-new actives added)
    val clusterTouched = bucketsOf(
      affectedNodes.select("clip_id").union(touchedIds), store.clusters)
    val prevTouchedAssign = store.clusters.readBuckets(spark, clusterTouched)
      .persist(MEMORY_AND_DISK)
    val baseIds = prevTouchedAssign.select("clip_id")
      .union(deltaIds)
      .distinct()
      .join(deletes, Seq("clip_id"), "left_anti")
    val newAssign = baseIds
      .join(affectedNodes.withColumn("_aff", lit(true)), Seq("clip_id"), "left")
      .join(prevTouchedAssign.withColumnRenamed("component", "_old"), Seq("clip_id"), "left")
      .join(repaired.withColumnRenamed("component", "_new"), Seq("clip_id"), "left")
      .select(col("clip_id"),
        coalesce(
          when(col("_aff").isNotNull, coalesce(col("_new"), col("clip_id")))
            .otherwise(col("_old")),
          col("clip_id")).as("component"))
    store.clusters.commitDelta(newAssign, clusterTouched, "merge")

    // mirror: affected ids' rows move between component buckets (old comps
    // are touched via touchedComps, new comps via the repaired rows)
    val mirrorNewRows = newAssign.join(
      affectedNodes.select("clip_id").union(deltaIds).distinct(),
      Seq("clip_id"), "left_semi")
    val mirrorTouched = touchedCompBkts ++
      bucketsOf(mirrorNewRows.select("component"), store.clustersByComp)
    val mirrorContent = store.clustersByComp.readBuckets(spark, mirrorTouched)
      .join(affectedNodes.select("clip_id").union(touchedIds).distinct(),
        Seq("clip_id"), "left_anti")
      .unionByName(mirrorNewRows)
    store.clustersByComp.commitDelta(mirrorContent, mirrorTouched, "merge")

    Seq(deletes, classified, invalid, deltaClips, probeBands,
      probeFps, deltaKeys, storedKeyRows, promotedIds,
      touchedNodes, touchedComps, affectedNodes, prevPairsAff, subEdges,
      prevTouchedAssign)
      .foreach(_.unpersist())
    Seq(freeBandCands, freeCCands, freeFeats, freeEndTxt, freeAPlausible,
      freeAudioScreened).foreach(_.apply())
  }

  /** Physical cleanup — the reference v3 `cleanup` mode
    * (incremental_faiss_detector.py:775-810): tombstoned rows are dropped
    * from clips/signatures and the inverted indexes (they are already absent
    * from pairs/clusters), then all but the newest `retain` snapshots of
    * every table are expired and their unreferenced data files deleted.
    * Without this a long-running store grows without bound in both data and
    * snapshot count. */
  def compact(spark: SparkSession, store: DedupStore, retain: Int = 1): Unit = {
    // BUCKET-PRUNED rewrite: only buckets that contain a tombstoned row are
    // compacted; every clean bucket's files are reused through the
    // copy-on-write manifest. Finding them scans just the (key, is_deleted)
    // columns (parquet column pruning), so compaction I/O is proportional to
    // tombstone spread, not table size — one bucketSets job for all tables.
    val rowTables = Seq(store.clips, store.signatures, store.bands, store.fps,
      store.exactKeys)
    val tombSets = bucketSets(rowTables.map(t => t.read(spark).filter(col("is_deleted")) -> t))
    rowTables.zip(tombSets).foreach { case (t, tombBkts) =>
      if (tombBkts.nonEmpty)
        t.commitDelta(t.readBuckets(spark, tombBkts).filter(!col("is_deleted")),
          tombBkts, "compact",
          Map("compacted_buckets" -> tombBkts.size.toLong))
    }
    Seq(store.clips, store.signatures, store.dupPairs, store.clusters,
      store.clustersByComp, store.bands, store.fps, store.exactKeys)
      .foreach(_.expireSnapshots(retain))
  }
}

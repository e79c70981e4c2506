package dedupbench

import graft.SparkUtil.checkpointCut
import graft.config.DedupConfig
import graft.operators.{ConnectedComponents, ContainmentJoin, LshCandidates, PairVerifier}
import graft.pipeline.DedupPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pairs and cluster partition of one rebuild. */
final case class RebuildOutput(pairs: Set[(String, String)], assign: Map[String, String])

object RebuildOutput {
  def of(dupPairs: DataFrame, clusters: DataFrame): RebuildOutput = RebuildOutput(
    dupPairs.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet,
    clusters.select("node", "component").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)
}

/**
 * DedupPipeline.run cut into its public stage functions, called in run's
 * order with an eager cut after each, so every operator gets its own span.
 * The glue between stages (representative filter, unions, pair cap) mirrors
 * run; the caller asserts that pairs and clusters equal run's on the same
 * corpus, so the decomposition cannot drift from the pipeline silently.
 */
object Decomposed {
  final case class Yields(pairsText: Long, pairsAudio: Long, screened: Long,
                          audioVerified: Long, textVerified: Long, pcmConfirmed: Long)

  def run(spark: SparkSession, clips: DataFrame, cfg: DedupConfig,
          rec: Recorder): (RebuildOutput, Yields) = {
    require(cfg.stageRoot.isEmpty && !cfg.containmentViaSuffixArray,
      "the decomposition mirrors the default signature hub and containment backend")
    val frees = scala.collection.mutable.ArrayBuffer[() => Unit]()
    /** Span `name`, cut its result eagerly, then count the cut's rows
      * outside the span. */
    def stage(name: String)(df: => DataFrame): DataFrame = {
      val (span, cut) = rec.span(s"operators.$name") { s =>
        val (c, free) = checkpointCut(df)
        frees += free
        (s, c)
      }
      span.extra("rows_out") = cut.count().toDouble
      cut
    }

    val cached = clips.persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = stage("signatures") {
      DedupPipeline.signatures(spark, cached, cfg).drop("tshingles", "transcript")
    }
    val exact = stage("exact_edges")(DedupPipeline.exactEdges(sigs))

    // lazy cut, as in run: the candidates cut below is its first action
    val (repIds, freeRep) = checkpointCut(sigs.groupBy(col("sha"), col("tHashExact"))
      .agg(min(col("clip_id")).as("clip_id")).select("clip_id"), eager = false)
    frees += freeRep
    val repSigs = sigs.join(repIds, Seq("clip_id"), "left_semi")
    val cands = stage("candidates") {
      val (c, _, freeBuckets) = LshCandidates.fusedCandidatePairsCut(Seq(
        "text" -> LshCandidates.bandKeysHashed(
          repSigs.filter(col("tsig").isNotNull)
            .select(col("clip_id"), col("tsig").as("sig")),
          "clip_id", cfg.bands, cfg.rowsPerBand),
        "audio" -> LshCandidates.bandKeysHashedGrouped(
          repSigs.filter(col("asig").isNotNull)
            .select(col("clip_id"), col("asig").as("sig")),
          "clip_id", cfg.audioBands, cfg.audioRowsPerBand, cfg.numPerms,
          cfg.audioBandGroupStrides)),
        "clip_id", cfg.maxBucketSize, cfg.lshSaltChunk,
        cacheBuckets = cfg.collectMetrics)
      frees += freeBuckets
      c
    }
    val tCands = cands.filter(col("modality") === "text").select("a", "b")
    val aCands = cands.filter(col("modality") === "audio").select("a", "b")

    val screened = stage("audio_screen") {
      PairVerifier.estimateScreen(aCands, sigs, "clip_id", "asig", cfg.audioEstimateMin)
    }
    val audioVerified = stage("audio_verify") {
      PairVerifier.verify(screened, sigs, "clip_id", "ashingles",
        cfg.audioJaccardThreshold, "audio_minhash")
    }
    val textPairs = stage("text_verify") {
      PairVerifier.verify(tCands,
        cached.select(col("clip_id"), DedupPipeline.textShingleCol(cfg).as("tshingles")),
        "clip_id", "tshingles", cfg.textJaccardThreshold, "text_minhash")
    }
    val containPairs = stage("containment") {
      ContainmentJoin.pairsFromFps(
        repSigs.select(col("clip_id"), explode(col("cfps")).as("fp")),
        cached.select(col("clip_id"), lower(col("transcript")).as("_lt")),
        "clip_id", "_lt", cfg)
        .select(col("a"), col("b"), lit(0.9).as("score"), lit("containment").as("method"))
    }
    val audioPairs = stage("pcm_confirm") {
      PairVerifier.pcmConfirm(audioVerified, cached, "clip_id", cfg.pcmCorrMin)
    }
    val clusters = stage("clusters") {
      val (dupPairs, freePairs) = checkpointCut(exact.unionByName(textPairs)
        .unionByName(containPairs).unionByName(audioPairs).dropDuplicates("a", "b"))
      frees += freePairs
      val nPairs = dupPairs.count()
      val capped =
        if (cfg.maxPairs > 0 && nPairs > cfg.maxPairs)
          dupPairs.orderBy(desc("score"), col("a"), col("b"))
            .limit(math.min(cfg.maxPairs, Int.MaxValue.toLong).toInt)
        else dupPairs
      ConnectedComponents.clusters(capped, cfg.minClusterSize,
        if (cfg.maxPairs > 0) math.min(nPairs, cfg.maxPairs) else nPairs)
        .select("node", "component", "clusterSize")
    }
    val assign = clusters.select("node", "component").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val pairSet = Seq(exact, textPairs, containPairs, audioPairs)
      .flatMap(_.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))))
      .toSet
    val yields = Yields(tCands.count(), aCands.count(), screened.count(),
      audioVerified.count(), textPairs.count(), audioPairs.count())
    frees.reverseIterator.foreach(_.apply())
    cached.unpersist()
    (RebuildOutput(pairSet, assign), yields)
  }
}

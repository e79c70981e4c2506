package graft.operators

import graft.config.DedupConfig
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/**
 * LSH band hashing + candidate-pair generation: the scalable equivalent of
 * the reference's FAISS flat-index search (improved_faiss_detector.py:522-556)
 * and all-pairs dup mining (similarities/utils/util.py:170-234).
 *
 * Plan shape: explode each signature into `bands` (bandIdx, bandVal) keys,
 * guard oversized buckets (hot-band skew — silence-heavy audio, boilerplate
 * transcripts), then self-join on the band key with `a < b` to halve the
 * pair space (the reference's self-pair skip, utils/util.py:213). AQE skew
 * join handles residual shuffle skew; the bucket cap bounds the quadratic
 * within-bucket blow-up, and dropped buckets are REPORTED, never silent
 * (the reference's analog: max_pairs cap with rising score floor,
 * utils/util.py:213-219).
 *
 * bandVal is the EXACT tuple of in-band minima, rendered as a comma-joined
 * string: collision-free (a lossy numeric combine was measured to produce
 * ~2000 birthday-collision buckets per band at 20k rows, multiplying the
 * verify stage's shuffle by ~50x) and reproducible in ANSI SQL
 * (string_agg ORDER BY perm) so the DuckDB oracle rebuilds buckets exactly.
 */
object LshCandidates {

  /** sequence(lit(0), lit(n-1)) with n == 0 yields the DESCENDING array
    * [0,-1] in Spark — bogus band rows with invalid element_at indices where
    * the pre-rewrite unrolled form emitted zero entries. Guard every banding
    * entry point. */
  private def requireBandShape(bands: Int, rowsPerBand: Int): Unit =
    require(bands > 0 && rowsPerBand > 0,
      s"bands and rowsPerBand must be positive, got bands=$bands rowsPerBand=$rowsPerBand")

  /** (id, sig) -> (id, band, bandVal) */
  def bandKeys(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    requireBandShape(bands, rowsPerBand)
    val r = rowsPerBand
    val bandVal = (band: Column) =>
      concat_ws(",", transform(slice(col("sig"), band * r + 1, lit(r)), _.cast("string")))
    sigs.select(
      col(idCol),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), bandVal(b).as("bandVal")))).as("_bk"))
      .select(col(idCol), col("_bk.band").as("band"), col("_bk.bandVal").as("bandVal"))
  }

  /** (id, sig) -> (id, band, bandVal: Long) — the PIPELINE-path band key:
    * xxhash64 of the in-band minima tuple instead of a comma-joined string.
    * The string form shuffles rows x bands ~40+ byte keys (real shuffle mass
    * at 10^12 x 32 exploded rows); the hashed form shuffles 8 bytes. A
    * 64-bit birthday collision merely merges two buckets within one band —
    * every emitted candidate still passes the exact verify stage, so
    * collisions cost a few false candidates, never a false dup. The string
    * form stays for the ORACLE queries, where DuckDB must rebuild buckets
    * bit-identically. */
  def bandKeysHashed(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    requireBandShape(bands, rowsPerBand)
    val r = rowsPerBand
    sigs.select(
      col(idCol),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bandVal")))).as("_bk"))
      .select(col(idCol), col("_bk.band").as("band"), col("_bk.bandVal").as("bandVal"))
  }

  /** Multi-GROUPING hashed band keys: `strides` independent ways of grouping
    * the SAME P permutations into bands*rowsPerBand quads — an OR'd
    * b*|strides| banding that keeps r (the S-curve steepness, and therefore
    * the background-collision rate per band) FIXED. Grouping g assigns band
    * j, row k the perm index ((j*r + k) * strides(g)) mod P; with each
    * stride odd (coprime to P = a power of two) the map is a bijection, so
    * every grouping is a PARTITION of all P perms into bands disjoint quads
    * — bands overlap across groupings in at most ~r^2/P of their entries,
    * making their collision coins near-independent. Band ids are offset by
    * g*bands per grouping; stride 1 reproduces bandKeysHashed's keys exactly
    * (same band ids, same hashes — spec-pinned), so existing stores are the
    * strides=Seq(1) case.
    *
    * Why groupings instead of a lower-r second banding: the miss tail lives
    * at J just below the S-curve midpoint, where each extra grouping
    * multiplies P(miss) by (1-J^r)^bands (~0.26 at J=0.45 for b=32/r=4) —
    * while a r=3 banding would multiply the BACKGROUND candidate mass ~260x
    * (the O(n^2) term audioRowsPerBand=4 was chosen to kill; see
    * DedupConfig). Extra groupings cost candidate mass linearly (G x the
    * r=4 background), never quadratically. */
  def bandKeysHashedGrouped(sigs: DataFrame, idCol: String, bands: Int,
                            rowsPerBand: Int, numPerms: Int,
                            strides: Seq[Int]): DataFrame = {
    requireBandShape(bands, rowsPerBand)
    require(strides.nonEmpty && strides.distinct == strides,
      s"strides must be non-empty and distinct, got $strides")
    require(strides.forall(s => s > 0 && s % 2 == 1),
      s"strides must be odd (coprime to the power-of-two perm count), got $strides")
    val r = rowsPerBand
    // LOOP-shaped (nested `transform` lambdas), NOT an unrolled literal
    // array of G*bands struct expressions: the literal form inlined
    // G*bands*r element_at+xxhash64 calls into the Generate's single
    // doConsume method, which blew Janino's 64 KB method limit at the
    // default 3x32x4 config — every pipeline job was silently falling back
    // to INTERPRETED execution for the banding stage (ERROR CodeGenerator
    // in the logs). Lambda transforms compile to loops, so the generated
    // method is O(1) in G/bands/r. Key values are unchanged: pmod == % for
    // the non-negative perm indices, and xxhash64 over array<bigint> is
    // structural (element order/values), not expression-shape-dependent.
    val stridesArr = array(strides.map(s => lit(s)): _*)
    val keys = flatten(transform(sequence(lit(0), lit(strides.size - 1)), g =>
      transform(sequence(lit(0), lit(bands - 1)), j =>
        struct((g * lit(bands) + j).as("band"),
          xxhash64(transform(sequence(lit(0), lit(r - 1)), k =>
            element_at(col("sig"),
              pmod((j * lit(r) + k) * element_at(stridesArr, g + 1),
                lit(numPerms)) + 1))).as("bandVal")))))
    sigs.select(col(idCol), explode(keys).as("_bk"))
      .select(col(idCol), col("_bk.band").as("band"), col("_bk.bandVal").as("bandVal"))
  }

  def candidatePairs(sigs: DataFrame, idCol: String, cfg: DedupConfig): (DataFrame, DataFrame) =
    candidatePairs(sigs, idCol, cfg.bands, cfg.rowsPerBand, cfg.maxBucketSize)

  /**
   * Fused candidate generation for SEVERAL signature modalities in ONE
   * banded self-join: each modality's band keys are tagged (modality prefix
   * on the band index) and unioned, so the bucket-size guard, the self-join,
   * and the dedup run once — half the stages of running the pipeline per
   * modality, which matters because driver/stage overhead is the serial term
   * in the scaling budget.
   *
   * Hot kept buckets (size in (saltChunk, maxBucketSize]) expand through a
   * SALTED repartition instead of in place: a bucket at the 2000 cap is ~2M
   * generated pairs, and the in-place nested generator runs them all inside
   * the one task that aggregated the bucket — a straggler whose length is set
   * by the hottest band, not the average. The salted path sorts the member
   * list, splits it into saltChunk-sized chunks, explodes the chunk-index
   * pairs (i <= j) as rows, hash-repartitions those rows on (bucket, i, j) —
   * the salt — and only then expands ids, so no single CELL expands more
   * than saltChunk^2 pairs and per-task work is ~totalPairs/shufflePartitions
   * (cells hash uniformly over the explicit partition count) no matter how
   * hot any one band is. Output pairs are identical
   * to the in-place expansion (sorted chunks make i < j imply a < b; i == j
   * keeps the a < b filter); buckets at or below saltChunk skip the extra
   * shuffle entirely, so the salt costs nothing when there is no skew.
   *
   * @param modalities (tag, sigCol DataFrame(id, sig), bands, rowsPerBand)
   * @param saltChunk chunk size of the salted path; bounds the pair expansion
   *        of one chunk-pair cell at saltChunk^2 (per-task work is then
   *        ~totalPairs/shufflePartitions, the hash-spread of those cells)
   * @return (candidates (a, b, modality), droppedBuckets (modality, band,
   *         bandVal, bucketSize))
   */
  def fusedCandidatePairs(modalities: Seq[(String, DataFrame, Int, Int)],
                          idCol: String, maxBucketSize: Int,
                          saltChunk: Int = 256): (DataFrame, DataFrame) = {
    val (pairs, dropped, _) = fusedCandidatePairsCut(
      modalities.map { case (tag, sigs, bands, rows) =>
        tag -> bandKeysHashed(sigs, idCol, bands, rows)
      }, idCol, maxBucketSize, saltChunk)
    (pairs, dropped)
  }

  /** As fusedCandidatePairs, from pre-built band-key relations
    * (id, band, bandVal) per modality — the entry point for callers whose
    * banding is not the single contiguous grouping (bandKeysHashedGrouped).
    *
    * `cacheBuckets` trades a one-pass cache of the bucket gather for cheap
    * re-reads: ON, the gather is lazily checkpoint-cut so the dropped-bucket
    * METRICS read scans cached rows instead of re-running the whole banding
    * shuffle as a separate query — the right trade exactly when the caller
    * will consume `dropped` (metrics-collecting production runs). OFF (the
    * default), the plan is the uncached original: a measured floor A/B at
    * the probe shape showed the cache costs ~1.5-2 s of block write/unroll
    * per run that a metrics-off run never earns back.
    *
    * Returns (pairs, droppedBuckets, free) where `free` releases the cached
    * bucket-gather blocks once pairs AND dropped have been consumed (no-op
    * when cacheBuckets is off). */
  def fusedCandidatePairsCut(keyed: Seq[(String, DataFrame)],
                             idCol: String, maxBucketSize: Int,
                             saltChunk: Int = 256,
                             cacheBuckets: Boolean = false)
      : (DataFrame, DataFrame, () => Unit) = {
    require(saltChunk > 0, "saltChunk must be positive")
    val keys = keyed.map { case (tag, k) =>
      k.select(col(idCol), lit(tag).as("modality"), col("band"), col("bandVal"))
    }.reduce(_ unionByName _)
    // ONE shuffle: gather each bucket's members, then expand pairs
    // executor-side via nested generators. The previous shape (groupBy count
    // -> join sizes back -> bucket self-join) shuffled the exploded rows x
    // bands key table three times; this shuffles it once. The gather is the
    // size-CAPPED collector (graft.functions.CappedCollect), not
    // collect_list: a hot bucket (the exact pathology maxBucketSize guards
    // against) retains at most maxBucketSize+1 ids in the aggregation buffer
    // while its true size is still counted — an over-cap bucket can never
    // OOM an executor on its way to being dropped.
    val bucketsPlan = keys.groupBy("modality", "band", "bandVal")
      .agg(graft.functions.CappedCollect.cappedCollect(maxBucketSize)(col(idCol)).as("g"))
      .select(col("modality"), col("band"), col("bandVal"),
        col("g.ids").as("ids"), col("g.n").as("bucketSize"))
      .filter(col("bucketSize") > 1)
    val (buckets, freeBuckets) =
      if (cacheBuckets) graft.SparkUtil.checkpointCut(bucketsPlan, eager = false)
      else (bucketsPlan, () => ())
    val dropped = buckets.filter(col("bucketSize") > maxBucketSize)
    val kept = buckets.filter(col("bucketSize") <= maxBucketSize)
    val direct = kept.filter(col("bucketSize") <= saltChunk)
      .select(col("modality"), col("ids"), explode(col("ids")).as("a"))
      .select(col("modality"), col("a"),
        explode(filter(col("ids"), x => x > col("a"))).as("b"))
      .select("a", "b", "modality")
    val salted = {
      val c = saltChunk
      // ceil(n/c) chunks of the SORTED member list; rows stay tiny (k rows of
      // <= 2c ids per hot bucket) until after the salting shuffle
      val chunked = kept.filter(col("bucketSize") > saltChunk)
        .select(col("modality"), col("band"), col("bandVal"),
          array_sort(col("ids")).as("ids"))
        .select(col("modality"), col("band"), col("bandVal"),
          transform(
            sequence(lit(0), floor((size(col("ids")) - 1) / lit(c)).cast("int")),
            i => slice(col("ids"), i * c + 1, lit(c))).as("chunks"))
      chunked
        .select(col("modality"), col("band"), col("bandVal"), col("chunks"),
          explode(sequence(lit(0), size(col("chunks")) - 1)).as("i"))
        .select(col("modality"), col("band"), col("bandVal"), col("i"),
          element_at(col("chunks"), col("i") + 1).as("ca"), col("chunks"),
          explode(sequence(col("i"), size(col("chunks")) - 1)).as("j"))
        .select(col("modality"), col("band"), col("bandVal"), col("i"), col("j"),
          col("ca"), element_at(col("chunks"), col("j") + 1).as("cb"))
        // the salt: spread one hot bucket's chunk-pair cells across the
        // cluster before expansion. The partition count is EXPLICIT (the
        // session's shuffle-partition parallelism knob): a cell is a few KB
        // before expansion and up to saltChunk^2 pairs after, and AQE's
        // coalescing sees only the pre-expansion bytes — without the explicit
        // count it merges every cell back into one task and undoes the salt
        // (measured: salted max-task 17 s ~= the in-place straggler). An
        // explicit-count repartition is exempt from AQE coalescing, and
        // hashing on (bucket, i, j) spreads cells uniformly, so per-task work
        // is ~totalPairs/partitions regardless of how hot any one band is.
        .repartition(
          // robust to platforms that set this conf to a non-integer value
          // like "auto": fall back to the cluster's default parallelism
          chunked.sparkSession.conf.get("spark.sql.shuffle.partitions")
            .toIntOption
            .getOrElse(chunked.sparkSession.sparkContext.defaultParallelism),
          col("modality"), col("band"), col("bandVal"), col("i"), col("j"))
        .select(col("modality"), col("cb"), (col("i") === col("j")).as("sameChunk"),
          explode(col("ca")).as("a"))
        .select(col("modality"), col("a"),
          explode(when(col("sameChunk"), filter(col("cb"), x => x > col("a")))
            .otherwise(col("cb"))).as("b"))
        .select("a", "b", "modality")
    }
    val pairs = direct.unionByName(salted).dropDuplicates("a", "b", "modality")
    (pairs,
      dropped.select(col("modality"), col("band"), col("bandVal"), col("bucketSize")),
      freeBuckets)
  }

  /**
   * Candidate pairs (a < b) from shared band buckets.
   * @return (candidates DF with columns a, b; droppedBuckets DF with columns
   *         band, bandVal, bucketSize for buckets over maxBucketSize)
   */
  def candidatePairs(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
                     maxBucketSize: Int): (DataFrame, DataFrame) = {
    // bucket sizes via groupBy (map-side partial agg) + same-key join: the
    // join reuses the band-key partitioning — cheaper than a window, which
    // would add a full sort of all band keys.
    val keys = bandKeys(sigs, idCol, bands, rowsPerBand)
    val sizes = keys.groupBy("band", "bandVal")
      .agg(count(lit(1)).as("bucketSize"))
    val dropped = sizes.filter(col("bucketSize") > maxBucketSize)
    val kept = keys.join(sizes.filter(col("bucketSize") <= maxBucketSize),
        Seq("band", "bandVal"))
      .select(col(idCol), col("band"), col("bandVal"))
    val l = kept.select(col(idCol).as("a"), col("band"), col("bandVal"))
    val rgt = kept.select(col(idCol).as("b"), col("band"), col("bandVal"))
    val pairs = l.join(rgt, Seq("band", "bandVal"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .dropDuplicates("a", "b")
    (pairs, dropped)
  }
}

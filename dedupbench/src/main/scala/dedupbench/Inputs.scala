package dedupbench

import graft.sources.{Clip, ClipCorpus, CorpusConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * A workload's inputs, all derived from (seed, clips): the generated corpus,
 * its planted-cluster labels and the held-back ids that the search store
 * leaves out and the probe batches draw from.
 */
final class Inputs(val seed: Long, val clips: Long) {
  val cc: CorpusConfig = CorpusConfig(seed = seed, n = clips)

  /** Planted cluster of row i, or -1 for an unclustered row. */
  def cluster(i: Long): Long = ClipCorpus.clusterOf(seed, i)

  private def mix(a: Long, b: Long): Long = {
    var h = a * 0x9e3779b97f4a7c15L ^ b
    h ^= h >>> 31; h *= 0xbf58476d1ce4e5b9L; h ^ (h >>> 29)
  }

  /** One non-head member of every other planted cluster: its co-members,
    * the head among them, stay in the store. */
  val heldBackPlanted: Vector[Long] =
    (0L until clips / ClipCorpus.BlockSize).flatMap { block =>
      val m = ClipCorpus.clusterSize(seed, block)
      if (m < 2 || (mix(seed, block) & 1L) == 1L) None
      else Some(block * ClipCorpus.BlockSize + 1 +
        java.lang.Math.floorMod(mix(seed, block + 7919L), (m - 1).toLong))
    }.toVector

  /** Every 29th unclustered row: probes that should match nothing. */
  val heldBackDistractors: Vector[Long] =
    (0L until clips).filter(i => cluster(i) < 0 && i % 29 == 3).toVector

  def heldBack: Vector[Long] = heldBackPlanted ++ heldBackDistractors

  /** Probe batch b: `planted` held-back members plus the rest distractors,
    * cycling through the held-back sets (never the same id twice in a batch). */
  def probeBatch(b: Int, size: Int, planted: Int): Vector[Long] = {
    def cyc(v: Vector[Long], from: Int, n: Int) =
      (0 until math.min(n, v.size)).map(j => v((from + j) % v.size)).toVector
    cyc(heldBackPlanted, b * planted, planted) ++
      cyc(heldBackDistractors, b * (size - planted), size - planted)
  }

  def clip(i: Long): Clip = ClipCorpus.genClip(cc, i)

  /** Golden co-member pairs (a < b by id) among `ids`. */
  def goldenPairs(ids: Iterable[Long]): Set[(String, String)] =
    ids.filter(cluster(_) >= 0).groupBy(cluster).values.flatMap { ms =>
      val s = ms.toVector.sorted.map(Inputs.id)
      for (x <- s.indices; y <- x + 1 until s.size) yield (s(x), s(y))
    }.toSet
}

object Inputs {
  def id(i: Long): String = f"clip_$i%08d"
  def index(id: String): Long = id.stripPrefix("clip_").toLong

  /** Order-independent 64-bit fingerprint of a clips frame plus a list of
    * derived ids (one small Spark job). */
  def fingerprint(df: DataFrame, ids: Seq[Long]): String = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(clip_id, bytes, sr_hz," +
      " dur_ms, codec, transcript))")).first()
    val h = scala.util.hashing.MurmurHash3.seqHash(ids)
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x:$h%08x"
  }

  /** Rows [0, 200) of seed 0: a generator canary checked on every run. */
  def canary(spark: SparkSession): String =
    fingerprint(ClipCorpus.clipsRange(spark, CorpusConfig(seed = 0L, n = 200L), 0L, 200L)
      .toDF(), Seq.empty)

  /** Pinned fingerprints, "seed<TAB>fingerprint" lines; seed "canary" is
    * the generator canary. */
  lazy val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/pinned_inputs.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
    finally in.close()
  }
}

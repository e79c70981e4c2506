package dedupbench

import graft.config.DedupConfig
import graft.functions.{AudioPcm, TextShingles}
import graft.operators.{ContainmentJoin, MinHasher, PairVerifier}
import graft.sources.Clip

/** The row kernels under the signature pass and the verify tiers, timed
  * single-threaded on the driver over a fixed sample of the workload's clips:
  * one untimed pass, then the median of five timed passes, in µs per call. */
object Kernels {
  @volatile private var sink = 0L // keeps results observable to the JIT

  private def usPerCall(n: Int)(f: Int => Long): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L; var i = 0
      while (i < n) { acc += f(i); i += 1 }
      sink += acc
      (System.nanoTime() - t0) / 1e3 / n
    }
    pass()
    Stats.median(Seq.fill(5)(pass()))
  }

  def time(sample: IndexedSeq[Clip], cfg: DedupConfig): Seq[(String, Double)] = {
    val n = sample.size
    val low = sample.map(_.transcript.toLowerCase)
    val ash = sample.map(c => AudioPcm.shingles31Jvm(c.bytes, c.sr_hz, cfg.frameMs,
      cfg.hopMs, cfg.framesPerShingle, cfg.energyLevels))
    def next(i: Int) = (i + 1) % n
    val us = Seq[(String, Int => Long)](
      "AudioPcm.shinglesJvm" -> (i => AudioPcm.shinglesJvm(sample(i).bytes,
        sample(i).sr_hz, cfg.frameMs, cfg.hopMs, cfg.framesPerShingle,
        cfg.energyLevels).length),
      "AudioPcm.shingles31Jvm" -> (i => AudioPcm.shingles31Jvm(sample(i).bytes,
        sample(i).sr_hz, cfg.frameMs, cfg.hopMs, cfg.framesPerShingle,
        cfg.energyLevels).length),
      "TextShingles.charGramHashes31Jvm" ->
        (i => TextShingles.charGramHashes31Jvm(low(i), cfg.charGramK).length),
      "TextShingles.wordNgramHashes31Jvm" ->
        (i => TextShingles.wordNgramHashes31Jvm(low(i), cfg.textLshWordNgram).length),
      "MinHasher.signatureJvm" ->
        (i => MinHasher.signatureJvm(ash(i), cfg.numPerms, cfg.seed)(0)),
      "ContainmentJoin.fingerprintsJvm" ->
        (i => ContainmentJoin.fingerprintsJvm(low(i), cfg.containmentMinRun).length),
      "PairVerifier.jaccardLongJvm" ->
        (i => (PairVerifier.jaccardLongJvm(ash(i), ash(next(i))) * 1e6).toLong),
      "PairVerifier.pcmCorrJvm" ->
        (i => (PairVerifier.pcmCorrJvm(sample(i).bytes, sample(next(i)).bytes) * 1e6).toLong))
    require(us.map(_._1) == Metrics.kernels, "kernel list out of step with Metrics")
    us.map { case (name, f) => name -> usPerCall(n)(f) }
  }
}

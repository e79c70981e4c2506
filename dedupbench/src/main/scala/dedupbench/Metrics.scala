package dedupbench

/** A metric the benchmark reports; BENCHMARK.json lists the same names. */
final case class MetricDef(name: String, unit: String, better: String)

object Metrics {
  /** Every workload reports these, each for its own operation (a rebuild
    * call or a search call) and its own golden labels. */
  val endToEnd: Seq[MetricDef] = Seq(
    MetricDef("setup_s", "s", "lower"),
    MetricDef("call_p50_s", "s", "lower"),
    MetricDef("recall", "ratio", "higher"),
    MetricDef("precision", "ratio", "higher"))

  /** Per-call rollup of a top-level API span. */
  val spanMetrics: Seq[(String, String, String)] = Seq(
    ("calls", "count", "higher"), ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"), ("stages", "count", "lower"),
    ("tasks", "count", "lower"), ("task_cpu_s", "s", "lower"),
    ("executor_run_s", "s", "lower"), ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"), ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"), ("peak_exec_mem_mb", "MB", "lower"),
    ("driver_gap_s", "s", "lower"))

  /** The stage functions of DedupPipeline.run, in its order. */
  val operators: Seq[String] = Seq("signatures", "exact_edges", "candidates",
    "audio_screen", "audio_verify", "text_verify", "containment",
    "pcm_confirm", "clusters")

  /** Row kernels timed single-threaded, as Object.method. */
  val kernels: Seq[String] = Seq("AudioPcm.shinglesJvm", "AudioPcm.shingles31Jvm",
    "TextShingles.charGramHashes31Jvm", "TextShingles.wordNgramHashes31Jvm",
    "MinHasher.signatureJvm", "ContainmentJoin.fingerprintsJvm",
    "PairVerifier.jaccardLongJvm", "PairVerifier.pcmCorrJvm")

  val perLayer: Seq[MetricDef] = {
    def m(n: String, u: String, b: String) = MetricDef(n, u, b)
    Seq("run", "search").flatMap(s =>
      spanMetrics.map { case (n, u, b) => m(s"pipeline.$s.$n", u, b) }) ++
    Seq(m("pipeline.initialize.wall_s", "s", "lower"),
      m("pipeline.initialize.jobs", "count", "lower"),
      m("pipeline.initialize.task_cpu_s", "s", "lower")) ++
    operators.flatMap(o => Seq(
      m(s"operators.$o.wall_s", "s", "lower"),
      m(s"operators.$o.task_cpu_s", "s", "lower"),
      m(s"operators.$o.jobs", "count", "lower"),
      m(s"operators.$o.shuffle_write_mb", "MB", "lower"),
      m(s"operators.$o.rows_out", "count", "lower"))) ++
    Seq(m("operators.candidates.pairs_text", "count", "lower"),
      m("operators.candidates.pairs_audio", "count", "lower")) ++
    Seq("audio_screen", "audio_verify", "text_verify", "pcm_confirm").map(o =>
      m(s"operators.$o.pass_ratio", "ratio", "higher")) ++
    kernels.map(k => m(s"functions.$k.us", "us", "lower")) ++
    Seq(m("sources.search.store_read_mb", "MB", "lower"),
      m("sources.initialize.store_written_mb", "MB", "lower"),
      m("sources.initialize.files_written", "count", "lower"),
      m("sources.store_total_mb", "MB", "lower"),
      m("sources.snapshots", "count", "lower"),
      m("sources.bytes_per_live_clip", "B", "lower"),
      m("jvm.peak_heap_after_gc_mb", "MB", "lower"),
      m("jvm.gc_s", "s", "lower"),
      m("trace.overhead_s", "s", "lower"))
  }
}

/** The few JSON shapes the benchmark writes. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A measured value with all its digits; non-finite values cannot occur
    * in a successful run and are written as 0. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

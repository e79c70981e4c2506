package dedupbench

import java.nio.file.Paths

/**
 * The benchmark JVM. One run = one workload at one seed:
 *
 *   Main --workload rebuild|search --seed N --seconds S --trace 0|1
 *        [--cores C] [--clips N] [--work DIR]
 *
 * Prints human-readable `#` lines, then as its last line one JSON object
 * with `correct`, `attempted`, `failed` and `metrics` (the end-to-end
 * metrics untraced, the per-layer ones traced). Exits 1 when any call threw
 * or any output check failed.
 *
 *   Main pin FROM TO CLIPS  prints the input fingerprints of seeds
 *                           [FROM, TO) for src/main/resources/pinned_inputs.tsv
 */
object Main {
  val Workloads = Seq("rebuild", "search")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    require(args.length % 2 == 0 && kv.size * 2 == args.length, s"bad arguments: ${args.mkString(" ")}")
    val w = kv.getOrElse("workload", "")
    require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    Opts(
      workload = w,
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      cores = kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      clips = kv.getOrElse("clips", "4000").toLong,
      work = Paths.get(kv.getOrElse("work", "target/work")).toAbsolutePath)
  }

  /** Runs one workload in `spark`; shared with the self-test. */
  def execute(spark: org.apache.spark.sql.SparkSession, o: Opts, jvmStartMs: Long)
      : (Ledger, Report) = {
    val ledger = new Ledger
    val run = new Run(spark, o, ledger, jvmStartMs)
    val report = ledger.call(s"workload ${o.workload}") {
      o.workload match {
        case "rebuild" => RebuildWorkload(run)
        case "search" => SearchWorkload(run)
      }
    }.getOrElse(Report(Map.empty, Seq("workload aborted")))
    (ledger, report)
  }

  /** (correct, the result JSON line). */
  def result(o: Opts, ledger: Ledger, report: Report): (Boolean, String) = {
    val defs = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    val metrics = defs.map { d =>
      s"${Json.str(d.name)}: {\"value\": ${Json.num(report.values.getOrElse(d.name, Double.NaN))}, " +
        s"\"unit\": ${Json.str(d.unit)}}"
    }.mkString("{", ", ", "}")
    val correct = ledger.failed == 0 && defs.forall(d => report.values.contains(d.name))
    (correct, s"""{"correct": $correct, "attempted": ${math.max(1, ledger.attempted)}, """ +
      s""""failed": ${ledger.failed}, "metrics": $metrics}""")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("pin")) return pin(args.drop(1))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val spark = graft.SparkUtil.session(o.cores, s"dedupbench-${o.workload}")
    val (ledger, report) =
      try execute(spark, o, jvmStartMs)
      finally spark.stop()
    report.notes.foreach(n => println(s"# $n"))
    val defs = if (o.trace) Metrics.perLayer else Metrics.endToEnd
    defs.foreach(d => println(f"# metric ${d.name}%-44s ${report.values.getOrElse(d.name, Double.NaN)}%14.6f ${d.unit}"))
    println(f"# failed_op_ratio ${ledger.failed.toDouble / math.max(1, ledger.attempted)}%.4f " +
      s"(${ledger.failed} of ${ledger.attempted} calls and checks)")
    val (correct, line) = result(o, ledger, report)
    println(line)
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  private def pin(args: Array[String]): Unit = {
    val Array(from, to, clips) = args.map(_.toLong)
    val spark = graft.SparkUtil.session(Runtime.getRuntime.availableProcessors(), "dedupbench-pin")
    try {
      println(s"canary\t${Inputs.canary(spark)}")
      for (seed <- from until to) {
        val in = new Inputs(seed, clips)
        val df = graft.sources.ClipCorpus.clips(spark, in.cc).toDF()
        println(s"$seed/$clips\t${Inputs.fingerprint(df, in.heldBack)}")
      }
    } finally spark.stop()
  }
}

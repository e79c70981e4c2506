package dedupbench

import graft.config.DedupConfig
import graft.pipeline.{ClipSearch, DedupPipeline, DedupStore, IncrementalDedup}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, clips: Long, work: Path)

/** What a run reports: end-to-end metrics untraced, per-layer ones traced. */
final case class Report(values: Map[String, Double], notes: Seq[String])

/** State shared by the two workloads of one run. */
final class Run(val spark: SparkSession, val o: Opts, val ledger: Ledger,
                val jvmStartMs: Long) {
  val cfg: DedupConfig = DedupConfig.default
  val in = new Inputs(o.seed, o.clips)
  val rec: Option[Recorder] = if (o.trace) Some(new Recorder(spark)) else None
  val jvm: Option[JvmWatch] = if (o.trace) Some(new JvmWatch) else None
  val MinCalls = 2
  val MaxCalls = 50

  /** Seconds since the JVM started: session start, input generation,
    * store initialization and the untimed warm-up call. The warm-up matters:
    * the first call of a fresh JVM runs ~1.5-2x slower than later ones while
    * classes load and the JIT compiles. */
  def setupS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** The corpus, generated and materialized before any timing (a checkpoint
    * the calls read like a table), after its fingerprint checks. */
  def corpus(): (DataFrame, Int) = {
    val df = graft.sources.ClipCorpus.clips(spark, in.cc).toDF().localCheckpoint(eager = true)
    val rdd = df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get
    val fp = Inputs.fingerprint(df, in.heldBack)
    val canary = Inputs.canary(spark)
    println(s"# inputs seed=${o.seed} clips=${o.clips} fingerprint=$fp canary=$canary")
    ledger.check("generator canary matches its pin",
      Inputs.pinned.get("canary").contains(canary), s"got $canary")
    Inputs.pinned.get(s"${o.seed}/${o.clips}") match {
      case Some(pin) => ledger.check("input fingerprint matches its pin", pin == fp,
        s"pinned $pin, got $fp")
      case None => println(s"# inputs for seed ${o.seed} at ${o.clips} clips are not pinned")
    }
    (df, rdd)
  }

  /** Free every cached block but `keep` between calls: leftover blocks slow
    * later jobs through eviction churn. */
  def purge(keep: Set[Int]): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!keep(id)) r.unpersist(blocking = true)
    }
  }

  /** The closed loop: one caller, the next call when the previous returns,
    * until `seconds` have passed and at least MinCalls were made. */
  def loop[T](call: Int => Option[T]): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[T]()
    var i = 0
    while (i < MaxCalls && (i < MinCalls || (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      out ++= call(i)
      i += 1
    }
    out.toSeq
  }

  def traced[T](name: String)(body: => T): T = rec match {
    case Some(r) if r.attached => r.span(name)(_ => body)
    case _ => body
  }

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Per-layer values of a traced run; layers the workload does not reach
    * read 0. */
  def layers(extra: Map[String, Double]): Map[String, Double] = {
    val r = rec.get
    val v = mutable.Map[String, Double]() ++ extra
    for (api <- Seq("run", "search")) {
      val st = r.named(s"pipeline.$api").map(r.stats)
      if (st.nonEmpty) {
        def med(f: SpanStats => Double) = Stats.median(st.map(f))
        val p = s"pipeline.$api."
        v(p + "calls") = st.size
        v(p + "wall_s") = med(_.wallS); v(p + "jobs") = med(_.jobs)
        v(p + "stages") = med(_.stages); v(p + "tasks") = med(_.tasks.toDouble)
        v(p + "task_cpu_s") = med(_.taskCpuS); v(p + "executor_run_s") = med(_.executorRunS)
        v(p + "gc_s") = med(_.gcS); v(p + "shuffle_write_mb") = med(_.shuffleWriteMb)
        v(p + "shuffle_read_mb") = med(_.shuffleReadMb); v(p + "spill_mb") = med(_.spillMb)
        v(p + "peak_exec_mem_mb") = med(_.peakExecMemMb)
        v(p + "driver_gap_s") = med(_.driverGapS)
      }
    }
    r.named("pipeline.initialize").map(r.stats).headOption.foreach { s =>
      v("pipeline.initialize.wall_s") = s.wallS
      v("pipeline.initialize.jobs") = s.jobs
      v("pipeline.initialize.task_cpu_s") = s.taskCpuS
    }
    for (op <- Metrics.operators; sp <- r.named(s"operators.$op").headOption) {
      val s = r.stats(sp)
      val p = s"operators.$op."
      v(p + "wall_s") = s.wallS; v(p + "task_cpu_s") = s.taskCpuS
      v(p + "jobs") = s.jobs; v(p + "shuffle_write_mb") = s.shuffleWriteMb
      v(p + "rows_out") = sp.extra.getOrElse("rows_out", 0.0)
    }
    v("jvm.peak_heap_after_gc_mb") = jvm.get.peakHeapAfterGcMb
    v("jvm.gc_s") = jvm.get.gcS
    Files.createDirectories(o.work)
    val spans = o.work.resolve(s"spans-${o.workload}-seed${o.seed}.json")
    Files.write(spans, r.spansJson.getBytes("UTF-8"))
    println(s"# spans written to $spans")
    Metrics.perLayer.map(d => d.name -> v.getOrElse(d.name, 0.0)).toMap
  }

  def kernels(): Map[String, Double] =
    Kernels.time((0L until math.min(64L, o.clips)).map(in.clip), cfg)
      .map { case (k, us) => s"functions.$k.us" -> us }.toMap
}

object Store {
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      } finally s.close()
    }

  /** (bytes, files) that are new or changed between two walks. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Int) = {
    val w = after.filter { case (p, n) => !before.get(p).contains(n) }
    (w.values.sum, w.size)
  }

  /** Bytes read through the local file system (parquet data and footers,
    * snapshot manifests) since this JVM started; Spark's own shuffle and
    * block reads do not go through it. */
  def bytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  def snapshots(files: Map[String, Long]): Int =
    files.keys.count(_.matches(""".*_snapshots/v\d+\.json"""))

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    } finally s.close()
  }
}

/**
 * `rebuild`: DedupPipeline.run over the generated corpus with the clusters
 * materialized. Scored on golden planted-cluster co-membership.
 */
object RebuildWorkload {
  def apply(run: Run): Report = {
    import run._
    val (corpus, corpusRdd) = run.corpus()
    val keep = Set(corpusRdd)
    val golden = in.goldenPairs(0L until o.clips)

    def once(): (Double, RebuildOutput) = {
      val (dt, res) = traced("pipeline.run") {
        timed {
          val r = DedupPipeline.run(spark, corpus, cfg)
          r.clusters.count()
          r
        }
      }
      val out = RebuildOutput.of(res.dupPairs, res.clusters)
      purge(keep)
      (dt, out)
    }

    def score(out: RebuildOutput): (Double, Double) = {
      val predicted = out.assign.groupBy(_._2).values.flatMap { m =>
        val ids = m.keys.toVector.sorted
        for (x <- ids.indices; y <- x + 1 until ids.size) yield (ids(x), ids(y))
      }.toSet
      val recall = golden.count(predicted.contains).toDouble / math.max(1, golden.size)
      val precision = 1.0 - predicted.count(p => !golden.contains(p)).toDouble /
        math.max(1, predicted.size)
      (recall, precision)
    }

    def checkOutput(out: RebuildOutput, ref: RebuildOutput, what: String): (Double, Double) = {
      val (r, p) = score(out)
      ledger.check(s"$what: dup-pair recall >= 0.99", r >= 0.99, f"$r%.4f")
      ledger.check(s"$what: dup-pair precision >= 0.97", p >= 0.97, f"$p%.4f")
      ledger.check(s"$what: same pairs and clusters as the warm-up call",
        out == ref, s"${out.pairs.size} vs ${ref.pairs.size} pairs")
      (r, p)
    }

    val warm = ledger.call("warm-up DedupPipeline.run")(once())
    val setup = setupS
    if (!o.trace) {
      val calls = warm.toSeq.flatMap { case (_, ref) =>
        loop(i => ledger.call(s"DedupPipeline.run #$i")(once())).map { case (dt, out) =>
          (dt, checkOutput(out, ref, "rebuild"))
        }
      }
      val dts = calls.map(_._1)
      println(s"# rebuild_s samples: ${dts.map(d => f"$d%.3f").mkString(", ")}")
      Report(Map("setup_s" -> setup, "call_p50_s" -> Stats.median(dts),
        "recall" -> Stats.median(calls.map(_._2._1)),
        "precision" -> Stats.median(calls.map(_._2._2))),
        Seq(s"rebuild_s = median of ${dts.size} calls; clips=${o.clips}"))
    } else {
      val r = rec.get
      // untraced call, then the same call with the listener on
      val untraced = ledger.call("DedupPipeline.run untraced")(once())
      r.attach()
      val tracedCall = ledger.call("DedupPipeline.run traced")(once())
      val dec = ledger.call("decomposed rebuild")(
        r.span("operators")(_ => Decomposed.run(spark, corpus, cfg, r)))
      purge(keep)
      val extra = mutable.Map[String, Double]()
      for ((_, ref) <- tracedCall) {
        checkOutput(ref, warm.map(_._2).getOrElse(ref), "traced rebuild")
        for ((out, _) <- dec)
          ledger.check("decomposed rebuild reproduces DedupPipeline.run's pairs and clusters",
            out == ref, s"${out.pairs.size} vs ${ref.pairs.size} pairs, " +
              s"${out.assign.size} vs ${ref.assign.size} clustered clips")
      }
      for ((_, y) <- dec) {
        def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
        extra ++= Map(
          "operators.candidates.pairs_text" -> y.pairsText.toDouble,
          "operators.candidates.pairs_audio" -> y.pairsAudio.toDouble,
          "operators.audio_screen.pass_ratio" -> ratio(y.screened, y.pairsAudio),
          "operators.audio_verify.pass_ratio" -> ratio(y.audioVerified, y.screened),
          "operators.text_verify.pass_ratio" -> ratio(y.textVerified, y.pairsText),
          "operators.pcm_confirm.pass_ratio" -> ratio(y.pcmConfirmed, y.audioVerified))
      }
      for ((u, _) <- untraced; (t, _) <- tracedCall) extra("trace.overhead_s") = t - u
      extra ++= kernels()
      Report(layers(extra.toMap), Seq(s"traced rebuild; clips=${o.clips}"))
    }
  }
}

/**
 * `search`: a read-only store of the corpus minus the held-back ids, probed
 * by batches of held-back planted members plus held-back distractors.
 */
object SearchWorkload {
  val BatchSize = 20
  val PlantedPerBatch = 16
  val K = 10

  def apply(run: Run): Report = {
    import run._
    import spark.implicits._
    val root = o.work.resolve(s"store-seed${o.seed}")
    Store.delete(root)
    val store = new DedupStore(root.toString)
    val (corpus, _) = run.corpus()
    val stored = corpus.join(in.heldBack.map(Inputs.id).toDF("clip_id"), Seq("clip_id"),
      "left_anti")

    rec.foreach(_.attach())
    val before = Store.files(root)
    val init = ledger.call("IncrementalDedup.initialize")(
      traced("pipeline.initialize")(IncrementalDedup.initialize(spark, stored, cfg, store)))
    val (initBytes, initFiles) = Store.written(before, Store.files(root))
    rec.foreach(_.detach())
    purge(Set.empty)

    final case class Scored(planted: Int, hits: Int, matches: Int, trueMatches: Int,
                            readMb: Double)
    def once(b: Int): (Double, Scored) = {
      val ids = in.probeBatch(b, BatchSize, PlantedPerBatch)
      val probes = ids.map(in.clip).toDF()
      val snap = Store.files(root)
      val read0 = Store.bytesRead()
      val (dt, rows) = traced("pipeline.search") {
        timed {
          ClipSearch.search(spark, probes, store, cfg, K)
            .select("probe_id", "match_id").collect()
            .map(r => Inputs.index(r.getString(0)) -> Inputs.index(r.getString(1)))
        }
      }
      val readMb = (Store.bytesRead() - read0) / 1048576.0
      ledger.check(s"search #$b leaves the store unchanged", Store.files(root) == snap)
      purge(Set.empty)
      val byProbe = rows.groupBy(_._1)
      val planted = ids.filter(in.cluster(_) >= 0)
      val missed = planted.filterNot(p =>
        byProbe.getOrElse(p, Array.empty).exists(m => in.cluster(m._2) == in.cluster(p)))
      ledger.check(s"search #$b: every planted probe's top-$K holds a stored co-member",
        missed.isEmpty, s"missed ${missed.map(Inputs.id).mkString(" ")}")
      val trueMatches = rows.count { case (p, m) => in.cluster(p) >= 0 && in.cluster(m) == in.cluster(p) }
      (dt, Scored(planted.size, planted.size - missed.size, rows.length, trueMatches, readMb))
    }

    val warm = init.flatMap(_ => ledger.call("warm-up ClipSearch.search")(once(0)))
    val setup = setupS
    val report = if (!o.trace) {
      val calls = if (warm.isEmpty) Seq.empty
        else loop(i => ledger.call(s"ClipSearch.search #$i")(once(1 + i)))
      val dts = calls.map(_._1)
      val s = calls.map(_._2)
      val recall = s.map(_.hits).sum.toDouble / math.max(1, s.map(_.planted).sum)
      val precision = s.map(_.trueMatches).sum.toDouble / math.max(1, s.map(_.matches).sum)
      ledger.check("search precision >= 0.97", precision >= 0.97, f"$precision%.4f")
      println(s"# search_p50_s samples: ${dts.map(d => f"$d%.3f").mkString(", ")}")
      Report(Map("setup_s" -> setup, "call_p50_s" -> Stats.median(dts),
        "recall" -> recall, "precision" -> precision),
        Seq(s"search_p50_s = median of ${dts.size} calls of $BatchSize probes, k=$K; " +
          s"store of ${o.clips - in.heldBack.size} clips"))
    } else {
      val r = rec.get
      val untraced = warm.flatMap(_ =>
        ledger.call("ClipSearch.search untraced")(once(1)))
      r.attach()
      val tracedCall = warm.flatMap(_ =>
        ledger.call("ClipSearch.search traced")(once(2)))
      val files = Store.files(root)
      val live = store.clips.read(spark).filter("NOT is_deleted").count()
      val extra = mutable.Map[String, Double](
        "sources.initialize.store_written_mb" -> initBytes / 1048576.0,
        "sources.initialize.files_written" -> initFiles.toDouble,
        "sources.store_total_mb" -> files.values.sum / 1048576.0,
        "sources.snapshots" -> Store.snapshots(files).toDouble,
        "sources.bytes_per_live_clip" -> files.values.sum.toDouble / math.max(1L, live))
      for ((u, _) <- untraced; (t, s) <- tracedCall) {
        extra("trace.overhead_s") = t - u
        extra("sources.search.store_read_mb") = s.readMb
      }
      extra ++= kernels()
      Report(layers(extra.toMap), Seq(s"traced search; store of $live clips"))
    }
    Store.delete(root)
    report
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession factory for the mains (Bench/Verify) and the
  * dedupbench harness.
  *
  * spark.local.dir points at tmpfs (/dev/shm) when available: local-mode
  * shuffle and spill files otherwise serialize on a single disk, which
  * flat-lines multi-core scaling (observed: executor threads parked in
  * FileDispatcherImpl.write0 while CPUs idle). On a real cluster the
  * equivalent is NVMe/ramdisk scratch per executor.
  */
object SparkUtil {

  /** Eager localCheckpoint + a handle to free its blocks.
    *
    * Why not .persist(): a cached-but-unCUT DataFrame keeps its full logical
    * tree, and every downstream reference re-embeds it. Plan RENDERING
    * (posted with each SQLExecutionStart/AQE event) and parts of
    * optimization walk that tree per reference — with the pipeline's layered
    * verify joins the walk is exponential in layer depth (measured: 80M-char
    * renders, multi-second driver walks per event, on a 120-row corpus).
    * Checkpointing replaces the tree with a LogicalRDD leaf.
    *
    * Why not plain .localCheckpoint(): its RDD blocks are invisible to the
    * cache manager and leak across jobs (measured ~2x eviction-churn CPU on
    * later jobs); the returned thunk reaches into the LogicalRDD and frees
    * them, restoring persist/unpersist discipline.
    *
    * `eager = false` defers COMPUTE only: localCheckpoint bakes the physical
    * plan into a LogicalRDD leaf at call time either way, so the plan/lineage
    * cut above is identical — but a lazy cut materializes inside whichever
    * downstream ACTION first demands it, instead of in its own blocking
    * driver round-trip. Chaining several pipeline layers with lazy cuts
    * collapses their serial action chain into ONE job whose independent
    * branches the scheduler overlaps — a direct cut to the per-run serial
    * floor that Amdahl charges against cluster scaling. Within that one job
    * the checkpoint RDD is a single object, so its partitions compute once
    * (cache semantics) no matter how many join sides reference it. */
  def checkpointCut(df: org.apache.spark.sql.DataFrame, eager: Boolean = true)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val cp = df.localCheckpoint(eager = eager)
    val rdd = cp.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    (cp, () => rdd.foreach(_.unpersist(blocking = false)))
  }

  /** Scratch directory for spark.local.dir — chosen by MEASUREMENT, once per
    * JVM. tmpfs is the obvious pick (RAM-speed, no device), but on
    * lazily-backed VMs (memory balloon / UFFD snapshot restore) every NEW
    * tmpfs page is a hypervisor round-trip: measured 9 MB/s on this
    * sandbox's cold VM vs 137 MB/s sustained on its ext4 disk — tmpfs there
    * turns every shuffle/spill write into the bottleneck, and which medium
    * wins flips with the balloon's state. A 24 MB write probe of each
    * candidate picks the faster one; override with SPARK_GRAFT_LOCAL_DIR.
    * (Cluster equivalent: point executors at NVMe scratch and measure it.) */
  lazy val localDir: String = sys.env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse {
    def probe(dir: java.io.File): Double = {
      if (!dir.isDirectory || !dir.canWrite) return 0.0
      val f = java.io.File.createTempFile("graft-probe", ".bin", dir)
      try {
        val buf = new Array[Byte](1 << 20)
        val out = new java.io.FileOutputStream(f)
        val t0 = System.nanoTime()
        var i = 0
        while (i < 24) { out.write(buf); i += 1 }
        out.close()
        24.0 / ((System.nanoTime() - t0) / 1e9) // MB/s
      } finally { f.delete(): Unit }
    }
    val shm = new java.io.File("/dev/shm")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val pick = if (probe(shm) >= probe(tmp)) shm else tmp
    val d = new java.io.File(pick, "spark-graft-local")
    d.mkdirs()
    d.getAbsolutePath
  }

  def session(cores: Int, appName: String, aqe: Option[Boolean] = None,
              shufflePartitions: Option[Int] = None,
              aqeCoalesce: Option[Boolean] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // 2x cores: AQE coalesces surplus partitions, while exactly-cores
      // partitioning makes every skewed task a straggler with idle cores.
      // The scaling probe overrides this to the SAME count at both levels:
      // different partition counts mean different per-task combine/spill
      // behavior — a different JOB, not the same job at two parallelisms.
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(2 * cores))
      // AQE stays ON by default (skew-join/coalesce are part of the scale
      // design). Each AQE query stage is a blocking driver round-trip
      // (~170 ms measured), which is noise when stages run minutes on a
      // cluster but dominates a small local probe (~74 stages/run) — the
      // env knob (or the explicit `aqe` override, used by the scaling
      // probe's legs) lets the bench measure that serial floor honestly.
      .config("spark.sql.adaptive.enabled", aqe.map(_.toString)
        .getOrElse(sys.env.getOrElse("SPARK_GRAFT_AQE", "true")))
      // The scaling probe turns AQE OFF (its per-stage driver round-trips
      // are serial cost that cannot overlap execution at 1 core — measured
      // +23% on the N leg, flat on the 4N leg — so AQE-on "measures" the
      // overhead, not the engine; the static 64 MB broadcast threshold
      // below keeps the endpoint semi-joins broadcast without it) and also
      // turns partition COALESCING off: its parallelismFirst heuristic
      // keys on defaultParallelism = core count, which would hand the N
      // and 4N legs different task granularities — a different job, not
      // the same job at two parallelisms.
      .config("spark.sql.adaptive.coalescePartitions.enabled",
        aqeCoalesce.map(_.toString).getOrElse("true"))
      // AQE re-renders the FULL plan explain string on every query-stage
      // update (AdaptiveSparkPlanExec.onUpdatePlan -> explainString) just to
      // post a listener event; with deep plans (bucket-pruned multi-table
      // merges) that is seconds of driver CPU per update and was measured
      // (jstack) as ~75% of a 20-row incremental merge's wall time. Truncate
      // the rendering — events/UI only, zero effect on execution.
      .config("spark.sql.maxPlanStringLength", "8192")
      // ...and render those event strings in "simple" mode: the default
      // "formatted" mode walks the whole tree for codegen ids with a
      // regex-compiling nodeName per node (jstack: Pattern.compile under
      // TreeNode.nodeName), which truncation alone does not skip.
      .config("spark.sql.ui.explainMode", "simple")
      // 64 MB broadcast threshold (default 10 MB): the pipeline's verify
      // stages semi-join/join against pair-endpoint id sets and candidate
      // pair tables that measure 5-20 MB at bench scale — just over the
      // default, so the planner degrades them to sort-merge joins that
      // shuffle the multi-GB signature/byte tables. The build sides here
      // are bounded by the candidate caps, not the corpus, so 64 MB is safe
      // for the driver; at cluster scale AQE still only broadcasts sides
      // that are ACTUALLY small at runtime.
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // The LSH bucket gather is a size-capped object aggregation
      // (graft.functions.CappedCollect). The default sort-based fallback
      // threshold (128 keys!) pushes virtually every band-key group through
      // serialize -> external-sort -> spill -> per-key buffer rebuild: for
      // millions of tiny buckets that is minutes of CPU and GBs of scratch
      // writes. Buffers are size-capped by construction (~150 B typical), so
      // 2M keys/task ≈ 300 MB — hash-mode aggregation stays in memory; the
      // sort-based path remains the safety net beyond that.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        2000000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

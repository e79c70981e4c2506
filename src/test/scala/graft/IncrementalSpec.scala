package graft

import graft.config.DedupConfig
import graft.pipeline.{DedupPipeline, DedupStore, IncrementalDedup}
import graft.sources.{ClipCorpus, CorpusConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incremental MERGE semantics (north rule): a batch of merges must land on
 * the SAME cluster assignment as a full rebuild of the merged corpus
 * (reference v2 semantics, improved_faiss_detector.py:413-469), be
 * idempotent (:421-427 "no changes" early-exit), honor tombstones (v3,
 * incremental_faiss_detector.py:74-87), and re-sign only the delta.
 */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  val cfg = DedupConfig.default
  val cc = CorpusConfig(seed = 42L, n = 600L)

  private def freshStore(): DedupStore =
    new DedupStore(java.nio.file.Files.createTempDirectory("graft-store").toString)

  private def clipsRange(from: Long, to: Long): DataFrame = {
    val conf = cc
    spark.range(from, to, 1, 4).mapPartitions(_.map(i => ClipCorpus.genClip(conf, i))).toDF()
  }

  /** Co-clustering partition as a canonical set of sorted member lists. */
  private def partition(assign: DataFrame): Set[Seq[String]] =
    assign.groupBy("component").agg(collect_list("clip_id").as("m"))
      .collect().map(_.getSeq[String](1).sorted.toSeq).filter(_.size > 1).toSet

  test("merge(delta) == full rebuild on the merged corpus (cluster-identical)") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 400), cfg, store)
    IncrementalDedup.merge(spark, clipsRange(400, 600), cfg, store)
    val incr = partition(store.clusters.read(spark))

    val full = DedupPipeline.run(spark, clipsRange(0, 600), cfg)
    val fullAssign = full.clusters.select(col("node").as("clip_id"), col("component"))
    val rebuild = partition(fullAssign)
    assert(incr == rebuild,
      s"incremental clusters != rebuild (incr ${incr.size}, rebuild ${rebuild.size}); " +
        s"only-incr=${(incr -- rebuild).take(3)} only-rebuild=${(rebuild -- incr).take(3)}")
    // the component-bucketed mirror (used to prune "members of touched
    // components" reads) must stay row-identical to the clusters table
    val assignRows = store.clusters.read(spark)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val mirrorRows = store.clustersByComp.read(spark)
      .select("clip_id", "component")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(mirrorRows == assignRows,
      s"clusters_by_comp mirror diverged: only-mirror=${(mirrorRows -- assignRows).take(3)} " +
        s"only-clusters=${(assignRows -- mirrorRows).take(3)}")
    full.signatures.unpersist(); full.dupPairs.unpersist()
  }

  test("merge is idempotent: re-merging the same batch changes nothing") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 300), cfg, store)
    IncrementalDedup.merge(spark, clipsRange(200, 300), cfg, store)
    val before = partition(store.clusters.read(spark))
    val pairsBefore = store.dupPairs.read(spark).count()
    IncrementalDedup.merge(spark, clipsRange(200, 300), cfg, store)
    assert(partition(store.clusters.read(spark)) == before)
    assert(store.dupPairs.read(spark).count() == pairsBefore)
  }

  test("modified clip is re-signed and re-clustered; stale edges die") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 100), cfg, store)
    // pick a clip inside a planted cluster and replace its content with a
    // distractor-like row: it must leave its cluster
    val member = store.clusters.read(spark)
      .groupBy("component").agg(count(lit(1)).as("n"), max("clip_id").as("m"))
      .filter(col("n") >= 2).orderBy("component")
      .select("m").as[String].head()
    val donor = ClipCorpus.genClip(CorpusConfig(seed = 999L, n = 10L), 7L)
    val modified = Seq(sources.Clip(member, donor.bytes, donor.sr_hz,
      donor.dur_ms, donor.codec, donor.transcript)).toDF()
    IncrementalDedup.merge(spark, modified, cfg, store)
    val comp = store.clusters.read(spark).filter(col("clip_id") === member)
      .select("component").as[String].head()
    val size = store.clusters.read(spark)
      .filter(col("component") === comp).count()
    assert(size == 1L, s"modified clip still co-clustered (component $comp size $size)")
    // and its signature row was actually replaced
    val sha = store.signatures.read(spark).filter(col("clip_id") === member)
      .select("sha").as[String].head()
    val clipSha = java.security.MessageDigest.getInstance("SHA-256").digest(donor.bytes)
      .map("%02x".format(_)).mkString
    assert(sha == clipSha)
  }

  test("tombstoned clips leave clusters but stay queryable (v3 semantics)") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 100), cfg, store)
    val victim = store.clusters.read(spark)
      .groupBy("component").agg(count(lit(1)).as("n"), max("clip_id").as("m"))
      .filter(col("n") >= 2).orderBy("component")
      .select("m").as[String].head()
    IncrementalDedup.merge(spark, clipsRange(0, 0), cfg, store,
      deleteIds = Seq(victim).toDF("clip_id"))
    val assign = store.clusters.read(spark)
    assert(assign.filter(col("clip_id") === victim).count() == 0, "deleted still clustered")
    val sigRow = store.signatures.read(spark).filter(col("clip_id") === victim)
    assert(sigRow.count() == 1 && sigRow.select("is_deleted").as[Boolean].head(),
      "tombstone row must remain, flagged")
    // no surviving edges reference the tombstone
    val p = store.dupPairs.read(spark)
    assert(p.filter(col("a") === victim || col("b") === victim).count() == 0)
  }

  test("delete then re-insert identical content resurrects the clip") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 100), cfg, store)
    val victim = store.clusters.read(spark)
      .groupBy("component").agg(count(lit(1)).as("n"), max("clip_id").as("m"))
      .filter(col("n") >= 2).orderBy("component")
      .select("m").as[String].head()
    IncrementalDedup.merge(spark, clipsRange(0, 0), cfg, store,
      deleteIds = Seq(victim).toDF("clip_id"))
    assert(store.clusters.read(spark).filter(col("clip_id") === victim).count() == 0)
    // re-insert the SAME content: must not be classified 'unchanged' against
    // the tombstone — the clip resurrects, active and re-clustered
    val victimIdx = victim.stripPrefix("clip_").toLong
    IncrementalDedup.merge(spark, clipsRange(victimIdx, victimIdx + 1), cfg, store)
    val sigRow = store.signatures.read(spark).filter(col("clip_id") === victim)
    assert(sigRow.count() == 1 && !sigRow.select("is_deleted").as[Boolean].head(),
      "re-inserted clip must be active")
    val comp = store.clusters.read(spark).filter(col("clip_id") === victim)
    assert(comp.count() == 1, "re-inserted clip must be assigned a component")
    val compId = comp.select("component").as[String].head()
    assert(store.clusters.read(spark).filter(col("component") === compId).count() >= 2,
      "re-inserted clip must rejoin its duplicate cluster")
  }

  test("delta id sorting below every stored id still joins the exact group") {
    // regression: keyHeads' min over stored+delta used to make the incoming
    // id its own group head, and the d != o filter dropped the only edge
    // bridging it to the stored group ('!' sorts below '0', so clip_!dup is
    // the global minimum of its exact group)
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 100), cfg, store)
    val head = clipsRange(0, 1).collect().head
    val low = Seq(sources.Clip("clip_!dup", head.getAs[Array[Byte]]("bytes"),
      head.getAs[Int]("sr_hz"), head.getAs[Int]("dur_ms"),
      head.getAs[String]("codec"), head.getAs[String]("transcript"))).toDF()
    IncrementalDedup.merge(spark, low, cfg, store)
    val assign = store.clusters.read(spark)
    val c1 = assign.filter(col("clip_id") === "clip_!dup").select("component").as[String].head()
    val c2 = assign.filter(col("clip_id") === "clip_00000000").select("component").as[String].head()
    assert(c1 == c2, s"low-sorting exact dup not linked to stored group ($c1 vs $c2)")
  }

  test("deleting an exact-group's min repairs the group star and its near-dup edges") {
    // block 0 is the heavy 10-member cluster: head clip_00000000 is both the
    // exact-group min (star center) and the group's banded representative.
    // Deleting it used to (a) orphan the surviving exact copies (their star
    // edges died with the center) and (b) lose the group's near-dup edges
    // (nothing else was ever probed against the band index). merge must land
    // on the same partition as a rebuild of the corpus minus the victim.
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 100), cfg, store)
    val victim = "clip_00000000"
    IncrementalDedup.merge(spark, clipsRange(0, 0), cfg, store,
      deleteIds = Seq(victim).toDF("clip_id"))
    val incr = partition(store.clusters.read(spark))
    val full = DedupPipeline.run(spark,
      clipsRange(0, 100).filter(col("clip_id") =!= victim), cfg)
    val rebuild = partition(full.clusters.select(col("node").as("clip_id"), col("component")))
    assert(incr == rebuild,
      s"post-delete merge != rebuild; only-incr=${(incr -- rebuild).take(3)} " +
        s"only-rebuild=${(rebuild -- incr).take(3)}")
    full.signatures.unpersist(); full.dupPairs.unpersist()
  }

  test("empty transcripts never form exact-dup edges with each other") {
    val base = clipsRange(0, 6).collect()
    val rows = base.zipWithIndex.map { case (r, i) =>
      // append a distinct byte so no two rows share audio content either
      sources.Clip(f"clip_e$i%04d", r.getAs[Array[Byte]]("bytes") :+ i.toByte,
        r.getAs[Int]("sr_hz"), r.getAs[Int]("dur_ms"), r.getAs[String]("codec"), "")
    }.toSeq
    val res = DedupPipeline.run(spark, rows.toDF(), cfg)
    // distinct audio + empty transcripts: the t: identity key must not fire
    val exact = res.dupPairs.filter(col("method") === "exact").count()
    assert(exact == 0, s"$exact exact edges among untranscribed clips")
    assert(res.signatures.filter(col("tHashExact").isNull).count() == 6)
    res.signatures.unpersist(); res.dupPairs.unpersist()
  }

  test("merge rewrites only touched buckets (O(delta) commit I/O)") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 200), cfg, store)
    val m0 = store.signatures.bucketMap(0)
    IncrementalDedup.merge(spark, clipsRange(200, 205), cfg, store)
    val m1 = store.signatures.bucketMap(1)
    // 5 delta ids touch at most 5 of 32 buckets; every other bucket's files
    // are REUSED from v0 (copy-on-write manifest), not rewritten
    val reused = m1.count { case (b, p) => m0.get(b).contains(p) }
    assert(reused >= m1.size - 5, s"only $reused/${m1.size} buckets reused")
    assert(m1.exists { case (b, p) => !m0.get(b).contains(p) }, "no bucket rewritten")
    // merged table is still complete and correct
    assert(store.signatures.read(spark).count() == 205)
    def dirBytes(p: String): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }
    val root = java.nio.file.Paths.get(store.root, "signatures/data")
    val v0Bytes = dirBytes(root.resolve("v0").toString)
    val v1Bytes = dirBytes(root.resolve("v1").toString)
    assert(v1Bytes * 3 < v0Bytes,
      s"merge wrote $v1Bytes bytes vs $v0Bytes full — not O(delta)")
  }

  /** Parquet files directly under `dir` (stream closed — Files.list leaks an
    * fd per call otherwise). The == 1 assertions below also assume the
    * default spark.sql.files.maxRecordsPerFile=0: file rollover would split
    * a bucket's single file. */
  private def parquetFiles(dir: String): Int = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    } finally s.close()
  }

  test("bucket writes are hash-distributed: one parquet file per bucket") {
    // writeBuckets repartitions by the bucket column before the partitioned
    // write, so each bucket lands wholly in one task — bucket-pruned reads
    // pay ONE file open per bucket, not (writer partitions x buckets)
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 200), cfg, store)
    store.signatures.bucketMap(0).values.toSeq.distinct.foreach { dir =>
      val files = parquetFiles(dir)
      assert(files == 1, s"$dir has $files parquet files, expected exactly 1")
    }
  }

  test("commitDelta schedules O(touched) write tasks at a 2^14-bucket store") {
    // the sized-store design point (DedupStore.sized at 10^12 rows → 2^18
    // buckets, ~4M rows each) must not pay per-commit driver scheduling
    // O(numBuckets): pinning the write shuffle to numBuckets partitions made
    // a 3-bucket delta schedule 16384 near-empty tasks here (~260k at 2^18,
    // ×8 store tables per merge). Post-fix the whole commitDelta — pruned
    // read + delta compute + capped write shuffle — runs O(touched) tasks.
    val root = java.nio.file.Files.createTempDirectory("graft-16k").toString
    val t = new graft.sources.LakeTable(root, "t", "clip_id", 16384)
    t.commit(clipsRange(0, 200).select("clip_id", "transcript"), "create")
    val delta = clipsRange(200, 203).select("clip_id", "transcript")
    val touched = delta.select(t.bucketOf.cast("int").as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val content = t.readBuckets(spark, touched).unionByName(delta)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.commitDelta(content, touched, "merge")
      // the listener bus is async — wait until the task count goes quiet
      var prev = -1L; var quiet = 0
      while (quiet < 3) {
        Thread.sleep(200)
        val cur = tasks.get()
        if (cur == prev) quiet += 1 else { quiet = 0; prev = cur }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.get() < 500,
      s"commitDelta ran ${tasks.get()} tasks at 16384 buckets — " +
        "scheduling is O(numBuckets), not O(touched)")
    assert(t.read(spark).count() == 203)
    // the capped task count keeps every bucket whole: still one file each
    t.bucketMap(1).filter(kv => touched.contains(kv._1)).values.foreach { dir =>
      val files = parquetFiles(dir)
      assert(files == 1, s"$dir has $files parquet files, expected exactly 1")
    }
  }

  test("empty-set readBuckets launches zero jobs at a large-bucket store") {
    // regression: the empty-selection fallback used to build read(spark)
    // .limit(0), and spark.read.parquet EAGERLY lists its paths — above the
    // parallelPartitionDiscovery threshold (32 paths) that is a Spark job
    // with one task per bucket dir, i.e. a full O(B) listing (measured 2x4096
    // tasks, 10.5 s of a 37 s merge at B=4096) for a zero-row frame. The
    // snapshot's recorded schema answers without touching data at all.
    // Non-empty reads pass that schema to the parquet reader too: inferring
    // it from the files was a one-task job per read, before any action.
    val root = java.nio.file.Files.createTempDirectory("graft-empty-read").toString
    val t = new graft.sources.LakeTable(root, "t", "clip_id", 4096)
    t.commit(clipsRange(0, 50).select("clip_id", "transcript"), "create")
    // 32 buckets: at most 32 dirs, which Spark lists on the driver
    val u = new graft.sources.LakeTable(root, "u", "clip_id", 32)
    val committed = clipsRange(0, 200).select("clip_id", "transcript")
    u.commit(committed, "create")
    assert(Set(0, 1, 2).subsetOf(u.bucketMap(0).keySet))
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (df, some, all) = try {
      val df = t.readBuckets(spark, Set.empty)
      val some = u.readBuckets(spark, Set(0, 1, 2))
      val all = u.read(spark)
      Thread.sleep(500) // async listener bus; zero expected, so a beat is enough
      (df, some, all)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"reads ran ${jobs.get()} jobs before an action — the O(B) listing " +
        "or parquet schema inference is back")
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("clip_id", "transcript"))
    Seq(some, all).foreach(r => assert(r.columns.toSeq == committed.columns.toSeq))
    assert(all.count() == 200)
    assert(some.count() == committed.filter(u.bucketOf.isin(0, 1, 2)).count())
  }

  test("bucketSets answers several frames in one job of one stage") {
    val byId = new graft.sources.LakeTable("unused", "ids", "clip_id", 32)
    val byKey = new graft.sources.LakeTable("unused", "keys", "k", 64)
    val byFp = new graft.sources.LakeTable("unused", "fps", "fp", 1024)
    val requests = Seq(
      clipsRange(0, 100).select("clip_id") -> byId,
      spark.range(0, 500, 1, 4).select(concat(lit("k"), col("id")).as("k")) -> byKey,
      spark.range(0, 0, 1, 4).select(col("id").as("fp")) -> byFp)
    val oracle = requests.map { case (df, t) =>
      df.select(t.bucketOf.cast("int")).distinct().collect().map(_.getInt(0)).toSet
    }
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val sets = try {
      val sets = IncrementalDedup.bucketSets(requests)
      Thread.sleep(500) // async listener bus
      sets
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(sets == oracle)
    assert(sets(2).isEmpty && sets(0).nonEmpty && sets(1).nonEmpty)
    assert((jobs.get(), stages.get()) == ((1L, 1L)),
      s"bucketSets ran ${jobs.get()} jobs / ${stages.get()} stages, expected 1 / 1")
  }

  test("O(delta) commit bytes hold at 1024 buckets where 32 would rewrite everything") {
    // a 100-row delta hashes into ~96 of 32 buckets (full rewrite) but only
    // <=100 of 1024 — bucket count sized to the table is what keeps merge
    // write amplification ~N/B per delta row at scale (DedupStore.sized)
    val store = new DedupStore(
      java.nio.file.Files.createTempDirectory("graft-store1k").toString,
      numBuckets = 1024)
    IncrementalDedup.initialize(spark, clipsRange(0, 600), cfg, store)
    val m0 = store.signatures.bucketMap(0)
    IncrementalDedup.merge(spark, clipsRange(600, 700), cfg, store)
    val m1 = store.signatures.bucketMap(1)
    val reused = m1.count { case (b, p) => m0.get(b).contains(p) }
    assert(reused >= m1.size - 100, s"only $reused/${m1.size} buckets reused")
    assert(store.signatures.read(spark).count() == 700)
    def dirBytes(p: String): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }
    val root = java.nio.file.Paths.get(store.root, "signatures/data")
    val v0Bytes = dirBytes(root.resolve("v0").toString)
    val v1Bytes = dirBytes(root.resolve("v1").toString)
    // 100 delta rows on 600 stored: at 32 buckets v1 would be ~v0; at 1024
    // it stays proportional to the delta (parquet per-file overhead means
    // bytes don't scale perfectly with rows — assert the order, not the ppm)
    assert(v1Bytes * 3 < v0Bytes,
      s"merge wrote $v1Bytes bytes vs $v0Bytes full — not O(delta) at 1024 buckets")
  }

  test("bucketsForRows sizes the store to the corpus") {
    import graft.pipeline.DedupStore.bucketsForRows
    assert(bucketsForRows(1000L) == 32)                 // floor
    assert(bucketsForRows(100000000L) == 32)            // 100M -> 25 -> floor
    assert(bucketsForRows(1000000000L) == 256)          // 1G/4M = 250 -> 256
    assert(bucketsForRows(1000000000000L) == 262144)    // 10^12 -> 2^18
    assert(bucketsForRows(Long.MaxValue / 2) == (1 << 20)) // ceiling
  }

  test("compact rewrites only buckets containing tombstones") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 200), cfg, store)
    val victim = "clip_00000042"
    IncrementalDedup.merge(spark, clipsRange(0, 0), cfg, store,
      deleteIds = Seq(victim).toDF("clip_id"))
    val preVer = store.signatures.currentVersion
    val preMap = store.signatures.bucketMap(preVer)
    IncrementalDedup.compact(spark, store, retain = 99) // keep history to compare
    val postMap = store.signatures.bucketMap(store.signatures.currentVersion)
    assert(store.signatures.currentVersion == preVer + 1)
    // exactly the tombstone's bucket rewritten; every other bucket reused
    val changed = (preMap.keySet ++ postMap.keySet)
      .filter(b => preMap.get(b) != postMap.get(b))
    assert(changed.size == 1, s"compact rewrote buckets $changed, expected 1")
    assert(store.signatures.read(spark).filter(col("is_deleted")).count() == 0)
    assert(store.signatures.read(spark).count() == 199)
  }

  test("compacting a fully-tombstoned table leaves it empty but readable") {
    // regression: an all-deleted table compacts to ZERO data buckets; read()
    // used to call spark.read.parquet with no paths and throw — the schema
    // recorded per snapshot keeps the store usable
    val root = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val t = new graft.sources.LakeTable(root, "t", "clip_id", 8)
    t.commit(Seq(("a", 1), ("b", 2)).toDF("clip_id", "v")
      .withColumn("is_deleted", lit(true)), "create")
    t.commitDelta(t.read(spark).filter(!col("is_deleted")),
      (0 until 8).toSet, "compact")
    val df = t.read(spark)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("clip_id", "v", "is_deleted"))
    assert(t.readBuckets(spark, Set(3)).count() == 0)
  }

  test("compact drops tombstones physically and expires old snapshots") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 100), cfg, store)
    val victim = "clip_00000042"
    IncrementalDedup.merge(spark, clipsRange(0, 0), cfg, store,
      deleteIds = Seq(victim).toDF("clip_id"))
    assert(store.signatures.read(spark)
      .filter(col("clip_id") === victim && col("is_deleted")).count() == 1)
    IncrementalDedup.compact(spark, store)
    // physically gone, not just flagged
    val sigs = store.signatures.read(spark)
    assert(sigs.filter(col("clip_id") === victim).count() == 0)
    assert(sigs.filter(col("is_deleted")).count() == 0)
    assert(sigs.count() == 99)
    // snapshot count bounded: only the newest snapshot remains per table
    assert(store.signatures.versions.size == 1)
    assert(store.clips.versions.size == 1)
    // post-compaction the store still merges correctly: re-insert resurrects
    IncrementalDedup.merge(spark, clipsRange(42, 43), cfg, store)
    val back = store.signatures.read(spark).filter(col("clip_id") === victim)
    assert(back.count() == 1 && !back.select("is_deleted").as[Boolean].head())
  }

  test("snapshot history records lineage (operation per commit)") {
    val store = freshStore()
    IncrementalDedup.initialize(spark, clipsRange(0, 50), cfg, store)
    IncrementalDedup.merge(spark, clipsRange(50, 80), cfg, store)
    val hist = store.signatures.history
    assert(hist.size == 2)
    assert(hist.head.contains("\"create\"") && hist.last.contains("\"merge\""))
    assert(store.signatures.currentVersion == 1)
    // time travel: v0 has only the base rows
    assert(store.signatures.read(spark, 0).count() == 50)
    assert(store.signatures.read(spark).count() == 80)
  }
}

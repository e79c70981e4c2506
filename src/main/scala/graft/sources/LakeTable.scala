package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/**
 * Iceberg-shaped table layer over partitioned parquet: versioned snapshots
 * with an atomically-committed manifest, bucket-level copy-on-write, and
 * snapshot expiration — MERGE-INTO semantics with O(delta) write I/O.
 *
 * The sandbox ships no Iceberg/Delta runtime (SURVEY.md §7.0), so this shim
 * carries the table contract the engine needs — snapshot isolation, commit
 * metadata (lineage + metrics rows per the north rule), resume-from-last-
 * committed-snapshot, partition-pruned rewrites — with an API shaped so a
 * real Iceberg catalog drops in via config in production (every call site
 * goes through read/commit/commitDelta).
 *
 * Layout:
 *   <root>/<name>/data/v<NNN>/_bucket=<B>/part-*.parquet — immutable bucket data
 *   <root>/<name>/_snapshots/v<NNN>.json     — commit metadata
 *   <root>/<name>/_snapshots/v<NNN>.buckets  — "bucket<TAB>dataDir" per line;
 *       unTOUCHED buckets point at a PREVIOUS version's directory (the
 *       copy-on-write manifest reuse that makes a merge write O(delta) bytes
 *       while compute stays O(delta))
 *   <root>/<name>/_snapshots/v<NNN>.schema   — the snapshot's logical schema
 *       (StructType JSON); every read passes it to the parquet reader, so
 *       no read runs a schema-inference job over the data files
 *   <root>/<name>/_snapshots/LATEST          — pointer, atomic rename
 *
 * Replaces the reference's pickled detector state + positional FAISS files
 * (improved_faiss_detector.py:508-609): state lives in queryable tables, a
 * restart reads LATEST, a failed job never publishes a half-written snapshot,
 * and `expireSnapshots` + the store-level compact() are the v3 `cleanup`
 * (incremental_faiss_detector.py:775-810).
 */
final class LakeTable(val root: String, val name: String,
                      val bucketKey: String = "clip_id",
                      val numBuckets: Int = 32) {
  private def dir: Path = Paths.get(root, name)
  private def snapDir: Path = dir.resolve("_snapshots")
  private def latestFile: Path = snapDir.resolve("LATEST")

  def exists: Boolean = Files.exists(latestFile)

  def currentVersion: Int =
    if (!exists) -1 else new String(Files.readAllBytes(latestFile)).trim.toInt

  private def dataPath(v: Int): Path = dir.resolve(s"data/v$v")

  /** Stable bucket of the table's key column (hash partitioning by content,
    * never by position — explicit-key discipline per SURVEY §1.3). */
  def bucketOf: Column = pmod(xxhash64(col(bucketKey)), lit(numBuckets))

  private def bucketsFile(v: Int): Path = snapDir.resolve(s"v$v.buckets")
  private def schemaFile(v: Int): Path = snapDir.resolve(s"v$v.schema")

  /** Persist the snapshot's logical schema. Reads load it instead of
    * inferring one from parquet footers (a one-task Spark job per read), and
    * it keeps a committed-but-empty snapshot (e.g. compact() after every row
    * was tombstoned) readable — a zero-path spark.read.parquet throws. */
  private def writeSchema(v: Int, schema: StructType): Unit = {
    Files.createDirectories(snapDir)
    Files.write(schemaFile(v),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Scan of snapshot v's `dirs` under its recorded schema: no inference job
    * (path listing stays serial up to the parallelPartitionDiscovery
    * threshold of 32 dirs). */
  private def scan(spark: SparkSession, v: Int, dirs: Seq[String]): DataFrame = {
    require(Files.exists(schemaFile(v)), s"table $name v$v has no recorded schema")
    val schema = DataType.fromJson(new String(Files.readAllBytes(schemaFile(v))))
      .asInstanceOf[StructType]
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** bucket -> data dir for snapshot v (every bucket present). */
  def bucketMap(v: Int): Map[Int, String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(bucketsFile(v)).asScala.filter(_.nonEmpty).map { line =>
      val Array(b, p) = line.split("\t", 2)
      b.toInt -> p
    }.toMap
  }

  /** Read the latest committed snapshot (or a specific version). */
  def read(spark: SparkSession, version: Int = -1): DataFrame = {
    val v = if (version >= 0) version else currentVersion
    require(v >= 0, s"table $name has no committed snapshot")
    scan(spark, v, bucketMap(v).values.toSeq.distinct.sorted)
  }

  /** Bucket-pruned read: only the data directories of `buckets` are scanned
    * (the partition pruning that makes merge I/O O(delta) on the read side
    * too — a delta touching 3 of 32 buckets scans 3/32 of the table). */
  def readBuckets(spark: SparkSession, buckets: Set[Int],
                  version: Int = -1): DataFrame = {
    val v = if (version >= 0) version else currentVersion
    require(v >= 0, s"table $name has no committed snapshot")
    val dirs = bucketMap(v).filter(kv => buckets.contains(kv._1))
      .values.toSeq.distinct.sorted
    // Empty selection -> scan()'s schema-based empty frame, NEVER
    // read(spark).limit(0): spark.read.parquet EAGERLY lists its paths, and
    // above the parallelPartitionDiscovery threshold (32) that listing is a
    // Spark job with one task per bucket dir — a full-table O(B) listing
    // (measured: 2 x 4096 tasks, 10.5 s of a 37 s merge at B=4096) for a
    // call that returns zero rows by construction.
    scan(spark, v, dirs)
  }

  private def writeBuckets(df: DataFrame, v: Int,
                           numTasks: Option[Int] = None): Path = {
    val out = dataPath(v)
    // hash-distribute by the bucket column before the partitioned write
    // (Iceberg's `write.distribution-mode=hash`): each bucket lands wholly
    // in one task → exactly one file per non-empty bucket (assumes the
    // default spark.sql.files.maxRecordsPerFile=0 — rollover would split a
    // bucket's file). Without it every input partition writes its own
    // fragment into every bucket dir, and bucket-pruned reads pay (input
    // partitions × buckets) file opens — measured as the dominant
    // blocked-thread cost of small merges.
    //
    // Task count is a parallelism knob, never a correctness one: hash
    // partitioning on _bucket keeps every bucket whole in one task at ANY
    // partition count. Full commits spread buckets over the session's
    // spark.sql.shuffle.partitions (sized to the cluster by the operator);
    // delta commits pass an explicit cap so a small merge against a sized
    // store (DedupStore.sized → 2^18 buckets at 10^12 rows) schedules
    // O(touched-buckets) write tasks, not numBuckets near-empty ones —
    // pinning the shuffle to numBuckets made per-commit driver scheduling
    // O(B) regardless of delta size.
    val bucketed = df.withColumn("_bucket", bucketOf)
    // The count is EXPLICIT in both arms: a count-less repartition(cols) is
    // subject to AQE partition coalescing, which sees only the pre-write
    // shuffle bytes (tiny for a toy corpus) and folds the exchange to ~1
    // task — which then creates all B bucket files SERIALLY (measured:
    // 12.3 s vs 1.1 s for the same 100k-row create at B=4096; the same
    // pitfall LshCandidates pins for the salt). An explicit count is exempt
    // from coalescing, so file creation spreads across the session's
    // parallelism at any B.
    val spark = df.sparkSession
    val fullTasks = math.min(numBuckets,
      spark.conf.get("spark.sql.shuffle.partitions").toIntOption
        .getOrElse(spark.sparkContext.defaultParallelism))
    val parted = bucketed.repartition(numTasks.getOrElse(fullTasks), col("_bucket"))
    parted.write.mode("overwrite").partitionBy("_bucket").parquet(out.toString)
    out
  }

  private def publish(v: Int, operation: String, metrics: Map[String, Long],
                      buckets: Map[Int, String]): Int = {
    Files.createDirectories(snapDir)
    val metricsJson = metrics.map { case (k, mv) => s""""$k": $mv""" }
      .mkString("{", ", ", "}")
    val manifest =
      s"""{"version": $v, "operation": "$operation", "parent": ${v - 1},
         | "metrics": $metricsJson}""".stripMargin
    Files.write(snapDir.resolve(s"v$v.json"),
      manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val lines = buckets.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" }
    Files.write(bucketsFile(v),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // atomic publish: readers see the old snapshot until the rename lands
    val tmp = snapDir.resolve(s".LATEST.tmp$v")
    Files.write(tmp, v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, latestFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** Full-table commit: every bucket is rewritten. */
  def commit(df: DataFrame, operation: String,
             metrics: Map[String, Long] = Map.empty): Int = {
    val v = currentVersion + 1
    val out = writeBuckets(df, v)
    val buckets = (0 until numBuckets).map { b =>
      val p = out.resolve(s"_bucket=$b")
      // a bucket can be empty; point it at an empty marker dir so reads skip it
      b -> (if (Files.exists(p)) p.toString else "")
    }.filter(_._2.nonEmpty).toMap
    writeSchema(v, df.schema)
    publish(v, operation, metrics, buckets)
  }

  /**
   * O(delta) commit: `touchedRows` carries the COMPLETE new content of the
   * buckets in `touchedBuckets`; every other bucket's files are reused from
   * the previous snapshot via the manifest (no data copied or rewritten).
   */
  def commitDelta(touchedRows: DataFrame, touchedBuckets: Set[Int],
                  operation: String,
                  metrics: Map[String, Long] = Map.empty): Int = {
    val prev = currentVersion
    require(prev >= 0, s"commitDelta on empty table $name")
    if (touchedBuckets.isEmpty) {
      if (Files.exists(schemaFile(prev)))
        Files.copy(schemaFile(prev), schemaFile(prev + 1),
          StandardCopyOption.REPLACE_EXISTING): Unit
      return publish(prev + 1, operation, metrics, bucketMap(prev))
    }
    val v = prev + 1
    // O(touched) write tasks: a 3-bucket delta schedules 3, never numBuckets
    val out = writeBuckets(
      touchedRows.filter(bucketOf.isin(touchedBuckets.toSeq: _*)), v,
      numTasks = Some(math.min(numBuckets, math.max(1, touchedBuckets.size))))
    writeSchema(v, touchedRows.schema)
    val prevMap = bucketMap(prev)
    val newMap = (prevMap.keySet ++ touchedBuckets).flatMap { b =>
      if (touchedBuckets.contains(b)) {
        val p = out.resolve(s"_bucket=$b")
        if (Files.exists(p)) Some(b -> p.toString) else None // bucket emptied
      } else prevMap.get(b).map(b -> _)
    }.toMap
    publish(v, operation, metrics, newMap)
  }

  /** All commit manifests, oldest first (the table's lineage log). */
  def history: Seq[String] =
    if (!Files.exists(snapDir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.list(snapDir).iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d+\\.json"))
        .toSeq.sortBy(p => p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toInt)
        .map(p => new String(Files.readAllBytes(p)))
    }

  /** Metrics map of the latest commit manifest (lineage counters). */
  def latestMetrics: Map[String, Long] = {
    val v = currentVersion
    if (v < 0) Map.empty
    else {
      val txt = new String(Files.readAllBytes(snapDir.resolve(s"v$v.json")))
      val idx = txt.indexOf("\"metrics\"")
      if (idx < 0) Map.empty
      else """"([A-Za-z0-9_.]+)":\s*(-?\d+)""".r.findAllMatchIn(txt.substring(idx))
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
  }

  /** Committed versions, ascending. */
  def versions: Seq[Int] =
    if (!Files.exists(snapDir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.list(snapDir).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("v\\d+\\.buckets") =>
          s.stripPrefix("v").stripSuffix(".buckets").toInt }
        .toSeq.sorted
    }

  /**
   * Expire all snapshots but the newest `retainLast`: their manifests are
   * removed and any data directory no longer referenced by a retained
   * snapshot is deleted (copy-on-write means old bucket dirs may still back
   * the live snapshot — those are kept). Bounds store growth (v3 cleanup).
   */
  def expireSnapshots(retainLast: Int = 1): Unit = {
    val vs = versions
    if (vs.size <= retainLast) return
    val (expired, retained) = vs.splitAt(vs.size - retainLast)
    val referenced = retained.flatMap(v => bucketMap(v).values).toSet
    expired.foreach { v =>
      val d = dataPath(v)
      if (Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        // delete unreferenced bucket dirs; the version dir itself goes when empty
        Files.list(d).iterator().asScala.toSeq.foreach { bd =>
          if (!referenced.contains(bd.toString)) deleteRecursively(bd)
        }
        if (!Files.list(d).iterator().hasNext) Files.delete(d)
      }
      Files.deleteIfExists(snapDir.resolve(s"v$v.json"))
      Files.deleteIfExists(bucketsFile(v))
      Files.deleteIfExists(schemaFile(v))
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object LakeTable {
  def apply(root: String, name: String): LakeTable = new LakeTable(root, name)
  def apply(root: String, name: String, bucketKey: String): LakeTable =
    new LakeTable(root, name, bucketKey)
}

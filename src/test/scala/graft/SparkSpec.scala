package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      // same guard as SparkUtil: AQE re-renders the full plan explain string
      // per query-stage update, and the merge/search plans reference shared
      // subtrees whose TREE rendering multiplies — untruncated it can OOM
      // the driver on a deep plan (observed at 32g heap)
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.ui.explainMode", "simple")
      // a generated method over the JVM's 64 KB limit fails the spec instead
      // of silently falling back to interpreted execution
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.SparkUtil.localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

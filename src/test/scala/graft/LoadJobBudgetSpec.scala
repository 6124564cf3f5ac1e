package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.core.CacheHandle
import graft.inat.Inat
import graft.operators.MergeUpsert
import graft.sources.VersionedTable

/** Timing-free plan budgets for the catalog-load chain: the number of
  * Spark jobs two units run on [[InatFixture]], counted by
  * [[JobCounting]]. A plan change that adds a job, or runs the staged
  * batch twice, fails here without a quiet machine. The budgets are the
  * measured job counts; raising one needs a stated reason.
  */
class LoadJobBudgetSpec extends InatFixture with JobCounting {
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("budget").toString

  test("Inat.transform -> write stays within its job budget") {
    val out = tmp()
    val n = jobs {
      Inat.transform(photos, observations, observers, taxa)
        .write.mode("overwrite").parquet(out)
    }
    info(s"$n jobs")
    assert(n <= 10, s"$n jobs")
  }

  test("urlConflictFilterBloom -> mergeInto: within budget, batch runs once, released") {
    // start with no persisted RDD (suites run one at a time in the
    // forked test JVM), so the release below must free all this unit adds
    CheckpointBridge.releaseAllPersisted(spark)
    val root = tmp()
    VersionedTable.commit((0 until 200).map(i =>
      (s"k$i", s"https://ex.com/$i", s"old$i")).toDF("fid", "url", "title"),
      root)
    // counts the staged rows each time the staged lineage is computed
    val computed = spark.sparkContext.longAccumulator("staged rows")
    val tick = udf { (fid: String) => computed.add(1); fid }.asNondeterministic()
    // k150..k199 are re-pulls (same key and url); k200..k249 reuse the
    // urls of k0..k49 under new keys and are dropped; k250..k299 are new
    val staged = (150 until 300).map { i =>
      val u = if (i >= 200 && i < 250) i - 200 else i
      (s"k$i", s"https://ex.com/$u", s"new$i")
    }.toDF("fid", "url", "title")
      .withColumn("fid", tick(col("fid")))
    val caches = CacheHandle()
    val n = jobs {
      val kept = MergeUpsert.urlConflictFilterBloom(staged,
        VersionedTable.read(spark, root), "url", "fid", caches = caches)
      VersionedTable.mergeInto(spark, root, kept, Seq("fid"))
    }
    info(s"$n jobs")
    assert(n <= 5, s"$n jobs")
    assert(computed.value == 150L)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    caches.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val live = VersionedTable.read(spark, root)
    assert(live.count() == 250L)
    assert(live.filter(col("title").startsWith("new")).count() == 100L)
  }
}

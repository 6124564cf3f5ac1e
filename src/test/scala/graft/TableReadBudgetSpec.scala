package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetSchemaBridge
import org.apache.spark.sql.types.IntegerType

import graft.operators.Similarity

/** Timing-free read budget: opening a parquet table reads its schema
  * from one footer on the driver ([[ParquetSchemaBridge.read]]), so it
  * runs no Spark job, and the frame's schema is exactly the one Spark's
  * schema inference yields (nullability, field metadata, the
  * nanos-as-long encoding and partition columns included). Jobs are
  * counted by [[JobCounting]].
  */
class TableReadBudgetSpec extends SparkSpec with JobCounting {

  /** `read` opened with its job count, which must be 0. */
  private def opened(what: String)(read: => DataFrame): DataFrame = {
    var df: DataFrame = null
    val n = jobs { df = read }
    assert(n == 0, s"$what: opening ran $n jobs")
    df
  }

  test("Tables.apply runs no job and yields the inferred schema, every table") {
    for (name <- Tables.names) {
      val path = s"$sfDir/$name.parquet"
      val df = opened(name)(Tables(spark, sfDir, name))
      val inferred = spark.read.parquet(path)
      assert(ParquetSchemaBridge.read(spark, path).schema == inferred.schema,
        name)
      val expected =
        if (name == "events") Tables.normalizeEventTs(inferred) else inferred
      assert(df.schema == expected.schema, name)
    }
  }

  test("a part-file directory table (ScaleUp layout): no job, inferred " +
      "schema, same rows") {
    val dir = Files.createTempDirectory("parts").toString
    val orders = Tables(spark, sfDir, "orders")
    orders.repartition(3).write.parquet(s"$dir/orders.parquet")
    val df = opened("orders dir")(Tables(spark, dir, "orders"))
    assert(df.schema == spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(df.count() == orders.count())
    assert(df.exceptAll(orders).isEmpty)
  }

  test("a partitioned IVF index: inferred schema with the cell_id " +
      "partition column, same partition pruning") {
    import spark.implicits._
    val dim = 4
    val vecs = spark.range(0, 40).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        when(col("id") % dim === d, 1.0).otherwise(0.01)): _*)
        .as("embedding"))
    val centroids = (0 until dim).map(c =>
        (c.toLong, (0 until dim).map(d => if (d == c) 1.0 else 0.0)))
      .toDF("cell_id", "centroid")
    val dir = Files.createTempDirectory("ivfread").toString
    Similarity.writeIvfIndex(vecs, centroids, "vec_id", "embedding", dir)
    val idx = opened("ivf index")(Similarity.readIvfIndex(spark, dir))
    val inferred = spark.read.parquet(Similarity.currentIvfRoot(spark, dir))
    assert(idx.schema == inferred.schema)
    assert(idx.schema.last.name == "cell_id")
    assert(idx.schema("cell_id").dataType == IntegerType)

    // (rows, pruned scan's partition filters, files it read)
    def cell2(df: DataFrame) = {
      val f = df.filter(col("cell_id") === 2).select("vec_id")
      val ids = f.collect().map(_.getLong(0)).sorted.toSeq
      val scan = f.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get
      (ids, scan.partitionFilters.map(_.sql), scan.metrics("numFiles").value)
    }
    val (ids, filters, files) = cell2(idx)
    assert((ids, filters, files) == cell2(inferred))
    assert(ids == (2L until 40L by 4L))
    assert(filters.nonEmpty)
    assert(files > 0 && files < idx.inputFiles.length)
  }

  test("q02 stays within its job budget") {
    val q02 = SparkEntry.queries("q02_star_join")
    val n = jobs { q02(spark, sfDir).queryExecution.toRdd.count() }
    info(s"$n jobs")
    assert(n <= 7, s"$n jobs")
  }
}

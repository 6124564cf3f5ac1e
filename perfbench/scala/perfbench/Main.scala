package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.{MapType, StringType}

import graft.SparkEntry
import graft.inat.Inat
import graft.operators.{MediaClean, MergeUpsert}
import graft.sources.{Tsv, VersionedTable}

/** One benchmark run in a fresh JVM: builds the session, runs the
  * workload as a closed loop (one client thread, ops back to back) for
  * at least `--seconds`, writes what the correctness checks need under
  * `--work/check`, and writes raw timings to `--out` as JSON. Metrics
  * are derived from that file by `perfbench/run.py`.
  *
  * usage: perfbench.Main --workload W --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE --cfg k=v,k=v
  */
object Main {
  /** One op: its wall, its process CPU and the JIT compiler's share of
    * it, the Spark jobs and tasks it ran, the classes Spark's code
    * generator compiled for it, and the heap it still held when it ended.
    */
  final case class Op(id: String, kind: String, round: Int, wall: Double,
      cpu: Double, jit: Double, items: Long, ok: Boolean, jobs: Long, tasks: Long,
      classes: Long, heapMb: Double)

  val LiveKey = Seq("provider", "foreign_identifier")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cfg = a.getOrElse("cfg", "").split(",").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val bench = new Main(a("workload"), a("seconds").toDouble,
      a("trace") == "1", a("data"), a("work"), cfg)
    val json = try bench.run() finally bench.spark.stop()
    Files.writeString(Paths.get(a("out")), json)
  }

  /** Exactly `graft.Bench.main`'s SQL configuration, sized to the host's cores. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU-seconds this JVM has used so far, all threads (driver, local
    * executors, GC, JIT).
    */
  def cpuNow(): Double = osBean.getProcessCpuTime / 1e9

  /** Classes Spark's whole-stage code generator has compiled so far;
    * cache hits are not counted.
    */
  def codegenClassesNow(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** CPU-seconds the HotSpot JIT compiler threads have used so far, read
    * from /proc/self/task (the launcher keeps these threads alive for the
    * whole run). JMX does not show them.
    */
  def jitNow(): Double = {
    var ticks = 0L
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).foreach { t =>
      try {
        if (Files.readString(Paths.get(t.getPath, "comm")).contains("CompilerThre")) {
          val stat = Files.readString(Paths.get(t.getPath, "stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          ticks += f(11).toLong + f(12).toLong // utime + stime
        }
      } catch { case _: java.io.IOException => } // the thread has ended
    }
    ticks / 100.0 // USER_HZ
  }

  /** Heap in use after a full collection. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def dirBytes(p: java.io.File): Long =
    if (p.isDirectory) Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (p.getName.endsWith(".parquet")) p.length() else 0L

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

final class Main(workload: String, seconds: Double, trace: Boolean,
    data: String, work: String, cfg: Map[String, String]) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  val spark: SparkSession = session(work)
  private val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)
  private val tracer = if (trace) Some(new Tracer(spark, listener)) else None
  /** True while the traced round runs: spans open and materialize. */
  private var traced = false
  private var tracedRound = -1
  private val ops = mutable.ArrayBuffer[Op]()
  /** (wall, cpu) of each state seeding */
  private val seeds = mutable.ArrayBuffer[(Double, Double)]()
  private val extra = mutable.LinkedHashMap[String, Double]()
  private val digests = mutable.LinkedHashMap[String, String]()
  private val errors = mutable.ArrayBuffer[String]()
  private val check = s"$work/check"

  private def clean(): Unit = {
    spark.catalog.clearCache()
    CheckpointBridge.releaseAllPersisted(spark)
  }

  /** Runs one op and records it. Outside its timed window the op's Spark
    * events are drained into its counters, and a full collection then
    * shows the heap the op still holds before the next op clears caches.
    */
  private def op(id: String, kind: String, round: Int, items: Long)(f: => Unit): Unit = {
    clean()
    if (traced) tracer.get.beginOp(s"r$round/$id")
    PerfbenchBus.drain(spark.sparkContext)
    val counters = new Counters
    listener.op = counters
    val t0 = System.nanoTime()
    val c0 = cpuNow()
    val j0 = jitNow()
    val k0 = codegenClassesNow()
    val ok = try { f; true } catch {
      case e: Throwable =>
        errors += s"$id: $e"
        System.err.println(s"perfbench: op $id failed: $e")
        false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuNow() - c0
    val jit = jitNow() - j0
    val classes = codegenClassesNow() - k0
    if (traced) tracer.get.endOp(wall)
    PerfbenchBus.drain(spark.sparkContext)
    listener.op = null
    ops += Op(id, kind, round, wall, cpu, jit, items, ok, counters.jobs, counters.tasks,
      classes, heapAfterGcMb())
  }

  private def sp[T](name: String)(f: => T): T =
    if (traced) tracer.get.span(name)(f) else f

  /** Traced runs materialize each span's output at its boundary. */
  private def mat(df: DataFrame): DataFrame =
    if (traced) { val p = df.persist(); p.count(); p } else df

  /** (wall, process CPU) of set-up work */
  private def time(f: => Unit): (Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = cpuNow()
    f
    ((System.nanoTime() - t0) / 1e9, cpuNow() - c0)
  }

  private def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def rm(path: String): Unit = graft.core.TempDirs.deleteRecursively(path)

  def run(): String = {
    // warm the session (FileSystem init, codegen compiler), as Bench does
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionCpu = cpuNow()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val loop: Int => Unit = workload match {
      case "catalog_load" => catalogLoad()
      case "query_mix" => queryMix()
    }
    val minRounds = cfg("min_rounds").toInt
    var round = 0
    if (trace) {
      // the untraced rounds, the last of which is the reference for the
      // tracing overhead, then the traced round
      while (round < minRounds) { loop(round); round += 1 }
      tracedRound = round
      traced = true; loop(round); traced = false
    } else {
      while (round < minRounds || elapsed < seconds) { loop(round); round += 1 }
    }
    finish(sessionS, sessionCpu)
  }

  private def finish(sessionS: Double, sessionCpu: Double): String = {
    clean()
    val opsJson = ops.map(o =>
      s"""{"id":${q(o.id)},"kind":${q(o.kind)},"round":${o.round},"wall":${num(o.wall)},"cpu":${num(o.cpu)},"jit":${num(o.jit)},"items":${o.items},"ok":${o.ok},"jobs":${o.jobs},"tasks":${o.tasks},"classes":${o.classes},"heap_mb":${num(o.heapMb)}}""")
      .mkString("[", ",", "]")
    def counters(c: Counters) =
      s"""{"wall_s":${num(c.wallS)},"jobs":${c.jobs},"tasks":${c.tasks},"sched_wait_s":${num(c.schedWaitS)},"exec_cpu_s":${num(c.execCpuS)},"shuffle_bytes":${c.shuffleBytes},"records_written":${c.recordsWritten}}"""
    val spans = tracer.map(_.totals.map { case (n, c) => s"${q(n)}:${counters(c)}" }
      .mkString("{", ",", "}")).getOrElse("{}")
    val records = tracer.map(_.records.map { case (op, n, c) =>
      s"""{"op":${q(op)},"span":${q(n)},"counters":${counters(c)}}"""
    }.mkString("[", ",", "]")).getOrElse("[]")
    val cover = tracer.map(_.opCover.map { case (id, w, s) =>
      s"""{"op":${q(id)},"wall_s":${num(w)},"span_s":${num(s)},"remainder_s":${num(w - s)}}"""
    }.mkString("[", ",", "]")).getOrElse("[]")
    s"""{"workload":${q(workload)},"session_s":${num(sessionS)},"session_cpu_s":${num(sessionCpu)},"seed_s":${seeds.map(s => num(s._1)).mkString("[", ",", "]")},"seed_cpu_s":${seeds.map(s => num(s._2)).mkString("[", ",", "]")},"peak_rss_mb":${num(peakRssMb())},"traced_round":$tracedRound,"ops":$opsJson,"spans":$spans,"span_records":$records,"op_cover":$cover,"extra":${extra.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")},"digests":${digests.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")},"errors":${errors.map(q).mkString("[", ",", "]")}}"""
  }

  private def writeCheck(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$check/$name")

  private def writeOracles(names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(check))
    Files.writeString(Paths.get(s"$check/oracle_sql.json"),
      names.filter(sql.contains).map(n => s"${q(n)}:${q(sql(n))}")
        .mkString("{", ",", "}"), StandardCharsets.UTF_8)
  }

  // ---------------------------------------------------------------- load

  /** Inat.transform's catalog records in TSV image-v001 column order. */
  private def imageV001(recs: DataFrame): DataFrame = recs.select(
    col("foreign_identifier"), col("foreign_landing_url"), col("url"),
    lit(null).cast("string").as("thumbnail_url"),
    regexp_extract(col("url"), "\\.([a-z]+)$", 1).as("filetype"),
    lit(null).cast("int").as("filesize"),
    col("license").as("license_"), col("license_version"), col("creator"),
    lit(null).cast("string").as("creator_url"), col("title"),
    to_json(map(lit("license_url"), concat(
      lit("https://creativecommons.org/licenses/"), col("license"), lit("/"),
      col("license_version"), lit("/")))).as("meta_data"),
    to_json(col("tags")).as("tags"),
    lit(null).cast("string").as("category"), lit("f").as("watermarked"),
    col("provider"), lit(null).cast("string").as("source"),
    lit("provider_api").as("ingestion_type"), col("width"), col("height"))

  /** One daily batch through the load chain into the live table at `root`.
    * Returns the staged row count when traced (else 0).
    */
  private def loadDay(d: Int, root: String): Long = {
    val dims = Seq("observations", "observers", "taxa")
      .map(t => Inat.readTable(spark, s"$data/$t"))
    val photos = Inat.readTable(spark, s"$data/day_$d/photos")
    val recs = sp("inat.transform") {
      mat(imageV001(Inat.transform(photos, dims(0), dims(1), dims(2))))
    }
    val tsvDir = s"$work/tsv/day_$d"
    val loaded = sp("sources.tsv_stage") {
      Tsv.write(recs, tsvDir)
      mat(Tsv.read(spark, tsvDir))
    }
    val cleaned = sp("operators.media_clean") {
      mat(MediaClean.cleanMediaMetadata(loaded
        .withColumn("meta_data",
          from_json(col("meta_data"), MapType(StringType, StringType)))
        .withColumn("license_url", element_at(col("meta_data"), "license_url"))
        .withColumn("raw_license_url",
          element_at(col("meta_data"), "raw_license_url"))
        .withColumnRenamed("license_", "license"), "inaturalist"))
    }
    val staged = sp("operators.load_filter") {
      val required = MergeUpsert.filterRequired(cleaned,
        Seq("provider", "foreign_identifier", "url", "license"))
      val oneper = MergeUpsert.dedupeByKey(required,
        Seq(col("provider"), md5(col("foreign_identifier"))), col("url"))
      mat(if (VersionedTable.currentVersion(spark, root).isEmpty) oneper
        else MergeUpsert.urlConflictFilterBloom(oneper,
          VersionedTable.read(spark, root), "url", "foreign_identifier"))
    }
    val stagedRows = if (traced) staged.count() else 0L
    sp("sources.merge_commit") {
      VersionedTable.mergeInto(spark, root, staged, LiveKey)
    }
    rm(tsvDir)
    stagedRows
  }

  /** One round is one chain of daily loads into a fresh live table. Day 0
    * is the state seeding, loaded `seedings` times (the last copy stays)
    * so set-up has a median; each later day is one batch op.
    */
  private def catalogLoad(): Int => Unit = {
    val days = cfg("days").toInt
    val seedings = cfg("seedings").toInt
    val photoRows = (0 until days).map(d =>
      Inat.readTable(spark, s"$data/day_$d/photos").count())
    round => {
      val root = s"$work/live_r$round"
      // state seeding is never traced
      val wasTraced = traced
      traced = false
      for (_ <- 0 until seedings) {
        rm(root)
        seeds += time { loadDay(0, root) }
      }
      traced = wasTraced
      var staged = 0L
      for (d <- 1 until days) {
        op(s"batch-$d", "batch", round, photoRows(d)) {
          staged += loadDay(d, root)
        }
      }
      if (traced) {
        val written = tracer.get.records.collect {
          case (op, "sources.merge_commit", c) if op.startsWith(s"r$round/") => c.recordsWritten
        }.sum
        extra("sources.merge_commit.rows_written_per_staged_row") =
          written.toDouble / math.max(1L, staged)
      }
      val live = VersionedTable.read(spark, root)
      val v = VersionedTable.currentVersion(spark, root).get
      extra("stored_bytes_per_row") =
        dirBytes(new java.io.File(s"$root/_v" + f"$v%08d")).toDouble /
          math.max(1L, live.count())
      digests(s"live_r$round") = digest(live.select(LiveKey.map(col) ++
        Seq("url", "license", "license_version", "width", "height", "title",
          "creator").map(col): _*))
      writeCheck(live.select("provider", "foreign_identifier", "url",
        "license", "license_version", "width", "height", "title", "creator"),
        "live")
      rm(root)
    }
  }

  // --------------------------------------------------------------- query

  private def queryMix(): Int => Unit = {
    val names = cfg("queries").split("\\+").toSeq
    val packOf = SparkEntry.packs.flatMap(p =>
      p.all.map(_.name -> p.getClass.getSimpleName.stripSuffix("$"))).toMap
    val fns = SparkEntry.queries
    writeOracles(names)
    round => {
      for (n <- names) op(n, if (round == 0) "cold" else "warm", round, 1L) {
        sp(s"queries.${packOf(n)}") {
          val df = fns(n)(spark, data)
          // the cold pass writes each result for the oracle check, as
          // graft.Verify does; warm passes materialize as graft.Bench does
          if (round == 0) writeCheck(df, n) else df.queryExecution.toRdd.count()
        }
      }
    }
  }
}

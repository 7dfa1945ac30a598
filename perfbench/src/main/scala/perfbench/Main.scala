package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry}

/** One operation of a workload: `run` makes the engine call and returns
  * the frame to materialize, if the call returns one. `store` names the
  * store a store verb acts on, `rows` the input rows handed to it. */
final case class Op(name: String, cls: String, run: SparkSession => Option[DataFrame],
                    store: String = "", rows: Long = 0, probeDir: String = "")

/** A workload: its set-up (the store builds, for stores),
  * the operations of each timed pass, and the output check that runs
  * once after the timed passes. */
trait Workload {
  def setup(spark: SparkSession): Map[String, Any]
  def pass(i: Int): Seq[Op]
  /** Timed passes in every run, whatever `--seconds` asks: the cold
    * pass plus enough warm ones for about 30 warm operation samples. */
  def minPasses: Int
  /** Checks run once, outside the timers. Each entry names a check and
    * says whether it passed; raster checks leave their rows for the
    * DuckDB comparison instead. */
  def check(spark: SparkSession, dir: String): Seq[Map[String, Any]]
  /** Check right after the cold pass rather than after the last pass:
    * the check's executions then finish the JIT warm-up, and the warm
    * passes measure a steady state. */
  def checkAfterCold: Boolean = false
  /** Registry operations whose outputs [[check]] leaves for DuckDB. */
  def checked: Seq[String] = Nil
  def extra(spark: SparkSession): Map[String, Any] = Map.empty
}

/** The benchmark's JVM side. It builds the session, sets up the
  * workload, runs timed passes of its operations as a closed loop with
  * one client, checks outputs, and writes every raw measurement to
  * `<out>/report.json` for run.py to turn into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR */
object Main {
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  /** Wall clock in epoch milliseconds at nanosecond resolution, on the
    * same axis as the millisecond timestamps Spark's listeners report. */
  def now: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    val traced = a("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val rec = if (traced) Some(new Recorder) else None

    val setupT0 = now
    val cg0 = codegen()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // the engine's bench sizing: 100 generated classes would evict
      // each other between passes and turn warm passes into cold ones
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config(graft.sources.Tables.conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$out/checkpoint")
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    val sessionS = (now - setupT0) / 1000
    warmUp(spark)
    val warmUpS = (now - setupT0) / 1000 - sessionS
    val wl: Workload = a("workload") match {
      case "raster_x10" => new Raster(a("data"))
      case "store_rw" => new StoreRw(spark, a("data"), s"$out/stores", a("seed").toLong)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setupInfo = wl.setup(spark)
    val setupS = (now - setupT0) / 1000

    val ops = ArrayBuffer[Map[String, Any]]()
    val passCodegen = ArrayBuffer[Map[String, Any]]()
    val heapMb = ArrayBuffer(retainedHeapMb())
    val t0 = now
    var p = 0
    var checks = Seq.empty[Map[String, Any]]
    var checkS = 0.0
    def checkNow(): Unit = {
      val c0 = now
      checks = wl.check(spark, s"$out/check")
      checkS = (now - c0) / 1000
    }
    while (p < wl.minPasses || now - t0 - checkS * 1000 < a("seconds").toDouble * 1000) {
      for ((op, i) <- wl.pass(p).zipWithIndex) ops += runOp(spark, traced, p, i, op)
      passCodegen += codegen()
      if (p == 0 && wl.checkAfterCold) checkNow()
      heapMb += retainedHeapMb()
      p += 1
    }
    val passesEnd = now
    if (!wl.checkAfterCold) checkNow()
    val extra = wl.extra(spark)
    rec.foreach(settle)
    val marks = Map("jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
      "setup_start" -> setupT0, "passes_start" -> t0, "passes_end" -> passesEnd,
      "end" -> now, "check_s" -> checkS)

    val report = Map(
      "workload" -> a("workload"), "seed" -> a("seed"), "trace" -> traced,
      "nproc" -> nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "setup_s" -> setupS, "marks" -> marks,
      "setup" -> (setupInfo ++ Map("session_s" -> sessionS, "warm_up_s" -> warmUpS)),
      "codegen" -> Map("start" -> cg0, "passes" -> passCodegen.toSeq),
      "ops" -> ops.toSeq, "heap_mb" -> heapMb.toSeq, "checks" -> checks, "extra" -> extra,
      "oracle" -> SparkEntry.oracleSql.filter { case (k, _) => wl.checked.contains(k) },
      "trace_data" -> rec.map { r =>
        import scala.jdk.CollectionConverters._
        Map("jobs" -> r.jobs.asScala.toSeq, "job_ends" -> r.jobEnds.asScala.toSeq,
          "stages" -> r.stages.asScala.toSeq, "stage_totals" -> r.stageTotals,
          "plans" -> r.plans.asScala.toSeq)
      }.orNull)
    Json.writeValue(new File(s"$out/report.json"), report)
    spark.stop()
  }

  /** JIT and codegen warm-up, part of set-up, of the framework paths
    * every workload uses (scan, aggregate, window, broadcast join, sort,
    * array functions, noop sink), so the first operation does not pay
    * for the session's own start. */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val base = spark.range(0, 10000).select((col("id") % 97).as("k"), col("id").as("v"))
    val dim = spark.range(0, 97).select(col("id").as("k"), (col("id") * 2).as("y"))
    base.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
      .join(broadcast(dim), "k")
      .select(col("k"), col("rn"), col("y"), md5(col("v").cast("string")).as("h"),
        explode(sequence(lit(0L), col("k") % 3)).as("e"))
      .groupBy("k").agg(max("h"), sum("e"))
      .orderBy("k").limit(50)
      .write.format("noop").mode("overwrite").save()
  }

  /** Heap left after a full, untimed GC. Taken before the first pass
    * and after each pass, so each pass also starts without the
    * previous one's garbage. The second GC collects what Spark's
    * ContextCleaner released in reaction to the first. */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Runs one operation: the timed engine call and materialization,
    * then the untimed cache release the engine's harnesses also pay. */
  private def runOp(spark: SparkSession, traced: Boolean, pass: Int, i: Int,
                    op: Op): Map[String, Any] = {
    val id = s"$pass.$i.${op.name}"
    val before = if (op.probeDir.nonEmpty) Disk.sizes(op.probeDir) else Map.empty[String, Long]
    if (traced) spark.sparkContext.setLocalProperty(Recorder.OpKey, id)
    val t0 = now
    var tFn = Double.NaN
    var analysis: Seq[Long] = Nil
    var error = ""
    try {
      val df = op.run(spark)
      tFn = now
      df.foreach { d =>
        if (traced) analysis = d.queryExecution.tracker.phases.get("analysis")
          .map(p => Seq(p.startTimeMs, p.endTimeMs)).getOrElse(Nil)
        d.write.format("noop").mode("overwrite").save()
      }
    } catch { case NonFatal(e) =>
      error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    }
    val tAct = now
    if (tFn.isNaN) tFn = tAct
    Caches.releaseAll(blocking = true)
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val tEnd = now
    if (traced) spark.sparkContext.setLocalProperty(Recorder.OpKey, null)
    val rewritten = if (op.probeDir.isEmpty) 0L else {
      val after = Disk.sizes(op.probeDir)
      after.collect { case (f, n) if !before.contains(f) => n }.sum
    }
    Map("id" -> id, "pass" -> pass, "name" -> op.name, "cls" -> op.cls, "store" -> op.store,
      "rows" -> op.rows, "t0" -> t0, "t_fn" -> tFn, "t_act" -> tAct, "t_end" -> tEnd,
      "error" -> error, "persisted_after" -> persisted,
      "analysis" -> analysis, "bytes_rewritten" -> rewritten)
  }

  /** Cumulative Janino compilations and an estimate of their total
    * milliseconds (exact while the histogram still holds every sample). */
  private def codegen(): Map[String, Any] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val ms = if (h.getCount <= snap.size) snap.getValues.sum.toDouble else h.getCount * snap.getMean
    Map("count" -> h.getCount, "ms" -> ms)
  }

  /** Listener events are delivered asynchronously: wait until every
    * started job has ended and no new event arrived for a while. */
  private def settle(r: Recorder): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    var last = -1L
    while ((r.seen != last || r.openJobs > 0) && System.nanoTime() < deadline) {
      last = r.seen
      Thread.sleep(300)
    }
  }
}

/** File listings used for store sizes and compaction output. */
object Disk {
  /** Every regular file under `dir`, with its size in bytes. */
  def sizes(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(walk)
        else out += f.getPath -> f.length
      walk(root)
      out.result()
    }
  }
}

/** The weather4cast raster pipeline over a 10x key-count scale-out of
  * the events table: the registry's raster operations, by name. It
  * stresses scan, window and shuffle execution and bypasses eager
  * construct jobs and the persisted stores. */
final class Raster(data: String) extends Workload {
  private val q = SparkEntry.queries
  private val ops = Raster.Ops.map(n => Op(n, "query", s => Some(q(n)(s, data))))

  def setup(spark: SparkSession): Map[String, Any] = Map.empty
  def pass(i: Int): Seq[Op] = ops
  def minPasses: Int = 3
  override def checked: Seq[String] = Raster.Ops
  override def checkAfterCold: Boolean = true

  def check(spark: SparkSession, dir: String): Seq[Map[String, Any]] =
    Raster.Ops.map { n =>
      val err = try {
        q(n)(spark, data).write.mode("overwrite").parquet(s"$dir/$n"); ""
      } catch { case NonFatal(e) => s"${e.getClass.getName}: ${e.getMessage}".take(300) }
      Caches.releaseAll(blocking = true)
      spark.catalog.clearCache()
      Map("name" -> n, "kind" -> "oracle", "path" -> s"$dir/$n", "error" -> err)
    }
}

object Raster {
  /** The paper's chain: catalog scan, priority dedup, valid starts,
    * sequence assembly, static join, scalar decode, impute, Gram and
    * ridge blend, ConvGRU, windows, warp and packed sink. */
  val Ops: Seq[String] = Seq("s1_catalog_scan", "s4_priority_dedup", "p5_valid_starts",
    "j2_sequence_assemble", "j1_broadcast_dim", "n1_minmax_decode", "a1_cond_mean_impute",
    "a3_gram_matrix", "a4_ridge_weights", "ens_fit_blend", "x1_conv_stencil", "x2_convgru",
    "w1_seq36_range", "w9_interp_fill", "n14_bilinear_warp", "s2_raster_pack_decode",
    "pipe_submit_e2e")
}

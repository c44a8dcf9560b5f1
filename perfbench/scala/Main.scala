package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{BuildMeter, OpCaches}
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the tracer and its
  * directories (generated inputs, scratch output, benchmark sources). */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val input: String, val work: String,
                    val benchDir: String) {
  /** Most pipeline caches live at any release, over the whole run. */
  var trackedMax = 0

  /** `OpCaches.releaseAll()` as a caller runs it at the end of an
    * operation, noting how many caches it found. */
  def releaseAll(): Unit = {
    trackedMax = math.max(trackedMax, OpCaches.trackedCount)
    tracer.span("operators.OpCaches.releaseAll") { OpCaches.releaseAll() }
  }
}

/** One benchmark workload, driven as a single client in a closed loop. */
trait Workload {
  /** One-time builds and the warm-up operation(s), before timing. */
  def setup(): Unit
  /** How many operations the generated inputs support. */
  def maxOps: Int
  /** Operation `i`; returns the number of input items it completed. */
  def op(i: Int): Long
  /** Untimed bookkeeping and output checks after operation `i`:
    * failure messages. */
  def afterOp(i: Int): Seq[String] = Seq.empty
  /** Untimed checks of the final state after `ops` operations, as
    * (operation index, message); index -1 blames the setup. */
  def checkEnd(ops: Int): Seq[(Int, String)] = Seq.empty
  /** Bytes the workload left in storage per generated input byte. */
  def storedBytesPerInputByte(ops: Int): Double
  /** Per-layer values the workload measures itself. */
  def layerValues: Map[String, Double] = Map.empty
  /** Input sizes, reported next to the program's caches. */
  def sizes: Map[String, Any]
}

/** Runs one workload and writes its results as JSON.
  *
  * Args: --workload NAME --seconds N --trace 0|1 --input DIR --work DIR
  *       --bench DIR --out FILE [--spans FILE]
  *
  * The timed phase runs operations back to back until their summed time
  * reaches --seconds, and at least [[MinOps]] of them; bookkeeping between operations is not timed, and
  * the output checks run after the timed phase. With
  * --trace 1 the setup and every second operation are traced, and the
  * other operations give the untraced times the tracing overhead is
  * measured against. */
object Main {
  /** A pass that outlasts --seconds alone would otherwise leave a single
    * latency sample, and a run-to-run change in the operation count. */
  val MinOps = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, a("work"))
    val tracer = new Tracer(spark, trace)
    val h = new Harness(spark, tracer, a("input"), a("work"), a("bench"))
    val w: Workload = a("workload") match {
      case "lake_ingest"     => new LakeIngest(h)
      case "corpus_curation" => new CorpusCuration(h)
      case "retrieval_serve" => new RetrievalServe(h)
      case other => sys.error(s"unknown workload $other")
    }

    tracer.recording = trace
    val build0 = BuildMeter.seconds
    tracer.span("setup", "setup") { w.setup() }
    tracer.recording = false
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val buildSetup = BuildMeter.seconds - build0
    val baseTracked = OpCaches.trackedCount
    val baseRdds = spark.sparkContext.getPersistentRDDs.size

    val lat = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val failed = mutable.LinkedHashMap.empty[Int, String]
    var items = 0L
    var timedNs = 0L
    var trackedAfter, rddsAfter = 0
    val build1 = BuildMeter.seconds
    var i = 0
    while ((timedNs < seconds * 1e9 || i < MinOps) && i < w.maxOps) {
      val traced = trace && i % 2 == 1
      tracer.recording = traced
      tracer.beginOp(i)
      val t0 = System.nanoTime()
      val r = try Right(tracer.span("op", "op") { w.op(i) })
        catch { case e: Exception => Left(e) }
      val dt = System.nanoTime() - t0
      tracer.recording = false
      timedNs += dt
      lat += ((dt / 1e9, traced))
      r match {
        case Right(n) => items += n
        case Left(e) => failed(i) = s"op $i failed: $e"
      }
      trackedAfter = math.max(trackedAfter, OpCaches.trackedCount - baseTracked)
      rddsAfter = math.max(rddsAfter,
        spark.sparkContext.getPersistentRDDs.size - baseRdds)
      if (r.isRight) w.afterOp(i).headOption.foreach(m => failed(i) = s"op $i: $m")
      i += 1
    }
    val ops = i
    val buildTimed = BuildMeter.seconds - build1
    OpCaches.releaseAll()
    spark.catalog.clearCache()
    val heapMb = settledHeapMb()
    var setupFailed = Option.empty[String]
    w.checkEnd(ops).foreach { case (k, m) =>
      if (k < 0) setupFailed = Some(m) else if (!failed.contains(k)) failed(k) = m
    }

    val untraced = lat.filterNot(_._2).map(_._1).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "items_per_s" -> items / (timedNs / 1e9),
      "op_p50_s" -> quantile(untraced, 0.5),
      "op_p90_s" -> quantile(untraced, 0.9),
      "stored_bytes_per_input_byte" -> w.storedBytesPerInputByte(ops),
      "retained_heap_mb" -> heapMb,
      "error_rate" -> failed.size.toDouble / math.max(ops, 1))

    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers ++= Layers.WorkloadOwn.map(_ -> 0.0) ++ w.layerValues
    layers("operators.BuildMeter.build_setup_s") = buildSetup
    layers("operators.BuildMeter.build_timed_s") = buildTimed
    layers("operators.OpCaches.tracked_max") = h.trackedMax
    layers("operators.OpCaches.tracked_after_release") = trackedAfter
    layers("spark.persisted_rdds_after_release") = rddsAfter
    if (trace) {
      tracer.finish()
      layers ++= Layers.fromSpans(tracer, cores)
      val tracedLat = lat.filter(_._2).map(_._1).toSeq
      layers("trace.overhead_s") =
        if (tracedLat.isEmpty || untraced.isEmpty) 0.0
        else quantile(tracedLat, 0.5) - quantile(untraced, 0.5)
      a.get("spans").foreach(p => writeFile(p, Json.write(tracer.toJson)))
    }

    val result = Map(
      "workload" -> a("workload"),
      "correct" -> (failed.isEmpty && setupFailed.isEmpty && ops > 0),
      "attempted" -> ops,
      "failed" -> failed.size,
      "op_samples" -> untraced.size,
      "timed_s" -> timedNs / 1e9,
      "op_s" -> lat.map(_._1).toSeq,
      "end_to_end" -> endToEnd,
      "per_layer" -> layers,
      "failures" -> (setupFailed.toSeq ++ failed.values).take(20),
      "sizes" -> (w.sizes ++ Map(
        "spark_storage_memory_mb" -> storageMemoryMb(spark),
        "derived_cache_tables" -> derivedTables(h.work),
        "codegen_cache_entries" -> 4096,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)),
      "settings" -> settings(spark))
    writeFile(a("out"), Json.write(result))
    spark.stop()
    System.exit(0)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "8g")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Logs.quietKnownNoise()
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  private def settings(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.driver.maxResultSize"
    }.toMap,
    "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).toSeq,
    "graft_extensions" -> true)

  /** Used heap after full collections at the end of the timed phase, once
    * every cache is released (before the output checks run).
    * Spark's context cleaner frees broadcast and shuffle blocks only after
    * a collection finds their handles unreachable, so collect until the
    * figure stops falling. */
  private def settledHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var prev = Double.MaxValue
    var cur = used
    var n = 0
    while (n < 3 || (n < 10 && prev - cur > 0.5)) {
      prev = cur
      System.gc()
      Thread.sleep(300)
      cur = used
      n += 1
    }
    cur
  }

  private def storageMemoryMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0

  /** DerivedCache's base directories: it makes them under java.io.tmpdir,
    * which the run points at `work/tmp`. */
  def derivedDirs(work: String): Seq[java.io.File] =
    Option(new java.io.File(s"$work/tmp").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft-derived")).toSeq

  private def derivedTables(work: String): Int =
    derivedDirs(work).flatMap(d => Option(d.listFiles()).getOrElse(Array.empty)).length

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** Bytes under `path`, recursively. */
  def du(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length
    walk(new java.io.File(path))
  }

  def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s + "\n")
}

/** Per-layer metrics from the traced operations' spans. A call's time is
  * the inclusive wall time of its span plus its action spans (named
  * `call/action`), summed within an operation; the metric is the median
  * over traced operations. Setup-only builds are summed over the setup. */
object Layers {
  /** Values a workload measures itself; 0 on the workloads without them. */
  val WorkloadOwn: Seq[String] = Seq(
    "etl.CatalogRegistry.partitions", "operators.Dedup.near_dup_recall",
    "operators.Decontaminate.recall", "operators.HybridSearch.pruned_overlap",
    "operators.HybridSearch.audit_tracked",
    "operators.HybridSearch.audit_persisted_after_release")
  val Calls: Seq[String] = Seq(
    "etl.CsvIngest.read", "etl.PartitionedWriter.write",
    "etl.CatalogRegistry.upsertExternal", "etl.SqlTransform.run",
    "functions.TextFns.quality", "operators.Dedup.exact",
    "operators.Dedup.minhashLshPairs", "operators.Dedup.minhashLshClusters",
    "operators.Decontaminate.contaminated", "operators.Sampling.trainValTest",
    "operators.HybridSearch.rankedTable_hit",
    "operators.HybridSearch.bm25RetrieveFromRanked",
    "operators.HybridSearch.bm25RetrieveImpactFromRanked",
    "operators.OpCaches.releaseAll")
  val SetupCalls: Seq[String] = Seq(
    "operators.DocTerms.table", "operators.HybridSearch.rankedTable_build")
  val Engine: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.planning_s",
    "spark.executor.run_s", "spark.executor.cpu_s",
    "spark.shuffle.write_bytes", "spark.shuffle.read_bytes",
    "spark.shuffle.fetch_wait_s", "spark.spill_bytes", "spark.input_bytes",
    "spark.output_bytes", "spark.codegen.compiles", "spark.codegen.compile_s",
    "jvm.jit_s", "jvm.gc_s")
  val SetupEngine: Seq[String] = Seq(
    "spark.codegen.compiles", "spark.codegen.compile_s", "jvm.jit_s", "jvm.gc_s",
    "spark.jobs")

  def fromSpans(t: Tracer, cores: Int): Map[String, Double] = {
    val opSpans = t.spans.filter(_.kind == "op").toSeq
    val byOp = t.spans.filter(_.op >= 0).groupBy(_.op)
    def callSum(op: Int, name: String, key: String): Double =
      byOp.getOrElse(op, Seq.empty)
        .filter(s => s.name == name || s.name.startsWith(name + "/"))
        .map(_.incl.getOrElse(key, 0.0)).sum
    def perOp(f: Int => Double): Double = Main.median(opSpans.map(s => f(s.op)))
    val m = mutable.LinkedHashMap.empty[String, Double]
    Calls.foreach(n => m(s"${n}_s") = perOp(callSum(_, n, "wall_s")))
    val setup = t.spans.filter(_.op < 0).toSeq
    SetupCalls.foreach(n => m(s"${n}_s") =
      setup.filter(_.name == n).map(_.incl("wall_s")).sum)
    val writer = "etl.PartitionedWriter.write"
    m("etl.PartitionedWriter.files") = perOp(callSum(_, writer, "write.files"))
    m("etl.PartitionedWriter.bytes") = perOp(callSum(_, writer, "write.bytes"))
    val conformed = t.spans.filter(s => s.op >= 0 && s.tag == "conformed")
      .map(_.incl.getOrElse("write.rows", 0.0)).sum
    val inputRows = opSpans.map(_.incl.getOrElse("input_rows", 0.0)).sum
    m("etl.rows_kept_ratio") = if (inputRows > 0) conformed / inputRows else 0.0
    Engine.foreach(k => m(k) = Main.median(opSpans.map(_.incl.getOrElse(k, 0.0))))
    val run = opSpans.map(_.incl.getOrElse("spark.executor.run_s", 0.0)).sum
    val wall = opSpans.map(_.seconds).sum
    m("spark.core_busy_ratio") = if (wall > 0) run / (wall * cores) else 0.0
    val setupSpan = setup.filter(_.kind == "setup")
    SetupEngine.foreach(k => m(s"$k.setup") =
      setupSpan.map(_.incl.getOrElse(k, 0.0)).sum)
    m.toMap
  }
}

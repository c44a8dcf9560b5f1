package perfbench

import scala.collection.mutable

import graft.etl._
import graft.functions.TextFns
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** lake_ingest: the reference's two Glue jobs, one run per arriving
  * daily CSV file. Raw → conformed (read with schema inference, conform,
  * partitioned write, catalog upsert), then conformed → purpose-built
  * (the taxi SQL over the new day's partition, partitioned write,
  * catalog upsert). The first eight arrivals are the warm-up: until then
  * the JIT is still compiling the two jobs' hot code. */
final class LakeIngest(h: Harness) extends Workload {
  import h._

  private final case class Arrival(file: String, table: String, date: String,
                                   lines: Long, bytes: Long, valid: Long,
                                   sums: Map[String, Long])

  private val truth = Json.obj(Json.read(s"$input/truth.json"))
  private val arrivals = Json.arr(truth("arrivals")).map(Json.obj).map { a =>
    Arrival(Json.str(a("file")), Json.str(a("table")), Json.str(a("date")),
      Json.long(a("lines")), Json.long(a("bytes")), Json.long(a("valid")),
      Json.obj(a("sums")).map { case (k, v) => k -> Json.long(v) })
  }
  private val measures = Json.arr(truth("measures")).map(Json.str)
  private val warmup = 8
  private val catalog = new CatalogRegistry(spark)
  private val lake = s"$work/lake"
  private def loc(zone: String, table: String) = s"$lake/$zone/$table"
  private val sql = arrivals.map(_.table).distinct.map { t =>
    t -> new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$benchDir/sql/$t.sql")), "UTF-8")
  }.toMap
  private val partitions = mutable.ArrayBuffer.empty[Double]

  def maxOps: Int = arrivals.size - warmup
  def setup(): Unit = (0 until warmup).foreach(ingest)
  def op(i: Int): Long = { ingest(warmup + i); arrivals(warmup + i).lines }

  private def ingest(k: Int): Unit = {
    val a = arrivals(k)
    val Array(y, m, d) = a.date.split("-")
    tracer.note("input_rows", a.lines.toDouble)
    val conformedLoc = loc("conformed", a.table)
    val purposeLoc = loc("purpose_built", a.table)
    val raw = tracer.span("etl.CsvIngest.read") {
      CsvIngest.read(spark, s"$input/${a.file}")
    }
    val conformed = tracer.span("etl.Conform") {
      Conform.injectStaticPartitions(Conform.castNullColumns(raw), y, m, d)
    }
    tracer.span("etl.PartitionedWriter.write", tag = "conformed") {
      PartitionedWriter.write(conformed, conformedLoc)
    }
    tracer.span("etl.CatalogRegistry.upsertExternal", tag = "conformed") {
      catalog.upsertExternal(conformed, "conformed", a.table, conformedLoc)
    }
    val purpose = tracer.span("etl.SqlTransform.run") {
      SqlTransform.run(spark, sql(a.table).replace("${year}", y)
        .replace("${month}", m).replace("${day}", d))
    }
    tracer.span("etl.PartitionedWriter.write", tag = "purpose_built") {
      PartitionedWriter.write(purpose, purposeLoc)
    }
    tracer.span("etl.CatalogRegistry.upsertExternal", tag = "purpose_built") {
      catalog.upsertExternal(purpose, "purpose_built", a.table, purposeLoc)
    }
  }

  /** Day partitions the catalog now holds for the arrival's table, over
    * both zones: the work each upsert's partition recovery repeats. */
  override def afterOp(i: Int): Seq[String] = {
    def days(f: java.io.File, depth: Int): Int =
      if (depth == 0) 1
      else Option(f.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.contains("="))
        .map(days(_, depth - 1)).sum
    val t = arrivals(warmup + i).table
    partitions += Seq("conformed", "purpose_built")
      .map(z => days(new java.io.File(loc(z, t)), 3)).sum.toDouble
    Seq.empty
  }

  /** The purpose-built SQL's output column for a generated measure. */
  private def purposeColumn(m: String): String =
    if (m == "passenger_count" || m == "total_amount") m else s"total_$m"

  /** Per-day conformed row counts equal the valid rows of the day's latest
    * delivery; purpose-built counts and measure sums equal its totals. */
  override def checkEnd(ops: Int): Seq[(Int, String)] = {
    val done = arrivals.take(warmup + ops).zipWithIndex
    val latest = done.groupBy { case (a, _) => (a.table, a.date) }
      .map { case (key, xs) => key -> xs.maxBy(_._2) }
    val failures = mutable.ArrayBuffer.empty[(Int, String)]
    latest.keys.map(_._1).toSeq.distinct.foreach { table =>
      // partition discovery reads "01" back as the integer 1
      val day = concat_ws("-", col("year"),
        lpad(col("month").cast("string"), 2, "0"), lpad(col("day").cast("string"), 2, "0"))
      val conformed = spark.read.parquet(loc("conformed", table))
        .groupBy(day.as("date")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val sums = measures.map(m => sum(col(purposeColumn(m))).cast("double").as(m))
      val purpose = spark.read.parquet(loc("purpose_built", table))
        .groupBy(day.as("date"))
        .agg(sum(col("count")).as("count"),
          (sum(col("vendorid").isNull.cast("int")).as("null_vendor") +: sums): _*)
        .collect().map(r => r.getString(0) -> r).toMap
      latest.filter(_._1._1 == table).foreach { case ((_, date), (a, k)) =>
        val blame = k - warmup
        def fail(msg: String): Unit = failures += ((blame, s"$table $date: $msg"))
        if (!conformed.get(date).contains(a.valid))
          fail(s"conformed rows ${conformed.get(date)} != valid ${a.valid}")
        purpose.get(date) match {
          case None => fail("no purpose-built rows")
          case Some(r) =>
            if (r.getAs[Long]("count") != a.valid)
              fail(s"purpose-built count ${r.getAs[Long]("count")} != ${a.valid}")
            if (r.getAs[Long]("null_vendor") != 0) fail("null vendorid survived coalesce")
            measures.foreach { m =>
              val want = if (m == "passenger_count") a.sums(m).toDouble else a.sums(m) / 100.0
              val got = r.getAs[Double](m)
              if (math.abs(got - want) > 1e-6 * math.max(1.0, math.abs(want)))
                fail(s"sum($m) $got != $want")
            }
        }
      }
    }
    failures.toSeq
  }

  /** Lake bytes per byte of the files the lake now holds: a re-delivered
    * day counts once, at its latest file. */
  def storedBytesPerInputByte(ops: Int): Double =
    Main.du(lake).toDouble / arrivals.take(warmup + ops)
      .groupBy(a => (a.table, a.date)).values.map(_.last.bytes).sum

  override def layerValues: Map[String, Double] =
    Map("etl.CatalogRegistry.partitions" -> Main.median(partitions.toSeq))

  def sizes: Map[String, Any] = Map(
    "arrivals_generated" -> arrivals.size,
    "rows_per_arrival_mean" -> arrivals.map(_.lines).sum / arrivals.size,
    "bytes_per_arrival_mean" -> arrivals.map(_.bytes).sum / arrivals.size)
}

/** corpus_curation: one batch curation pass over a seeded corpus per
  * operation — quality keep, exact dedup, near-duplicate clusters with
  * keep-best, the near-duplicate pair list as a split-leakage audit,
  * benchmark decontamination, a train/val/test split, and one
  * partitioned write of the curated corpus. The first pass is the
  * warm-up. */
final class CorpusCuration(h: Harness) extends Workload {
  import h._

  private val truth = Json.obj(Json.read(s"$input/truth.json"))
  private val docs = spark.read.parquet(s"$input/documents.parquet")
  private val bench = spark.read.parquet(s"$input/benchmark.parquet")
  private val nDocs = Json.long(truth("n_docs"))
  private def out(k: Int) = s"$work/curated/pass-$k"
  private val text = col("text")
  private val id = col("doc_id")
  private var nearRecall = 1.0
  private var contamRecall = 1.0

  def maxOps: Int = Int.MaxValue
  def setup(): Unit = pass(out(0))
  def op(i: Int): Long = { pass(out(i + 1)); nDocs }

  private def pass(out: String): Unit = {
    val kept = tracer.span("functions.TextFns.quality") {
      docs.filter(TextFns.qualityKeep(col("n_chars"), TextFns.tokenCount(text),
        TextFns.meanWordLen(TextFns.tokens(text))))
    }
    val unique = tracer.span("operators.Dedup.exact") { Dedup.exact(kept, text, id) }
    val clusters = tracer.span("operators.Dedup.minhashLshClusters") {
      Dedup.minhashLshClusters(unique, text, id)
    }
    tracer.span("operators.Dedup.minhashLshClusters/write", "action") {
      clusters.write.mode("overwrite").parquet(s"$out/clusters")
    }
    val split = tracer.span("operators.Sampling.trainValTest") {
      Sampling.trainValTest(unique, id)
    }
    val pairs = tracer.span("operators.Dedup.minhashLshPairs") {
      Dedup.minhashLshPairs(unique, text, id)
    }
    tracer.span("operators.Dedup.minhashLshPairs/write", "action") {
      val labels = split.select(id, col("split"))
      pairs
        .join(labels.toDF("id_a", "split_a"), "id_a")
        .join(labels.toDF("id_b", "split_b"), "id_b")
        .withColumn("leak", col("split_a") =!= col("split_b"))
        .write.mode("overwrite").parquet(s"$out/pairs")
    }
    val contaminated = tracer.span("operators.Decontaminate.contaminated") {
      Decontaminate.contaminated(unique, bench, text, id)
    }
    tracer.span("operators.Decontaminate.contaminated/write", "action") {
      contaminated.write.mode("overwrite").parquet(s"$out/contaminated")
    }
    // keep-best: the longest document of each cluster (ties: lowest id)
    val best = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val dropped = spark.read.parquet(s"$out/clusters")
      .join(unique.select(id, col("n_chars")), "doc_id")
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") > 1).select(id)
    val curated = split
      .join(dropped, Seq("doc_id"), "left_anti")
      .join(spark.read.parquet(s"$out/contaminated").select(id), Seq("doc_id"), "left_anti")
    tracer.span("etl.PartitionedWriter.write", tag = "curated") {
      PartitionedWriter.write(curated, s"$out/corpus", Seq("split", "lang"))
    }
    releaseAll()
  }

  private def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  /** After every pass (the warm-up too): planted exact copies and
    * contaminated documents are gone from the curated corpus,
    * near-duplicate and contamination recall meet their floors, and every
    * verified pair lies inside one cluster. */
  override def checkEnd(ops: Int): Seq[(Int, String)] =
    (0 to ops).flatMap(k => check(out(k)).map(m => (k - 1, s"pass $k: $m")))

  private def check(out: String): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val curated = ids(spark.read.parquet(s"$out/corpus").select(id))
    val copies = Json.arr(truth("exact_dups")).map(p => Json.long(Json.arr(p)(1)))
    val kept = copies.filter(curated.contains)
    if (kept.nonEmpty) fails += s"exact duplicates kept: ${kept.take(5)}"
    val pairs = spark.read.parquet(s"$out/pairs").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Json.arr(truth("near_dups")).map(Json.arr)
      .filter(p => Json.double(p(3)) >= CorpusCuration.NearDupJaccard)
      .map(p => (Json.long(p(0)), Json.long(p(1))))
    val recall = planted.count(pairs.contains).toDouble / math.max(planted.size, 1)
    nearRecall = math.min(nearRecall, recall)
    if (recall < CorpusCuration.NearDupRecallFloor)
      fails += f"near-duplicate recall $recall%.3f < ${CorpusCuration.NearDupRecallFloor}" +
        s" (missed ${planted.filterNot(pairs.contains).take(8).mkString(" ")})"
    val flagged = ids(spark.read.parquet(s"$out/contaminated").select(id))
    val contam = Json.arr(truth("contaminated")).map(Json.long)
    val cRecall = contam.count(flagged.contains).toDouble / math.max(contam.size, 1)
    contamRecall = math.min(contamRecall, cRecall)
    if (cRecall < CorpusCuration.ContaminationRecallFloor)
      fails += f"contamination recall $cRecall%.3f < ${CorpusCuration.ContaminationRecallFloor}"
    if (contam.exists(curated.contains)) fails += "contaminated document kept"
    val cluster = spark.read.parquet(s"$out/clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = pairs.filterNot { case (a, b) =>
      cluster.contains(a) && cluster.get(a) == cluster.get(b)
    }
    if (split.nonEmpty) fails += s"verified pairs outside one cluster: ${split.take(5)}"
    fails.toSeq
  }

  /** The last pass's curated corpus and reports per corpus byte. */
  def storedBytesPerInputByte(ops: Int): Double =
    Main.du(out(ops)).toDouble /
      (Main.du(s"$input/documents.parquet") + Main.du(s"$input/benchmark.parquet"))

  override def layerValues: Map[String, Double] = Map(
    "operators.Dedup.near_dup_recall" -> nearRecall,
    "operators.Decontaminate.recall" -> contamRecall)

  def sizes: Map[String, Any] = Map(
    "documents" -> nDocs,
    "documents_parquet_bytes" -> Main.du(s"$input/documents.parquet"),
    "benchmark_docs" -> Json.long(truth("n_bench")))
}

object CorpusCuration {
  /** Planted near-duplicate pairs at or above this shingle Jaccard must
    * be found; MinHash LSH with 16 bands of 4 rows finds a pair at 0.6
    * with probability 0.89, and at 0.7 with 0.98. */
  val NearDupJaccard = 0.6
  val NearDupRecallFloor = 0.85
  /** Every planted span is a verbatim 13+ token benchmark n-gram. */
  val ContaminationRecallFloor = 1.0
}

/** retrieval_serve: the read side. Setup builds the doc-term table and
  * the champions table once; each operation then serves one batch of
  * queries the way a caller does — look the champions table up, take the
  * exact BM25 top-k and the impact-pruned top-k at a fixed depth. The
  * first eight batches are the warm-up. */
final class RetrievalServe(h: Harness) extends Workload {
  import h._
  import RetrievalServe._

  private val truth = Json.obj(Json.read(s"$input/truth.json"))
  private val terms = Json.obj(truth("queries")).map { case (q, ts) =>
    q.toLong -> Json.arr(ts).map(Json.str)
  }
  private val batches = Json.arr(Json.read(s"$input/batches.json"))
    .map(b => Json.arr(b).map(Json.long))
  private val warmup = 8
  private val served = mutable.Map.empty[Int, Seq[Row]]
  private var auditTracked, auditLeft = 0
  private val overlaps = mutable.ArrayBuffer.empty[Double]

  def maxOps: Int = batches.size - warmup
  def setup(): Unit = {
    tracer.span("operators.DocTerms.table") { DocTerms.table(spark, input) }
    tracer.span("operators.HybridSearch.rankedTable_build") {
      HybridSearch.rankedTable(spark, input)
    }
    (0 until warmup).foreach(b => serve(batches(b)))
  }

  def op(i: Int): Long = {
    val b = batches(warmup + i)
    val rows = serve(b)
    if (i % CheckEvery == 0) served(i) = rows
    b.size
  }

  private def serve(batch: Seq[Long]): Seq[Row] = {
    import spark.implicits._
    val qTerms = broadcast(batch.flatMap(q => terms(q).map(t => (q, t)))
      .toDF("query_id", "term"))
    val ranked = tracer.span("operators.HybridSearch.rankedTable_hit") {
      HybridSearch.rankedTable(spark, input)
    }
    val exactDf = tracer.span("operators.HybridSearch.bm25RetrieveFromRanked") {
      HybridSearch.bm25RetrieveFromRanked(ranked, qTerms, K)
    }
    val exact = tracer.span("operators.HybridSearch.bm25RetrieveFromRanked/collect", "action") {
      exactDf.collect().toSeq
    }
    val prunedDf = tracer.span("operators.HybridSearch.bm25RetrieveImpactFromRanked") {
      HybridSearch.bm25RetrieveImpactFromRanked(ranked, qTerms, K, Depth)
    }
    val pruned = tracer.span("operators.HybridSearch.bm25RetrieveImpactFromRanked/collect", "action") {
      prunedDf.collect().toSeq
    }
    def sets(rows: Seq[Row]) = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val e = sets(exact)
    val p = sets(pruned)
    if (e.nonEmpty)
      overlaps += e.map { case (q, s) => (s & p.getOrElse(q, Set.empty)).size }.sum
        .toDouble / e.values.map(_.size).sum
    exact
  }

  /** Every CheckEvery-th batch, from the first: the served exact top-k
    * equals, as a multiset, the inline BM25 over the raw documents. */
  override def checkEnd(ops: Int): Seq[(Int, String)] = {
    if (tracer.attached) auditPersists()
    val docs = graft.Tables.documents(spark, input)
    def key(rows: Seq[Row]) = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    served.toSeq.sortBy(_._1).flatMap { case (i, rows) =>
      val inline = HybridSearch.bm25Retrieve(docs, col("text"), col("doc_id"),
        col("doc_id").isin(batches(warmup + i): _*), K).collect().toSeq
      if (rows.nonEmpty && key(rows) == key(inline)) None
      else Some((i, s"batch ${warmup + i}: served top-$K (${rows.size} rows) " +
        s"!= inline bm25Retrieve (${inline.size} rows)"))
    }
  }

  /** Traced runs only, after the timed phase: the MaxScore and block-max
    * audits over the champions table persist their intermediates (the
    * pinned scan, tau, cands, rescore, keep) through OpCaches. Count them,
    * release them, and count the persisted RDDs left over. */
  private def auditPersists(): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val tracked = OpCaches.trackedCount
    val tf = DocTerms.table(spark, input)
      .withColumn("is_q", col("doc_id").isin(batches(warmup): _*))
    val ranked = HybridSearch.rankedTable(spark, input)
    HybridSearch.maxScoreAuditFromRanked(ranked, tf, K, 64).collect()
    HybridSearch.blockMaxAuditFromRanked(ranked, tf, K, 64, 64).collect()
    auditTracked = OpCaches.trackedCount - tracked
    OpCaches.releaseAll()
    auditLeft = spark.sparkContext.getPersistentRDDs.size - rdds
  }

  /** The DerivedCache tables (DocTerms and champions) per corpus byte. */
  def storedBytesPerInputByte(ops: Int): Double =
    Main.derivedDirs(work).map(d => Main.du(d.getPath)).sum.toDouble /
      Main.du(s"$input/documents.parquet")

  override def layerValues: Map[String, Double] = Map(
    "operators.HybridSearch.pruned_overlap" ->
      (if (overlaps.isEmpty) 0.0 else overlaps.sum / overlaps.size),
    "operators.HybridSearch.audit_tracked" -> auditTracked,
    "operators.HybridSearch.audit_persisted_after_release" -> auditLeft)

  def sizes: Map[String, Any] = Map(
    "documents" -> Json.long(truth("n_docs")),
    "documents_parquet_bytes" -> Main.du(s"$input/documents.parquet"),
    "query_pool" -> terms.size,
    "batches_generated" -> batches.size,
    "queries_per_batch" -> batches.headOption.map(_.size).getOrElse(0),
    "top_k" -> K, "champion_depth" -> Depth)
}

object RetrievalServe {
  val K = 10
  val Depth = 32
  val CheckEvery = 8
}

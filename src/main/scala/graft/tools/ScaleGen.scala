package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up replicator for the synthetic star schema: writes an N×
  * copy of an existing sf directory by unioning N key-shifted replicas
  * of each table, preserving every foreign-key relationship.
  *
  * Purpose: the driver ships sf0.001/0.01/0.1 only; scale-cliff hunting
  * (super-linear operators, bucket blow-ups, spill behavior) needs at
  * least one run an order of magnitude above the bench's sf0.1. A 10×
  * replica of sf0.1 is "sf1" in TPC-H terms (~6M lineitem rows).
  *
  * Replication rules:
  *  - `region`/`nation` are fixed-size dimensions (as in TPC-H) —
  *    copied once, never replicated; `*_nationkey` references stay valid.
  *  - every other table gets replica i's key columns shifted by
  *    i * KEY_STRIDE, the SAME stride on both sides of each FK
  *    (custkey, orderkey, partkey, suppkey, user/event ids, doc/vec
  *    ids), so joins land exactly as they do at sf0.1 — just N× wider.
  *  - non-key payload (text, embeddings, timestamps, prices) is copied
  *    verbatim. Replicated documents/embeddings therefore form exact
  *    duplicate groups of size N across replicas — deliberate: it
  *    stresses the dedup/LSH family with the clique blow-up a real
  *    crawl corpus exhibits, which is precisely the regime the scale
  *    run is hunting in.
  *
  * This is a bench-only tool: correctness runs stay on the driver's
  * pristine sf dirs.
  */
object ScaleGen {

  /** Far above any key in the DRIVER-SHIPPED source data (sf0.1 tops out
    * ~600k). Re-scaling a previous ScaleGen OUTPUT needs a larger stride —
    * its keys already reach (n-1)·stride — or replica key spaces collide
    * and every keyed operator silently sees duplicate keys; main() derives
    * the stride from the actual max key (see strideFor). */
  val KEY_STRIDE = 100000000L

  /** Key columns to shift per table; absent tables copy unchanged. */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  val fixedDims = Set("region", "nation")

  def replicate(df: DataFrame, keys: Seq[String], n: Int,
                stride: Long = KEY_STRIDE): DataFrame =
    (0 until n).map { i =>
      keys.foldLeft(df) { (d, k) =>
        d.withColumn(k, col(k) + lit(i * stride))
      }
    }.reduce(_ unionAll _)

  /** Smallest power of 10 strictly above `maxKey` (floor KEY_STRIDE):
    * the stride that keeps replica key spaces disjoint. It must be ONE
    * value across all tables — orderkey/custkey/... span tables, and a
    * per-table stride would break those FKs. */
  def strideFor(maxKey: Long): Long = {
    var s = KEY_STRIDE
    while (s <= maxKey) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "tmp/sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.get()
    // events carries parquet TIMESTAMP(NANOS); read the nanos as long
    // (see Tables.events) and write them back as plain int64 — the
    // loader's `ts div 1000` shim works identically on either encoding.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one global stride above every key in the source: re-scaling a
    // previous ScaleGen output would otherwise collide replica key
    // spaces (its keys already reach (n-1)·KEY_STRIDE), silently
    // de-duplicating keyed tables downstream
    val maxKey = (for {
      t <- graft.Tables.names if keyCols.contains(t)
      in = spark.read.parquet(s"$src/$t.parquet")
      k <- keyCols(t)
      r = in.agg(max(col(k).cast("long"))).head if !r.isNullAt(0)
    } yield r.getLong(0)).max
    val stride = strideFor(maxKey)
    println(s"scalegen: max source key $maxKey -> stride $stride")
    for (t <- graft.Tables.names) {
      val in = spark.read.parquet(s"$src/$t.parquet")
      val scaled =
        if (fixedDims(t)) in
        else replicate(in, keyCols.getOrElse(t, Seq.empty), n, stride)
      // repartition so downstream scans see multi-task parallelism
      // instead of N× row groups stacked into the source's file layout.
      // Byte-aware: a row-count heuristic alone wrote sf1's 50k-doc
      // documents table as ONE file, single-tasking every text query's
      // scan at that scale (wide rows need more files per row).
      // 2 MiB/file target: tiny for parquet, right for THIS harness —
      // these tables feed CPU-bound per-row work (tokenize/decode/hash)
      // where a task should hold ~50k rows, not ~128 MB
      // srcBytes must survive BOTH source layouts: the driver ships each
      // table as a single parquet FILE, but re-scaling a previous ScaleGen
      // output reads a Spark-written DIRECTORY — where File.length() is
      // the ~4 KiB directory entry, which would silently regress the
      // byte heuristic back to row-count-only (the exact single-file trap
      // it exists to fix). Sum the data files when it's a directory.
      val srcPath = new java.io.File(s"$src/$t.parquet")
      val srcBytes =
        if (srcPath.isDirectory)
          srcPath.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.startsWith(".")).map(_.length()).sum
        else srcPath.length()
      val byParts = math.max(
        (scaled.count() / 50000).toInt,
        (srcBytes * (if (fixedDims(t)) 1 else n) / (2L << 20)).toInt)
      val parts = math.max(1, math.min(32, byParts))
      scaled.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"scalegen: $t -> $out/$t.parquet ($parts files)")
    }
    spark.stop()
  }
}

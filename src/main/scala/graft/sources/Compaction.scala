package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the janitorial operator every 100 TB
  * parquet lake needs: streaming ingestion (StreamingIngest commits
  * per micro-batch), frequent upserts, and over-parallel writers all
  * shred tables into thousands of KB-scale files, and at read time
  * each file costs a task schedule + footer parse + seek, so scan
  * throughput collapses long before data size is the problem
  * (reference analog: egraphdb periodically re-indexes/rewrites its
  * MySQL shard tables; Delta/Iceberg call this OPTIMIZE).
  *
  * `plan` is driver-side metadata only (one FileSystem listing — no
  * data read); `compact` rewrites the data in `ceil(bytes/target)`
  * files and never deletes the source: the output lands in a fresh
  * directory with Spark's own `_SUCCESS` marker, matching the
  * GraphStore's crash-safety contract (readers gate on `_SUCCESS`,
  * a torn rewrite is invisible). Swapping the compacted dir in for
  * a live table is [[GraphStore.commitEpoch]]'s job.
  *
  * Scale shape: the rewrite is one `repartition(nOut)` round-robin
  * shuffle — no key, so it cannot skew — and file count is chosen
  * from actual byte sizes, not row counts, so wide and narrow
  * tables both land near `targetBytes`. For a `partitionBy` layout,
  * compact per partition directory (the listing already walks it);
  * at cluster scale partitions compact independently and in
  * parallel.
  */
object Compaction {

  case class CompactionPlan(nFiles: Long, nBytes: Long, nOut: Int)

  /** One driver-side listing ([[ParquetDir.leafFiles]]); counts only
    * data files (parquet parts), not markers/checksums. */
  def plan(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactionPlan =
    planAll(spark, Seq(dir), targetBytes)

  /** Multi-directory form — one plan over the union of the sources
    * (what a segment-log merge like `DedupIndex.compactSegments`
    * needs; the byte-sizing policy must live in exactly one place). */
  def planAll(spark: SparkSession, dirs: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): CompactionPlan = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val files = dirs.flatMap { dir =>
      val p = new Path(dir)
      ParquetDir.leafFiles(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }.filter(_.getPath.getName.endsWith(".parquet"))
    val n = files.size.toLong
    val bytes = files.map(_.getLen).sum
    // capped at the source file count: compaction MERGES small files;
    // a byte-derived plan larger than the input (one 1 GB file at a
    // 128 MB target) would otherwise SPLIT it — that's a repartition
    // layout decision, not compaction's job, and it would break the
    // "cannot increase the file count" guarantee below
    val nOut = math.min(math.max(1L, n),
      math.max(1L, (bytes + targetBytes - 1) / targetBytes))
    CompactionPlan(n, bytes, nOut.toInt)
  }

  /** Size-ratio merge selection — the TIERED (LSM) policy that keeps
    * hot-path compaction O(recent), never O(store). Input is
    * (name, bytes) per candidate segment; output the subset to merge
    * (empty when fewer than 2 qualify). Sorted-runs rule: merge the
    * smallest k+1 runs for the largest k whose run is ≤ `ratio` × the
    * total bytes below it — a fresh micro-batch tail always folds
    * together, a previous fold of similar size cascades in, and a
    * store-sized base is absorbed only once everything beneath it
    * reaches ~1/ratio of its size. Every absorbed run lands in a
    * result ≥ (1 + 1/ratio) × its own size, so a row is rewritten
    * O(log(store/batch)) times over its life instead of once per
    * trigger (the r9 ADVICE defect: full compaction on the
    * foreachBatch path re-rewrote the whole store every ~32 batches,
    * amortized O(store/n) per batch and unbounded). */
  def tieredPick(sized: Seq[(String, Long)],
      ratio: Double = 4.0): Seq[String] = {
    require(ratio >= 1.0, s"ratio must be >= 1: $ratio")
    val asc = sized.sortBy(s => (s._2, s._1))
    // merge the smallest k+1 runs for the LARGEST k whose run is
    // ≤ ratio × the bytes below it — not "stop at first violation",
    // which strands a tiny straggler below a big run forever (the
    // straggler never grows, so [tiny, big, big, …] would never fold)
    var sum = 0L
    var k = -1
    for (((_, b), i) <- asc.zipWithIndex) {
      if (i > 0 && b <= ratio * sum) k = i
      sum += b
    }
    if (k < 1) Nil else asc.take(k + 1).map(_._1)
  }

  /** Rewrite `dir` into `outDir` as ~targetBytes files. Returns the
    * plan it executed. No-op guard: when the source already has ≤
    * the planned file count, the rewrite still runs (the caller
    * asked for a fresh copy) but cannot increase the file count
    * (the plan's nOut is capped at the source file count). */
  def compact(spark: SparkSession, dir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactionPlan = {
    val pl = plan(spark, dir, targetBytes)
    spark.read.parquet(dir)
      .repartition(pl.nOut)
      .write.mode("error").parquet(outDir)
    pl
  }
}

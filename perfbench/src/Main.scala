package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Entry point: one run of one workload.
  *
  *   perfbench.Main --workload serve|analytics --seed N
  *     --seconds S --trace 0|1 --work DIR --results DIR [--git SHA]
  *
  * Prints the run's metrics as one JSON object on the last line of
  * standard output and writes the full record (fabric, named metrics,
  * failures, spans) under the results directory. */
object Main {

  /** Graph and corpus scale: sf 0.01 of the TPC-H-like generator
    * (1,500 customers, 100 suppliers, ~52k links, 500 documents, 200
    * vectors), so that three set-ups and the measured window of every
    * run fit the run budget. */
  val sf = 0.01
  val setUps = 3
  val batchSize = 500
  /** Ingest cycles per serve run, untimed then timed: a fixed count, so
    * the store's growth (space_amp, versions on disk) does not depend on
    * speed. */
  val warmCycles = 1
  val cycles = 3
  val workloads = Seq("serve", "analytics")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(workloads.contains(workload), s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val results = Paths.get(opts("results"))
    Files.createDirectories(work); Files.createDirectories(results)
    val out = run(workload, seed, seconds, traced, work, results, opts.getOrElse("git", "unknown"),
      opts.get("digests").map(Paths.get(_)))
    println(out)
  }

  private def mb(b: Double) = b / (1024.0 * 1024.0)

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, results: Path, git: String, digestFile: Option[Path] = None): String = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = os.getSystemLoadAverage
    def phase(what: String): Unit = System.err.println(
      f"[perfbench-log] ${(System.currentTimeMillis() - processStart) / 1e3}%.1f s $what")
    val spark = graft.SparkEnv.session()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    try {
      val sc = spark.sparkContext
      val trace = new Trace(sc, traced)
      val rec = new Recorder
      val w = new Workloads(spark, seed, Gen.scale(sf), work, trace, rec)
      digestFile.filter(Files.exists(_)).foreach { f =>
        org.json4s.jackson.JsonMethods.parse(Files.readString(f)).values match {
          case m: Map[_, _] => m.foreach { case (k, v) => w.digests(k.toString) = v.toString }
          case _ =>
        }
      }
      // set up several times, keep the last store; report the median
      val setupS = (0 until setUps).map { i =>
        w.writeTables(i)
        val t0 = System.nanoTime(); w.setUp(i); phase(s"set-up $i")
        (System.nanoTime() - t0) / 1e9
      }
      (0 until setUps - 1).foreach { i =>
        deleteTree(work.resolve(s"store-$i")); deleteTree(work.resolve(s"tables-$i"))
      }
      val g = graft.api.EGraph.fromStore(spark, w.root)
      if (workload == "serve") w.warmUp(g) else w.analyticsWarmUp()
      val firstOpS = (System.currentTimeMillis() - processStart) / 1e3

      trace.drain()
      val persisted = sc.getPersistentRDDs.size
      settle(sc)
      phase(s"settled: $persisted persisted RDDs before, ${sc.getPersistentRDDs.size} after")
      val windowStart = System.nanoTime()
      val spansBefore = trace.all.size
      val taskMs0 = trace.taskMsTotal
      val gc0 = Trace.gcMs
      Trace.resetHeapPeak()
      val deadline = windowStart + (seconds * 1e9).toLong
      // serve: the read-only lookup phase, then the ingest phase on the
      // same store
      val counts = workload match {
        case "serve" =>
          val rounds = w.lookup(g, deadline)
          w.ingest(batchSize, warmCycles, cycles)
          Map("lookup_rounds" -> rounds, "ingest_warmup_cycles" -> warmCycles, "ingest_cycles" -> cycles)
        case "analytics" => Map("passes" -> w.analytics(deadline))
      }
      val wallS = (System.nanoTime() - windowStart) / 1e9
      phase("window done")
      val gcS = (Trace.gcMs - gc0) / 1e3
      val heapPeakMb = mb(Trace.heapPeakBytes.toDouble)
      trace.drain()
      val storeBytes = Workloads.bytesUnder(Paths.get(w.root))
      val spaceAmp = storeBytes.toDouble / w.userBytes

      // Each class counts every operation kind in it once, at the
      // kind's median latency: the time of one pass over the class.
      val missing = classes(workload, w).values.flatten.filterNot(rec.samples.contains)
      require(missing.isEmpty,
        s"no successful ${missing.mkString(", ")}; failures: ${rec.failures.take(5)}")
      def passS(kinds: Seq[String]) = kinds.map(k => Stats.median(rec.samples(k).toSeq)).sum / 1e3
      val e2e = ListMap(
        "setup_s" -> (Stats.median(setupS), "s")) ++
        classes(workload, w).map { case (m, kinds) => m -> (passS(kinds), "s") } ++
        ListMap("space_amp" -> (spaceAmp, "ratio"))

      val named = phaseMetrics(workload, rec, w, Stats.median(setupS), spaceAmp)
      val layers = perLayer(trace, rec, w, spansBefore, wallS, sc.defaultParallelism,
        trace.taskMsTotal - taskMs0, gcS, heapPeakMb, if (workload == "serve") warmCycles + cycles else 0)

      val fabric = Map(
        "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "driver_heap_mb" -> mb(Runtime.getRuntime.maxMemory.toDouble),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "git" -> git,
        "seed" -> seed,
        "scale_factor" -> sf,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> os.getSystemLoadAverage)
      val metrics =
        if (traced) ListMap(layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*)
        else e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      val result = ListMap(
        "correct" -> rec.failures.isEmpty,
        "attempted" -> rec.attempted,
        "failed" -> rec.failed,
        "metrics" -> metrics)

      val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
      val record = Map(
        "workload" -> workload, "trace" -> traced, "fabric" -> fabric,
        "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "named" -> named,
        "per_layer" -> ListMap(layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*),
        "check_ms" -> rec.checkMs,
        "self_ms" -> (if (traced) trace.selfMs else Map.empty),
        "setup_s_each" -> setupS,
        "process_to_first_op_s" -> firstOpS,
        "counts" -> counts,
        "window_s" -> wallS,
        "ops_by_name" -> rec.samples.map { case (k, v) => k -> v.size },
        "samples_ms" -> rec.samples,
        "fail_ratio" -> rec.failed.toDouble / math.max(1L, rec.attempted),
        "failures" -> rec.failures.take(50).map { case (op, why) => Map("op" -> op, "reason" -> why) },
        "result" -> result)
      Files.writeString(results.resolve(s"$tag.json"), Stats.json(record))
      digestFile.foreach(f => Files.writeString(f, Stats.json(w.digests)))
      if (traced)
        Files.write(results.resolve(s"$tag.spans.jsonl"), trace.spansJsonLines.toSeq.asJava)
      System.err.println(s"[perfbench] $workload named metrics: ${Stats.json(named)}")
      rec.failures.take(10).foreach { case (op, why) =>
        System.err.println(s"[perfbench] FAILED $op: $why")
      }
      Stats.json(result)
    } finally {
      spark.stop()
    }
  }

  /** The end-to-end metrics under the names the workload design uses:
    * latency percentiles per class, visibility and pass times. */
  private def phaseMetrics(workload: String, rec: Recorder, w: Workloads,
      setupS: Double, spaceAmp: Double): Map[String, Any] = {
    def lat(ms: Seq[Double]) =
      if (ms.isEmpty) Map.empty[String, Any]
      else {
        val t = Stats.tail(ms)
        Map("p50" -> Stats.median(ms), "tail" -> t.value,
          "tail_percentile" -> t.percentile, "samples" -> t.samples)
      }
    def passS(kinds: Seq[String]) =
      rec.samples.filter(kv => kinds.contains(kv._1)).values.flatten.sum / 1e3
    val base = Map[String, Any](
      "setup_s" -> setupS,
      "fail_ratio" -> rec.failed.toDouble / math.max(1L, rec.attempted))
    workload match {
      case "serve" => base ++ Map(
        "lookup" -> Map("point_ms" -> lat(rec.ms(pointVerbs.contains)),
          "traverse_ms" -> lat(rec.ms(traversals.contains))),
        "ingest" -> Map("point_ms" -> lat(rec.ms(_.startsWith("ingest."))),
          "visible_ms" -> lat(rec.ms(_ == "write")), "space_amp" -> spaceAmp))
      case _ =>
        val passes = rec.samples.getOrElse(w.jobs.head, Nil).size.max(1)
        base ++ Map(
          "graph_pass_s" -> passS(w.verbJobs ++ w.algorithmJobs) / passes,
          "corpus_pass_s" -> passS(w.corpusJobs) / passes)
    }
  }

  val pointVerbs = Seq("node", "indexLookup", "indexRange", "linksFrom", "link", "search")
  val traversals = Seq("neighbors", "path")

  /** The operation kinds behind each end-to-end class metric. */
  private def classes(workload: String, w: Workloads): ListMap[String, Seq[String]] =
    workload match {
      case "serve" => ListMap("verbs_s" -> pointVerbs, "multihop_s" -> traversals,
        "batch_s" -> Seq("write", "ingest.node", "ingest.indexLookup"))
      case _ => ListMap("verbs_s" -> w.verbJobs, "multihop_s" -> w.algorithmJobs,
        "batch_s" -> w.corpusJobs)
    }

  val verbs: Seq[String] = pointVerbs ++ traversals

  /** Every per-layer metric, measured from the spans of the measured
    * window; a layer the workload does not reach reads 0. */
  private def perLayer(trace: Trace, rec: Recorder, w: Workloads, spansBefore: Int,
      wallS: Double, cores: Int, taskMs: Long, gcS: Double, heapPeakMb: Double,
      batches: Int): Seq[(String, (Double, String))] = {
    val spans = trace.all.drop(spansBefore)
    def named(n: String) = spans.filter(_.name == n)
    def work(n: String) = named(n).map(trace.subtreeWork).foldLeft(Trace.Work())(_ + _)
    def p50ms(ns: Seq[String]) = {
      val d = ns.flatMap(named).map(_.ns / 1e6)
      if (d.isEmpty) 0.0 else Stats.median(d)
    }
    def per(x: Double, n: Int) = if (n == 0) 0.0 else x / n
    val api = verbs.flatMap { v =>
      val n = named(s"api.$v").size
      val wk = work(s"api.$v")
      Seq(s"api.$v.ms_p50" -> (p50ms(Seq(s"api.$v")), "ms"),
        s"api.$v.jobs" -> (per(wk.jobs.toDouble, n), "count"),
        s"api.$v.rows_read_per_row" ->
          (wk.recordsRead.toDouble /
            math.max(1L, Seq(v, "ingest." + v).map(rec.rowsOut.getOrElse(_, 0L)).sum), "ratio"))
    }
    val trav = Seq("neighbors", "path")
    val travOps = trav.map(v => named(s"api.$v").size).sum
    val travWork = trav.map(v => work(s"api.$v")).foldLeft(Trace.Work())(_ + _)
    val traverse = Seq(
      "traverse.build_ms_p50" -> (p50ms(trav.map(v => s"api.$v.build")), "ms"),
      "traverse.action_ms_p50" -> (p50ms(trav.map(v => s"api.$v.action")), "ms"),
      "traverse.shuffle_kb_per_op" ->
        (per((travWork.shuffleRead + travWork.shuffleWrite) / 1024.0, travOps), "KB"))
    val ingest = work("sources.ingest")
    val sources = Seq(
      "sources.open_ms_p50" -> (p50ms(Seq("sources.open")), "ms"),
      "sources.write_amp" -> (per(ingest.bytesWritten.toDouble, w.batchBytes.toInt), "ratio"),
      "sources.merge_read_mb" -> (per(mb(ingest.bytesRead.toDouble), batches), "MB"),
      "sources.batch_jobs" -> (per(ingest.jobs.toDouble, batches), "count"),
      "sources.versions_on_disk" -> (Workloads.versionsOnDisk(w.root).toDouble, "count"))
    val jobs = w.jobs.flatMap { j =>
      val n = named(s"job.$j").size
      val wk = work(s"job.$j")
      Seq(s"job.$j.s" -> (p50ms(Seq(s"job.$j")) / 1e3, "s"),
        s"job.$j.build_s" -> (p50ms(Seq(s"job.$j.build")) / 1e3, "s"),
        s"job.$j.jobs" -> (per(wk.jobs.toDouble, n), "count"),
        s"job.$j.shuffle_mb" -> (per(mb((wk.shuffleRead + wk.shuffleWrite).toDouble), n), "MB"),
        s"job.$j.task_skew" -> (wk.skew, "ratio"))
    }
    val all = spans.map(s => trace.workOf(s.id)).foldLeft(Trace.Work())(_ + _)
    val fabric = Seq(
      "spark.cpu_util" -> (taskMs / (wallS * 1e3 * cores), "ratio"),
      "spark.spill_mb" -> (mb(all.spill.toDouble), "MB"),
      "jvm.gc_s" -> (gcS, "s"),
      "jvm.heap_peak_mb" -> (heapPeakMb, "MB"))
    api ++ traverse ++ sources ++ jobs ++ fabric
  }

  /** Starts the window without the set-ups' and warm-ups' garbage:
    * collects it, then waits until Spark's ContextCleaner has dropped
    * the checkpointed blocks it held (the set of persisted RDDs stops
    * shrinking for half a second; at most ten seconds). Without the
    * wait that cleanup runs during the first timed operations. */
  private def settle(sc: org.apache.spark.SparkContext): Unit = {
    System.gc()
    val limit = System.nanoTime() + 10000000000L
    var last = -1
    var stableSince = System.nanoTime()
    while (System.nanoTime() < limit && System.nanoTime() - stableSince < 500000000L) {
      val n = sc.getPersistentRDDs.size
      if (n != last) { last = n; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

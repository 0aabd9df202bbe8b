package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.EGraph
import graft.ann.{Ivf, Knn}
import graft.dedup.Dedup
import graft.graph.{Algorithms, GraphBuilder}
import graft.plans.Materialize._
import graft.sources.{DocumentIngest, GraphStore, StreamingIngest}

/** The closed-loop workload phases, one client thread each. `work` is
  * a scratch directory the run owns; `deadline` (nanoTime) ends the
  * loop after the operation in flight. */
final class Workloads(spark: SparkSession, seed: Long, scale: Gen.Scale,
    work: Path, trace: Trace, rec: Recorder) {

  val tables: Gen.Tables = Gen.tables(seed, scale)
  val ref = new Ref(tables)
  private var tableDir = ""
  private var storeRoot = ""
  private var req = 0L

  /** Raw input bytes handed to the store (graph tables + ingest batches). */
  var userBytes = 0L
  /** Bytes of the landed ingest batches alone. */
  var batchBytes = 0L

  /** Writes set-up `i`'s own copy of the raw tables: the library
    * memoizes the graph built from a table directory, so a set-up that
    * reused a directory would time a cache hit. */
  def writeTables(i: Int): Unit = {
    tableDir = work.resolve(s"tables-$i").toString
    Gen.write(tables, tableDir)
    userBytes = Seq("customer", "supplier", "orders", "lineitem")
      .map(t => Workloads.bytesUnder(Paths.get(tableDir, s"$t.parquet"))).sum
  }

  /** One set-up over the tables [[writeTables]] wrote last: build the
    * graph, save it with GraphStore, commit an epoch, open it and serve
    * one read. Returns the opened graph. */
  def setUp(i: Int): EGraph = {
    storeRoot = work.resolve(s"store-$i").toString
    trace.span("setup") {
      val g = EGraph.fromTables(spark, tableDir)
      val nv = GraphStore.saveNodes(g.nodes, storeRoot, publish = false)
      val ev = GraphStore.saveEdges(g.edges, storeRoot, publish = false)
      val iv = GraphStore.saveIndexes(g.indexes, storeRoot, publish = false)
      GraphStore.commitEpoch(spark, storeRoot,
        Map("nodes" -> nv, "edges" -> ev, "indexes" -> iv))
      val opened = open()
      opened.node(tables.customers.head.nodeKey).collect()
      opened
    }
  }

  def root: String = storeRoot

  private def open(): EGraph = trace.span("sources.open")(EGraph.fromStore(spark, storeRoot))

  // ---- read verbs ------------------------------------------------------

  private def strs(rows: Array[Row], c: String): Seq[String] = rows.toSeq.map(_.getAs[String](c))

  /** Issues one lookup-mix request against `g`, timed and checked;
    * recorded under `phase` + the verb. */
  def read(g: => EGraph, r: Gen.Req, phase: String = ""): Unit = {
    req += 1
    val name = r.verb
    def run[T](build: EGraph => DataFrame)(check: Array[Row] => Option[String]): Unit =
      rec.op(phase + name)(trace.span(s"api.$name", req) {
        val df = trace.span(s"api.$name.build")(build(g))
        trace.span(s"api.$name.action")(df.collect())
      }) { rows => rec.rows(phase + name, rows.length); check(rows) }
    r.verb match {
      case "node" => run(_.node(r.a)) { rows =>
        ref.checkNode(r.a, rows.toSeq.map(x => (x.getAs[String]("key_data"), x.getAs[String]("details"))))
      }
      case "indexLookup" =>
        run(_.indexLookup(r.a, if (r.a == "nationkey") "int" else "text", r.b)) { rows =>
          ref.checkIndex(r.a, r.b, strs(rows, "node_key"))
        }
      case "indexRange" => run(_.indexRange(r.a, "double", r.lo, r.hi)) { rows =>
        ref.checkRange(r.lo, r.hi, strs(rows, "node_key"))
      }
      case "linksFrom" => run(_.linksFrom(r.a)) { rows => ref.checkLinks(r.a, None, links(rows)) }
      case "link" => run(_.link(r.a, r.b)) { rows => ref.checkLinks(r.a, Some(r.b), links(rows)) }
      case "search" => run(_.search(r.json)) { rows =>
        ref.checkSearch(r.json, rows.toSeq.map(x => (x.getAs[String]("key_data"), x.getAs[String]("name"))))
      }
      case "neighbors" => run(_.neighbors(r.a, 2)) { rows =>
        ref.checkNeighbors(r.a, 2, rows.toSeq.map(x => (x.getAs[String]("node"), x.getAs[Int]("depth"))))
      }
      case "path" => run(_.path(r.a, r.b)) { rows =>
        ref.checkPath(r.a, r.b, 20, rows.toSeq.map(x => (x.getAs[Int]("step"), x.getAs[String]("node"))))
      }
    }
  }

  private def links(rows: Array[Row]): Seq[(String, Long, Double)] =
    rows.toSeq.map(x => (x.getAs[String]("dst_key"), x.getAs[Long]("n_items"), x.getAs[Double]("sum_qty")))

  // ---- workloads -------------------------------------------------------

  /** Two requests of each verb, one of each then the other, recorded
    * under "warmup." (so outside every latency class): the first run of
    * each verb's plan shape pays Spark's code generation, and the JVM
    * compiles the verb's hot paths over its first runs (after one
    * request of each, the first timed round ran slower than the
    * second); a long-lived process pays both once. */
  def warmUp(g: EGraph): Unit = {
    val byVerb = Gen.requests(seed + 2, tables).take(2 * Gen.lookupRound.size).toSeq
      .groupBy(_.verb).toSeq.sortBy(_._1).map(_._2)
    (0 until 2).foreach(i => byVerb.foreach(rs => read(g, rs(i), "warmup.")))
  }

  /** Whole rounds of the lookup mix until `deadline`, at least two.
    * Returns the number of rounds. */
  def lookup(g: EGraph, deadline: Long): Int = {
    val reqs = Gen.requests(seed, tables)
    var rounds = 0
    while (rounds < 2 || System.nanoTime() < deadline) {
      Gen.lookupRound.indices.foreach(_ => read(g, reqs.next()))
      rounds += 1
    }
    rounds
  }

  /** Ingest cycles through one StreamingIngest query: land a batch,
    * wait until its epoch is visible, then read the write back through
    * a freshly opened store. The first `warm` cycles only land a batch
    * and wait for it, recorded under "warmup." (so outside every
    * latency class): the first merge pays Spark's code generation,
    * which a long-lived query pays once (the read-back path is warm
    * already: every set-up opens the store and reads a node). The next
    * `cycles` are timed. */
  def ingest(batchSize: Int, warm: Int, cycles: Int): Unit = {
    val landing = work.resolve("landing"); Files.createDirectories(landing)
    val staging = work.resolve("staging"); Files.createDirectories(staging)
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("doc", StringType), StructField("ts", LongType)))
    val specs = Seq(
      DocumentIngest.IndexSpec("name", "text", Seq("name")),
      DocumentIngest.IndexSpec("mktsegment", "text", Seq("mktsegment")),
      DocumentIngest.IndexSpec("mktsegment", "text", Seq("mktsegment"), lowercase = true),
      DocumentIngest.IndexSpec("nationkey", "int", Seq("nationkey")),
      DocumentIngest.IndexSpec("acctbal", "double", Seq("acctbal")))
    val (streamSpan, query) = trace.detached("sources.ingest") {
      StreamingIngest.start(spark.readStream.schema(schema).json(landing.toString),
        "key", "doc", "ts", specs, storeRoot, work.resolve("checkpoint").toString)
    }
    try (0 until warm + cycles).foreach { b =>
      val prefix = if (b < warm) "warmup." else ""
      val docs = Gen.batch(seed, b, batchSize, scale.customers)
      val before = GraphStore.currentEpoch(spark, storeRoot).get("nodes")
      val text = docs.zipWithIndex.map { case (d, i) =>
        Stats.json(Map("key" -> d.key, "doc" -> d.details, "ts" -> (b.toLong * batchSize + i)))
      }.mkString("", "\n", "\n").getBytes("UTF-8")
      userBytes += text.length
      batchBytes += text.length
      req += 1
      rec.op(prefix + "write") {
        val tmp = staging.resolve(s"batch-$b.json")
        Files.write(tmp, text)
        trace.span("sources.visible", req) {
          Files.move(tmp, landing.resolve(s"batch-$b.json"), StandardCopyOption.ATOMIC_MOVE)
          val limit = System.nanoTime() + 120L * 1000000000L
          while (GraphStore.currentEpoch(spark, storeRoot).get("nodes") == before) {
            Option(query.exception.orNull).foreach(e => throw e)
            require(System.nanoTime() < limit, s"batch $b not visible after 120 s")
            Thread.sleep(2)
          }
        }
      }(_ => None)
      ref.apply(docs)
      // read your write through a freshly opened store: one of the
      // batch's docs by key, then its batch-only name through the name
      // index
      if (b >= warm) {
        val mine = docs(b % docs.size)
        lazy val fresh = open()
        read(fresh, Gen.Req("node", mine.key), "ingest.")
        read(fresh, Gen.Req("indexLookup", "name", mine.name), "ingest.")
      }
    } finally {
      query.stop()
      trace.end(streamSpan)
    }
  }

  /** The batch jobs of one analytics pass, in order: the EGraph
    * whole-graph verbs, the graph.Algorithms jobs, then the corpus
    * jobs (dedup and ann). */
  val verbJobs = Seq("degrees", "pagerank", "components", "triangles")
  val algorithmJobs = Seq("lpa", "neighborhood", "betweenness", "nodesim")
  val corpusJobs = Seq("exact", "minhash", "contamination", "lsh", "ivf")
  val jobs: Seq[String] = verbJobs ++ algorithmJobs ++ corpusJobs

  private var pairs: DataFrame = _

  /** Output digest per job: every pass must agree with it, and so must
    * every run of the same build and seed (Main loads and saves it). */
  val digests = mutable.HashMap.empty[String, String]

  /** One untimed, unchecked run of each graph job, recorded under
    * "warmup." (so outside every metric): the first run of each job's
    * plan shapes pays Spark's code generation, which a long-lived
    * session pays once. PageRank, label propagation and the
    * neighborhood function run one round here: every round has the same
    * plan shapes. The corpus jobs are not warmed, to fit the run
    * budget: run after the graph jobs, their first run took about 6%
    * longer in total than their second. */
  def analyticsWarmUp(): Unit = pass("warmup.", verbJobs ++ algorithmJobs, warmUp = true)

  /** Whole timed and checked passes until `deadline`, at least one.
    * Returns the number of passes. */
  def analytics(deadline: Long): Int = {
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      pass("", jobs, warmUp = false)
      passes += 1
    }
    passes
  }

  private def pass(prefix: String, names: Seq[String], warmUp: Boolean): Unit = {
    val rounds = if (warmUp) 1 else 2
    val docs = spark.read.parquet(s"$tableDir/documents.parquet")
    val emb = spark.read.parquet(s"$tableDir/embeddings.parquet")
    graft.util.Memos.resetDerived()
    val g = open()
    // the undirected adjacency the Algorithms jobs share, built once
    // per pass the way EGraph builds its own (billed to the first job
    // that uses it)
    lazy val und = GraphBuilder.undirected(g.edges).materialize()
    val build: Map[String, () => DataFrame] = Map(
      "degrees" -> (() => g.degrees),
      "pagerank" -> (() => g.pageRank(if (warmUp) 1 else 3)),
      "components" -> (() => g.connectedComponents()),
      "triangles" -> (() => g.triangles()),
      "lpa" -> (() => Algorithms.labelPropagation(und, rounds)),
      "neighborhood" -> (() => Algorithms.neighborhoodFunction(und, rounds)),
      "betweenness" -> (() => Algorithms.betweenness(und, 8, 3)),
      "nodesim" -> (() => Algorithms.nodeSimilarity(g.edges, 25)),
      "exact" -> (() => Dedup.exactGroups(docs, "doc_id", "text")),
      "minhash" -> { () =>
        pairs = Dedup.minhashNearDups(docs, "doc_id", "text", 0.8)
        Dedup.resolveClusters(pairs.filter(col("j") >= 0.9))
      },
      "contamination" -> (() => Dedup.crossSplitContamination(docs, "doc_id", "text", 8)),
      "lsh" -> (() => Knn.nearDupPairsLsh(emb, "vec_id", "embedding", Gen.dim, 0.35,
        bands = 12, bitsPerBand = 3)),
      "ivf" -> { () =>
        val model = Ivf.train(emb, "vec_id", "embedding", Gen.dim, k = 16)
        Ivf.topK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          Gen.dim, k = 5, model, nprobe = 4)
      })
    // the timed action is collect(): like the noop sink, and unlike
    // count(), it computes every column, and the rows it returns are
    // the ones checked
    names.foreach { name =>
      req += 1
      rec.op(prefix + name)(trace.span(s"job.$name", req) {
        val df = trace.span(s"job.$name.build")(build(name)())
        trace.span(s"job.$name.action")(df.collect())
      })(rows => if (warmUp) None else checkJob(name, rows))
    }
  }

  private def r6(x: Double): String = f"$x%.6f"

  // reference answers of the analytics jobs, computed once (the store
  // they run on does not change)
  private lazy val refPageRank = ref.pageRank(3)
  private lazy val refDegrees = ref.degrees
  private lazy val refComponents = ref.components.toSeq
  private lazy val refNeighborhood = ref.neighborhoodFunction(2)
  private lazy val refNodeSim = ref.nodeSimilarity(25)
  private lazy val refExact = ref.exactGroups
  private lazy val refContamination = ref.contamination(8)

  /** A job's output check: against the client-side reference where one
    * exists, and in every case its digest must match the one recorded
    * first for this build and seed. */
  private def checkJob(name: String, rows: Array[Row]): Option[String] = {
    def render(r: Row): String = r.toSeq.map {
      case d: Double => r6(d)
      case f: Float => r6(f.toDouble)
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")
    val digest = Stats.digest(rows.toSeq.map(render))
    val first = digests.getOrElseUpdate(name, digest)
    val s = (r: Row, c: String) => r.getAs[Any](c).toString
    def num(r: Row, c: String): Double = r.getAs[Any](c) match {
      case n: java.lang.Number => n.doubleValue
      case other => other.toString.toDouble
    }
    def same[T: Ordering](what: String, got: Seq[T], want: Seq[T]): Option[String] =
      if (got.sorted == want.sorted) None
      else Some(s"$what: ${got.size} rows, expected ${want.size}; first diff " +
        got.sorted.diff(want.sorted).headOption.orElse(want.sorted.diff(got.sorted).headOption).getOrElse(""))
    val keys = ref.keys.toSet
    val verdict: Option[String] = name match {
      case "degrees" => same("degrees", rows.toSeq.map(r =>
        (s(r, "node"), num(r, "out_deg").toLong, num(r, "in_deg").toLong)), refDegrees)
      case "pagerank" =>
        val want = refPageRank
        if (rows.length != want.size) Some(s"pagerank: ${rows.length} rows, expected ${want.size}")
        else rows.collectFirst {
          case r if want.get(s(r, "node")).forall(w => math.abs(num(r, "rank") - w) > 1e-6 * math.max(1, w)) =>
            s"pagerank: ${s(r, "node")} rank ${num(r, "rank")} expected ${want.get(s(r, "node"))}"
        }
      case "components" => same("components",
        rows.toSeq.map(r => (s(r, "node"), s(r, "component"))), refComponents)
      case "triangles" =>
        if (rows.length == 1 && num(rows.head, "n_triangles") == ref.triangles) None
        else Some(s"triangles: ${rows.map(render).mkString(",")} expected ${ref.triangles}")
      case "lpa" => same("lpa nodes", rows.toSeq.map(s(_, "node")), ref.keys)
        .orElse(rows.collectFirst { case r if !keys(s(r, "community")) => s"lpa: label ${s(r, "community")} is no node" })
      case "neighborhood" =>
        // HyperLogLog estimates (lg k = 10 at this size): each must lie
        // within 3 standard errors (3 * 1.04 / sqrt(1024) ~ 10%) of the
        // exact count
        val curve = rows.toSeq.map(r => (num(r, "t").toInt, num(r, "n_pairs"))).sorted
        val exact = refNeighborhood
        if (curve.map(_._1) != exact.indices) Some(s"neighborhood: t = ${curve.map(_._1)}")
        else curve.collectFirst {
          case (t, est) if math.abs(est - exact(t)) > 0.1 * exact(t) =>
            s"neighborhood: t=$t estimate $est, exact ${exact(t)}"
        }
      case "betweenness" =>
        rows.collectFirst { case r if !keys(s(r, "node")) => s"betweenness: ${s(r, "node")} is no node" }
      case "nodesim" => same("nodesim",
        rows.toSeq.map(r => (s(r, "a"), s(r, "b"), num(r, "j"))), refNodeSim)
      case "exact" => same("exact", rows.toSeq.map(r =>
        (s(r, "fp"), num(r, "n_copies").toLong, num(r, "keeper").toLong)), refExact)
      case "minhash" =>
        val ps = pairs.collect().toSeq.map(r => (num(r, "a").toLong, num(r, "b").toLong, num(r, "j")))
        val found = ps.map(p => (p._1, p._2)).toSet
        ps.collectFirst {
          case (a, b, j) if math.abs(j - ref.jaccard(a, b)) > 1e-4 || ref.jaccard(a, b) < 0.8 - 1e-9 =>
            s"minhash: pair ($a,$b) j=$j, exact ${ref.jaccard(a, b)}"
        }.orElse(ref.identicalSetPairs.find(p => !found(p)).map(p => s"minhash: identical pair $p missed"))
          .orElse(same("clusters", rows.toSeq.map(r => (num(r, "node").toLong, num(r, "keeper").toLong)),
            ref.clusters(ps.filter(_._3 >= 0.9).map(p => (p._1, p._2))).toSeq))
      case "contamination" => same("contamination",
        rows.toSeq.map(r => (num(r, "doc_id").toLong, num(r, "n_shared").toLong)), refContamination)
      case "lsh" => rows.collectFirst {
        case r if {
          val (a, b) = (num(r, "a").toLong, num(r, "b").toLong)
          a >= b || math.abs(num(r, "sim") - ref.cosine(a, b)) > 1e-4 || ref.cosine(a, b) < 0.35 - 1e-4
        } => s"lsh: pair ${render(r)} cosine ${ref.cosine(num(r, "a").toLong, num(r, "b").toLong)}"
      }
      case "ivf" =>
        val byQuery = rows.toSeq.groupBy(r => num(r, "query_id").toLong)
        byQuery.collectFirst {
          case (q, rs) if {
            val ordered = rs.sortBy(r => num(r, "rk"))
            ordered.map(r => num(r, "rk").toInt) != (1 to rs.size) || rs.size > 5 ||
              ordered.exists(r => num(r, "neighbor_id").toLong == q ||
                math.abs(num(r, "sim") - ref.cosine(q, num(r, "neighbor_id").toLong)) > 1e-4) ||
              ordered.sliding(2).exists(w => w.size == 2 && num(w(1), "sim") > num(w(0), "sim") + 1e-9)
          } => s"ivf: query $q neighbors ${rs.map(render).mkString(";")}"
        }.orElse(if (byQuery.keySet == (0L until 10L).toSet) None
          else Some(s"ivf: queries ${byQuery.keySet.toSeq.sorted}"))
    }
    // sketch estimates depend on the order partial sketches merge in,
    // so the HyperBall job is held to its error bound, not a digest
    verdict.orElse(if (digest == first || name == "neighborhood") None
      else Some(s"$name: output digest $digest differs from the earlier $first"))
  }
}

object Workloads {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Complete version directories under each store table. */
  def versionsOnDisk(root: String): Int =
    Seq("nodes", "edges", "indexes").map { t =>
      val d = Paths.get(root, t)
      if (!Files.isDirectory(d)) 0
      else {
        val s = Files.list(d)
        try s.iterator.asScala.count(v => v.getFileName.toString.startsWith("v") &&
          Files.exists(v.resolve("_SUCCESS")))
        finally s.close()
      }
    }.sum
}

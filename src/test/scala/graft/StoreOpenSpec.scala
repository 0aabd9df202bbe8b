package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.EGraph
import graft.sources.{GraphStore, ParquetDir, StreamingIngest}
import graft.sources.DocumentIngest.IndexSpec

/** The driver-side store open (ParquetDir.open) against the
  * `spark.read.parquet` it replaces: same frame, no Spark job; plus
  * the write side's one-file-per-partition-directory layout and the
  * schema record that keeps an empty table readable. */
class StoreOpenSpec extends AnyFunSuite with SparkFixture {

  private val base = "/tmp/graft-test-store-open"

  private def fresh(name: String): String = {
    val root = s"$base/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Column names, order, types and rows equal a plain read. */
  private def assertOpensLikeRead(dir: String): Unit = {
    val ours = ParquetDir.open(spark, dir)
    val theirs = spark.read.parquet(dir)
    assert(ours.schema == theirs.schema,
      s"$dir\n${ours.schema.treeString}\n${theirs.schema.treeString}")
    val got = rows(ours)
    assert(got.nonEmpty && got == rows(theirs), dir)
  }

  /** Jobs started on this thread while `body` runs, counted after
    * the listener bus drained. */
  private def jobsDuring(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("graft.spec.tag") == tag)) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try body
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      TestBus.drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  test("driver-side open equals spark.read.parquet on every store layout") {
    import spark.implicits._
    val root = fresh("equiv")
    val g = EGraph.fromTables(spark, sfDir)
    // nodes and edges: shard int partition
    assertOpensLikeRead(s"$root/nodes/${GraphStore.saveNodes(g.nodes, root)}")
    assertOpensLikeRead(s"$root/edges/${GraphStore.saveEdges(g.edges, root)}")
    // indexes: (index_name, key_type) partitions plus key_num
    val iv = GraphStore.saveIndexes(g.indexes, root)
    assertOpensLikeRead(s"$root/indexes/$iv")
    // an expiry-stamped node table
    val ttl = fresh("equiv-ttl")
    val nodes = Seq(("k1", "d1", 1L), ("k2", "d2", 2L))
      .toDF("key_data", "details", "id")
    val tv = GraphStore.saveNodes(GraphStore.withExpiry(nodes, 3600L), ttl)
    assertOpensLikeRead(s"$ttl/nodes/$tv")
    // a pre-versioning plain layout, read through the store's loader
    val plain = fresh("equiv-plain")
    nodes.withColumn("shard", (col("id") % 2).cast("int"))
      .write.partitionBy("shard").parquet(s"$plain/nodes")
    assertOpensLikeRead(s"$plain/nodes")
    assert(rows(GraphStore.loadNodes(spark, plain)) ==
      rows(spark.read.parquet(s"$plain/nodes")))
    // a version holding markers, checksums and a stray epoch temp file
    val dir = s"$root/indexes/$iv"
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.mkString(","))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "._EPOCH.v0000000000000-0001.tmp"),
      "nodes=v0".getBytes("UTF-8"))
    assertOpensLikeRead(dir)
    // the store's probes still prune to one partition directory
    val scan = GraphStore.probeStored(spark, root, "mktsegment", "text",
      "BUILDING").queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("index_name"),
      scan)
  }

  test("opening a store starts no Spark job") {
    val root = fresh("jobs")
    val g = EGraph.fromTables(spark, sfDir)
    GraphStore.saveNodes(g.nodes, root)
    GraphStore.saveEdges(g.edges, root)
    GraphStore.saveIndexes(g.indexes, root)
    assert(jobsDuring(EGraph.fromStore(spark, root)) == 0)
    assert(jobsDuring(GraphStore.loadSnapshot(spark, root)) == 0)
    // the probe itself does run, and the count sees it
    assert(jobsDuring(GraphStore.nodeByKey(spark, root, "c:1").collect()) > 0)
  }

  test("empty tables open as empty frames with the non-empty schema") {
    val g = EGraph.fromTables(spark, sfDir)
    val full = fresh("empty-ref")
    GraphStore.saveNodes(g.nodes, full)
    GraphStore.saveEdges(g.edges, full)
    GraphStore.saveIndexes(g.indexes, full)
    val empty = fresh("empty")
    GraphStore.saveNodes(g.nodes.limit(0), empty)
    GraphStore.saveEdges(g.edges.limit(0), empty)
    GraphStore.saveIndexes(g.indexes.limit(0), empty)
    val loads = Seq[(org.apache.spark.sql.SparkSession, String) => DataFrame](
      GraphStore.loadNodes, GraphStore.loadEdges, GraphStore.loadIndexes)
    for (load <- loads) {
      val e = load(spark, empty)
      assert(e.schema == load(spark, full).schema, e.schema.treeString)
      assert(e.collect().isEmpty)
    }
    val re = EGraph.fromStore(spark, empty)
    assert(re.nodes.count() == 0 && re.edges.count() == 0 &&
      re.indexes.count() == 0)
  }

  test("streaming ingest: a batch with no indexed field, then one with") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = fresh("stream-empty-ix")
    val ckpt = fresh("stream-empty-ix-ckpt")
    val specs = Seq(IndexSpec("capital", "text", Seq("capital")))
    val ms = MemoryStream[(String, String, Timestamp)]
    val stream = ms.toDF().toDF("key", "doc", "ts")
    def runOnce(): Unit = StreamingIngest.start(stream, "key", "doc", "ts",
      specs, root, ckpt, availableNow = true).awaitTermination()
    val t = Timestamp.valueOf("2020-01-01 00:00:00")
    ms.addData(("india", """{"name":"India"}""", t))
    runOnce()
    assert(GraphStore.loadIndexes(spark, root).count() == 0)
    ms.addData(("japan", """{"capital":"Tokyo"}""", t))
    runOnce()
    assert(GraphStore.loadNodes(spark, root).count() == 2)
    assert(GraphStore.probeStored(spark, root, "capital", "text", "Tokyo")
      .as[String].collect().toSeq == Seq("japan"))
  }

  test("an upsert batch writes one data file per shard directory") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = fresh("one-file")
    val ckpt = fresh("one-file-ckpt")
    val specs = Seq(IndexSpec("capital", "text", Seq("capital")))
    val ms = MemoryStream[(String, String, Timestamp)]
    val t = Timestamp.valueOf("2020-01-01 00:00:00")
    def upsert(keys: Range): Unit = {
      ms.addData(keys.map(i => (s"k$i", s"""{"capital":"c${i % 7}"}""", t)))
      StreamingIngest.start(ms.toDF().toDF("key", "doc", "ts"), "key", "doc",
        "ts", specs, root, ckpt, availableNow = true).awaitTermination()
    }
    // the second batch merges into the stored nodes, so its input
    // spans several upstream tasks
    upsert(1 to 400)
    upsert(301 to 500)
    val version = new java.io.File(
      s"$root/nodes/${GraphStore.currentEpoch(spark, root)("nodes")}")
    val shards = version.listFiles().filter(_.getName.startsWith("shard="))
    assert(shards.length == 64)
    for (d <- shards) {
      val data = d.list().filterNot(n => ParquetDir.hidden(n))
      assert(data.length == 1, s"$d: ${data.mkString(",")}")
    }
    assert(GraphStore.loadNodes(spark, root).count() == 500)
  }
}

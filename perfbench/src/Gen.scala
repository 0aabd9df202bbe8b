package perfbench

import java.util.SplittableRandom


/** Seeded input generators. Every stream is a pure function of
  * (seed, stream name, scale): the same seed gives byte-identical
  * tables, requests, batches and parameters, and the program under
  * test only ever sees what these functions produce. */
object Gen {

  /** Row counts of one generated data set (TPC-H-like ratios: about
    * four line items per order, ten customers per supplier). */
  final case class Scale(customers: Int, suppliers: Int, orders: Int,
      docs: Int, vectors: Int)

  def scale(sf: Double): Scale = Scale(
    customers = (150000 * sf).toInt, suppliers = (10000 * sf).toInt,
    orders = (1500000 * sf).toInt, docs = (50000 * sf).toInt,
    vectors = (20000 * sf).toInt)

  def rng(seed: Long, stream: String): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L
    stream.foreach { ch => h = (h ^ ch) * 0xBF58476D1CE4E5B9L; h ^= h >>> 31 }
    new SplittableRandom(h)
  }

  val segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  final case class Customer(key: Long, name: String, nation: Int,
      acctCents: Long, segment: String) {
    def nodeKey: String = s"c:$key"
  }
  final case class Supplier(key: Long, name: String, nation: Int,
      acctCents: Long) {
    def nodeKey: String = s"s:$key"
  }
  /** One line item, flattened with its order's customer. */
  final case class Item(order: Long, cust: Long, supp: Long, qty: Int)

  /** The raw tables of one data set; the graph, its indexes and the
    * corpus jobs are all derived from these by the library. */
  final case class Tables(customers: IndexedSeq[Customer],
      suppliers: IndexedSeq[Supplier], items: IndexedSeq[Item],
      docs: IndexedSeq[(Long, String)],
      vectors: IndexedSeq[(Long, Array[Float], Int)])

  /** Exact 2-dp rendering, as a decimal(12,2) cast to string prints. */
  def cents(c: Long): String = java.math.BigDecimal.valueOf(c, 2).toPlainString

  private val vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "graph", "node", "edge", "index", "shard", "scan", "join",
    "query", "batch", "stream", "merge", "epoch", "table", "column", "row",
    "hash", "sort", "group", "filter", "window", "vector", "token", "corpus",
    "fast", "slow", "small", "big", "key", "value", "page", "rank", "path",
    "depth", "label", "cluster", "bloom", "sketch", "split", "train")

  def tables(seed: Long, sc: Scale): Tables = {
    val r = rng(seed, "tables")
    val customers = (0 until sc.customers).map { k =>
      Customer(k, f"Customer#$k%09d", r.nextInt(25),
        r.nextLong(-99999L, 1000000L), segments(r.nextInt(segments.size)))
    }
    val suppliers = (0 until sc.suppliers).map { k =>
      Supplier(k, f"Supplier#$k%09d", r.nextInt(25),
        r.nextLong(-99999L, 1000000L))
    }
    val items = IndexedSeq.newBuilder[Item]
    var o = 0L
    while (o < sc.orders) {
      val cust = r.nextInt(sc.customers).toLong
      val n = 1 + r.nextInt(7)
      var i = 0
      while (i < n) {
        items += Item(o, cust, r.nextInt(sc.suppliers).toLong, 1 + r.nextInt(50))
        i += 1
      }
      o += 1
    }
    Tables(customers, suppliers, items.result(), docs(seed, sc.docs),
      vectors(seed, sc.vectors))
  }

  /** Documents with planted duplicates: ~8% exact copies and ~12%
    * token-shuffled near copies of an earlier document. */
  def docs(seed: Long, n: Int): IndexedSeq[(Long, String)] = {
    val r = rng(seed, "docs")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      val text =
        if (i > 0 && u < 0.08) out(r.nextInt(i))._2
        else if (i > 0 && u < 0.20) {
          val toks = out(r.nextInt(i))._2.split(" ").toBuffer
          val j = r.nextInt(toks.size)
          toks(j) = vocab(r.nextInt(vocab.size))
          shuffle(toks.toIndexedSeq, r).mkString(" ")
        } else
          IndexedSeq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size)))
            .mkString(" ")
      out += ((i.toLong, text))
    }
    out.toIndexedSeq
  }

  private def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  val dim = 64

  /** Embeddings around 10 label centres, ~10% near-copies of an
    * earlier vector. */
  def vectors(seed: Long, n: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = rng(seed, "vectors")
    val centres = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]
    (0 until n).foreach { i =>
      val (v, label) =
        if (i > 0 && r.nextDouble() < 0.10) {
          val (_, src, l) = out(r.nextInt(i))
          (src.map(x => (x + (r.nextDouble() - 0.5) * 0.01).toFloat), l)
        } else {
          val l = r.nextInt(10)
          (Array.tabulate(dim)(d =>
            (centres(l)(d) * 0.3 + (r.nextDouble() * 2 - 1)).toFloat), l)
        }
      out += ((i.toLong, v, label))
    }
    out.toIndexedSeq
  }

  /** Writes the raw tables as parquet under `dir`, in the layout
    * `graft.Tables` reads: one file per table, written by the parquet
    * library directly, so generating inputs runs no Spark job. */
  def write(t: Tables, dir: String): Unit = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    def save[T](name: String, fields: String, rows: Seq[T])(fill: (Group, T) => Unit): Unit = {
      val schema = MessageTypeParser.parseMessageType(s"message $name { $fields }")
      val factory = new SimpleGroupFactory(schema)
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(s"$dir/$name.parquet/part-00000.parquet"))
        .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
      try rows.foreach { r => val g = factory.newGroup(); fill(g, r); w.write(g) }
      finally w.close()
    }
    save("customer", "required int64 c_custkey; required binary c_name (UTF8); " +
        "required int32 c_nationkey; required double c_acctbal; " +
        "required binary c_mktsegment (UTF8);", t.customers) { (g, c) =>
      g.append("c_custkey", c.key).append("c_name", c.name).append("c_nationkey", c.nation)
        .append("c_acctbal", c.acctCents / 100.0).append("c_mktsegment", c.segment)
    }
    save("supplier", "required int64 s_suppkey; required binary s_name (UTF8); " +
        "required int32 s_nationkey; required double s_acctbal;", t.suppliers) { (g, s) =>
      g.append("s_suppkey", s.key).append("s_name", s.name).append("s_nationkey", s.nation)
        .append("s_acctbal", s.acctCents / 100.0)
    }
    save("orders", "required int64 o_orderkey; required int64 o_custkey;",
        t.items.map(i => (i.order, i.cust)).distinct) { (g, o) =>
      g.append("o_orderkey", o._1).append("o_custkey", o._2)
    }
    save("lineitem", "required int64 l_orderkey; required int64 l_suppkey; " +
        "required double l_quantity;", t.items) { (g, i) =>
      g.append("l_orderkey", i.order).append("l_suppkey", i.supp)
        .append("l_quantity", i.qty.toDouble)
    }
    save("documents", "required int64 doc_id; required binary text (UTF8);", t.docs) {
      (g, d) => g.append("doc_id", d._1).append("text", d._2)
    }
    save("embeddings", "required int64 vec_id; required group embedding (LIST) " +
        "{ repeated group list { required float element; } } required int32 label;",
        t.vectors) { (g, v) =>
      g.append("vec_id", v._1)
      val list = g.addGroup("embedding")
      v._2.foreach(x => list.addGroup("list").append("element", x))
      g.append("label", v._3)
    }
  }

  // ---- request, batch and parameter streams ------------------------

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF, binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** One client request of the lookup mix. `a`/`b` are keys or index
    * values, `lo`/`hi` a range, `json` a search document. */
  final case class Req(verb: String, a: String = "", b: String = "",
      lo: Double = 0, hi: Double = 0, json: String = "") {
    def render: String = s"$verb|$a|$b|$lo|$hi|$json"
  }

  /** One round of the lookup phase: every point verb twice and each
    * traversal once, as (verb, key kind) templates issued in a seeded
    * order; only the keys vary. No record of real traffic exists for
    * this API, so no verb is issued more often than another of its
    * class, and the end-to-end metrics count every verb once. */
  val lookupRound: IndexedSeq[(String, String)] = IndexedSeq(
    "node" -> "customer", "node" -> "supplier",
    "indexLookup" -> "name", "indexLookup" -> "value",
    "indexRange" -> "", "indexRange" -> "",
    "linksFrom" -> "", "linksFrom" -> "",
    "link" -> "linked", "link" -> "random",
    "search" -> "", "search" -> "",
    "neighbors" -> "", "path" -> "")

  /** Requests per verb in one round. */
  val lookupMix: Seq[(String, Int)] =
    lookupRound.groupBy(_._1).map { case (v, xs) => v -> xs.size }.toSeq.sortBy(_._1)

  /** Infinite seeded request stream, round after round. Keys are
    * Zipf(1.1) over a seeded permutation of the customers (suppliers),
    * so a hot set repeats; traversals start from customers. */
  def requests(seed: Long, t: Tables): Iterator[Req] = {
    val r = rng(seed, "requests")
    val custs = shuffle(t.customers, r)
    val supps = shuffle(t.suppliers, r)
    val zc = new Zipf(custs.size, 1.1)
    val zs = new Zipf(supps.size, 1.1)
    val suppOf = t.items.groupBy(_.cust).map { case (c, is) => c -> is.map(_.supp).distinct.sorted }
    def cust() = custs(zc.sample(r))
    def supp() = supps(zs.sample(r))
    Iterator.continually(shuffle(lookupRound, r)).flatten.map {
      case ("node", "supplier") => Req("node", supp().nodeKey)
      case ("node", _) => Req("node", cust().nodeKey)
      case ("indexLookup", kind) =>
        val c = cust()
        if (kind == "name") Req("indexLookup", "name", c.name)
        else r.nextInt(3) match {
          case 0 => Req("indexLookup", "nationkey", c.nation.toString)
          case 1 => Req("indexLookup", "mktsegment", c.segment)
          case _ => Req("indexLookup", "mktsegment_lc__", c.segment.toLowerCase)
        }
      case ("indexRange", _) =>
        val lo = r.nextLong(-99999L, 1000000L)
        Req("indexRange", "acctbal", lo = lo / 100.0, hi = (lo + 2000) / 100.0)
      case ("linksFrom", _) => Req("linksFrom", cust().nodeKey)
      case ("link", kind) =>
        val c = cust()
        val ss = suppOf.getOrElse(c.key, IndexedSeq.empty)
        val s = if (kind == "linked" && ss.nonEmpty) ss(r.nextInt(ss.size))
          else r.nextInt(t.suppliers.size).toLong
        Req("link", c.nodeKey, s"s:$s")
      case ("search", _) =>
        val c = cust()
        val lo = r.nextLong(-99999L, 1000000L)
        Req("search", json = searchJson(c.segment, lo / 100.0, (lo + 5000) / 100.0, c.nation))
      case ("neighbors", _) => Req("neighbors", cust().nodeKey)
      case _ =>
        // two distinct customers: a path of two hops through a shared
        // supplier, or four
        val a = cust()
        var b = cust()
        while (b == a) b = cust()
        Req("path", a.nodeKey, b.nodeKey)
    }
  }

  def searchJson(segment: String, lo: Double, hi: Double, nation: Int): String =
    s"""{"query":{"type":"index","conditions":{"any":[""" +
      s"""{"key":"$segment","key_type":"text","index_name":"mktsegment"},""" +
      s"""{"key":[$lo,$hi],"key_type":"double","index_name":"acctbal"}],""" +
      s""""filters":[{"key":$nation,"key_type":"int","index_json_path":["details","nationkey"]}]},""" +
      s""""selected_paths":{"name":["details","name"]}}}"""

  /** One ingest document: a customer node's key and details. */
  final case class Doc(key: String, name: String, nation: Int,
      acctCents: Long, segment: String) {
    def details: String =
      s"""{"name":"$name","nationkey":$nation,"acctbal":"${cents(acctCents)}","mktsegment":"$segment"}"""
  }

  /** Ingest batch `b` (0-based): `size` docs, ~90% updates of existing
    * customers chosen uniformly, the rest new keys. Every doc gets a
    * name unique to the batch, so a name-index probe reads only this
    * batch's writes. */
  def batch(seed: Long, b: Int, size: Int, customers: Int): IndexedSeq[Doc] = {
    val r = rng(seed, s"batch-$b")
    val keys = scala.collection.mutable.LinkedHashSet.empty[String]
    var fresh = 0
    while (keys.size < size) {
      if (r.nextInt(10) == 0) { keys += s"c:${customers + b * size + fresh}"; fresh += 1 }
      else keys += s"c:${r.nextInt(customers)}"
    }
    keys.toIndexedSeq.zipWithIndex.map { case (k, i) =>
      Doc(k, f"Ingested#$seed%d-$b%d-$i%d", r.nextInt(25),
        r.nextLong(-99999L, 1000000L), segments(r.nextInt(segments.size)))
    }
  }
}

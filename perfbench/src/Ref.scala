package perfbench

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

import Gen._

/** Client-side reference answers, computed from the generated tables
  * with plain Scala collections. Nothing here calls the library, so a
  * check never reuses the code it checks. Each check returns the
  * reason it failed, or None. */
final class Ref(t: Tables) {

  /** Current customer documents; the ingest workload updates them. */
  val docs: mutable.Map[String, Doc] = mutable.LinkedHashMap(t.customers.map(c =>
    c.nodeKey -> Doc(c.nodeKey, c.name, c.nation, c.acctCents, c.segment)): _*)

  private val supplierDetails: Map[String, String] = t.suppliers.map(s =>
    s.nodeKey -> s"""{"name":"${s.name}","nationkey":${s.nation},"acctbal":"${cents(s.acctCents)}"}""").toMap

  def details(key: String): Option[String] =
    docs.get(key).map(_.details).orElse(supplierDetails.get(key))

  /** Directed links (customer, supplier) -> (n_items, sum_qty). */
  val links: Map[(String, String), (Long, Double)] =
    t.items.groupBy(i => (s"c:${i.cust}", s"s:${i.supp}")).map { case (k, is) =>
      k -> (is.size.toLong, is.map(_.qty.toLong).sum.toDouble)
    }
  private val linksBySrc: Map[String, Seq[(String, Long, Double)]] =
    links.toSeq.groupBy(_._1._1).map { case (s, xs) =>
      s -> xs.map { case ((_, d), (n, q)) => (d, n, q) } }

  // undirected adjacency over int ids
  val keys: IndexedSeq[String] =
    links.keys.flatMap { case (c, s) => Seq(c, s) }.toSeq.distinct.sorted.toIndexedSeq
  private val idx: Map[String, Int] = keys.zipWithIndex.toMap
  val adj: Array[Array[Int]] = {
    val b = Array.fill(keys.size)(mutable.ArrayBuilder.make[Int])
    links.keys.foreach { case (c, s) =>
      val (x, y) = (idx(c), idx(s)); b(x) += y; b(y) += x
    }
    b.map(_.result().distinct.sorted)
  }

  /** Node -> hop distance, for every node within `maxDepth` of `src`. */
  def bfs(src: String, maxDepth: Int): Map[String, Int] = idx.get(src) match {
    case None => Map(src -> 0)
    case Some(s) =>
      val dist = mutable.HashMap(s -> 0)
      var frontier = Seq(s)
      var d = 0
      while (d < maxDepth && frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      dist.map { case (i, k) => keys(i) -> k }.toMap
  }

  private def adjacent(a: String, b: String): Boolean =
    (idx.get(a), idx.get(b)) match {
      case (Some(x), Some(y)) => java.util.Arrays.binarySearch(adj(x), y) >= 0
      case _ => false
    }

  // ---- index model -------------------------------------------------

  /** Node keys an exact index probe must return. */
  def indexKeys(name: String, key: String): Seq[String] = {
    val f: Doc => String = name match {
      case "name" => _.name
      case "nationkey" => _.nation.toString
      case "mktsegment" => _.segment
      case "mktsegment_lc__" => _.segment.toLowerCase
    }
    docs.valuesIterator.filter(d => f(d) == key).map(_.key).toSeq
  }

  def rangeKeys(lo: Double, hi: Double): Seq[String] =
    docs.valuesIterator.filter { d => val v = d.acctCents / 100.0; v >= lo && v <= hi }
      .map(_.key).toSeq

  // ---- checks --------------------------------------------------------

  private def same[T](what: String, got: Seq[T], want: Seq[T])(
      implicit o: Ordering[T]): Option[String] =
    if (got.sorted == want.sorted) None
    else Some(s"$what: ${got.size} rows, expected ${want.size}; first diff " +
      got.sorted.diff(want.sorted).headOption.orElse(want.sorted.diff(got.sorted).headOption)
        .getOrElse(""))

  private def parse(s: String): JValue = JsonMethods.parse(s)

  /** `node`: (key_data, details) rows. */
  def checkNode(key: String, rows: Seq[(String, String)]): Option[String] =
    details(key) match {
      case None => if (rows.isEmpty) None else Some(s"node $key: unexpected rows")
      case Some(d) =>
        if (rows.size != 1) Some(s"node $key: ${rows.size} rows, expected 1")
        else if (rows.head._1 != key) Some(s"node $key: key ${rows.head._1}")
        else if (parse(rows.head._2) != parse(d)) Some(s"node $key: details ${rows.head._2} != $d")
        else None
    }

  def checkIndex(name: String, key: String, got: Seq[String]): Option[String] =
    same(s"indexLookup $name=$key", got, indexKeys(name, key))

  def checkRange(lo: Double, hi: Double, got: Seq[String]): Option[String] =
    same(s"indexRange [$lo,$hi]", got, rangeKeys(lo, hi))

  /** `linksFrom`/`link`: (dst_key, n_items, sum_qty) rows. */
  def checkLinks(src: String, dst: Option[String],
      got: Seq[(String, Long, Double)]): Option[String] = {
    val want = linksBySrc.getOrElse(src, Nil).filter(l => dst.forall(_ == l._1))
    same(s"links $src${dst.map("->" + _).getOrElse("")}", got, want)
  }

  def checkSearch(json: String, got: Seq[(String, String)]): Option[String] = {
    val q = parse(json) \ "query" \ "conditions"
    val JArray(any) = q \ "any"
    val seg = (any.head \ "key").values.toString
    val JArray(lo :: hi :: Nil) = any(1) \ "key"
    val (l, h) = (num(lo), num(hi))
    val nation = num((q \ "filters")(0) \ "key").toInt
    val want = docs.valuesIterator.filter { d =>
      val v = d.acctCents / 100.0
      (d.segment == seg || (v >= l && v <= h)) && d.nation == nation
    }.map(d => (d.key, d.name)).toSeq
    same("search", got, want)
  }

  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JInt(i) => i.toDouble
    case JLong(i) => i.toDouble
    case other => other.values.toString.toDouble
  }

  def checkNeighbors(src: String, depth: Int, got: Seq[(String, Int)]): Option[String] =
    same(s"neighbors $src", got, bfs(src, depth).toSeq)

  /** `path`: (step, node) rows; any valid path within `maxDepth` hops
    * passes, and it must exist exactly when the nodes are connected. */
  def checkPath(src: String, dst: String, maxDepth: Int,
      got: Seq[(Int, String)]): Option[String] = {
    val reachable = bfs(src, maxDepth).contains(dst)
    val p = got.sortBy(_._1)
    if (!reachable) if (p.isEmpty) None else Some(s"path $src->$dst: unreachable but got ${p.size} rows")
    else if (p.isEmpty) Some(s"path $src->$dst: reachable but empty")
    else if (p.map(_._1) != p.indices) Some(s"path $src->$dst: steps ${p.map(_._1)}")
    else if (p.head._2 != src || p.last._2 != dst) Some(s"path $src->$dst: ends ${p.head._2}..${p.last._2}")
    else if (p.size - 1 > maxDepth) Some(s"path $src->$dst: ${p.size - 1} hops")
    else p.sliding(2).collectFirst {
      case Seq((_, a), (_, b)) if !adjacent(a, b) => s"path $src->$dst: $a-$b is no link"
    }
  }

  /** Apply an ingest batch to the model (last write per key wins). */
  def apply(batch: Seq[Doc]): Unit = batch.foreach(d => docs(d.key) = d)

  // ---- batch jobs ----------------------------------------------------

  def degrees: Seq[(String, Long, Long)] = {
    val out = links.keys.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val in = links.keys.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    (out.keySet ++ in.keySet).toSeq.map(k => (k, out.getOrElse(k, 0L), in.getOrElse(k, 0L)))
  }

  /** PageRank with uniform teleport over the undirected adjacency, the
    * textbook update (1 - d) + d * sum(rank(u) / deg(u)). */
  def pageRank(iters: Int, damping: Double = 0.85): Map[String, Double] = {
    var rank = Array.fill(keys.size)(1.0)
    (1 to iters).foreach { _ =>
      val next = Array.fill(keys.size)(0.0)
      adj.indices.foreach { u =>
        val share = rank(u) / adj(u).length
        adj(u).foreach(v => next(v) += share)
      }
      rank = next.map(x => (1 - damping) + damping * x)
    }
    keys.indices.map(i => keys(i) -> rank(i)).toMap
  }

  /** Component label = the smallest node key in the component. */
  def components: Map[String, String] = {
    val label = new Array[String](keys.size)
    keys.indices.foreach { s =>
      if (label(s) == null) {
        val members = mutable.ArrayBuffer(s)
        val seen = mutable.HashSet(s)
        var i = 0
        while (i < members.size) {
          adj(members(i)).foreach(v => if (seen.add(v)) members += v)
          i += 1
        }
        val min = members.map(keys(_)).min
        members.foreach(label(_) = min)
      }
    }
    keys.indices.map(i => keys(i) -> label(i)).toMap
  }

  /** Exact neighborhood function: for t = 0..maxDepth, the number of
    * (node, node within t hops) pairs, by bitset ball growth. */
  def neighborhoodFunction(maxDepth: Int): Seq[Long] = {
    val n = keys.size
    val words = (n + 63) / 64
    var ball = Array.tabulate(n) { v => val b = new Array[Long](words); b(v / 64) |= 1L << (v % 64); b }
    def size = ball.iterator.map(_.iterator.map(java.lang.Long.bitCount).sum.toLong).sum
    val out = mutable.ArrayBuffer(size)
    (1 to maxDepth).foreach { _ =>
      ball = Array.tabulate(n) { v =>
        val b = ball(v).clone()
        adj(v).foreach { u => val o = ball(u); var i = 0; while (i < words) { b(i) |= o(i); i += 1 } }
        b
      }
      out += size
    }
    out.toSeq
  }

  /** Triangles: every link joins a customer to a supplier, so the
    * graph is bipartite and has none. */
  def triangles: Long = 0L

  /** Top `k` supplier pairs by Jaccard of their customer sets,
    * rounded half-up to 4 places, ordered (j desc, a, b). */
  def nodeSimilarity(k: Int): Seq[(String, String, Double)] = {
    val supps = t.suppliers.map(_.nodeKey).filter(idx.contains).sorted
    val n = supps.size
    val si = supps.zipWithIndex.toMap
    val deg = supps.map(s => adj(idx(s)).length)
    val inter = new Array[Int](n * n)
    links.keys.groupBy(_._1).valuesIterator.foreach { ls =>
      val ss = ls.map(l => si(l._2)).toArray.sorted
      for (i <- ss.indices; j <- i + 1 until ss.length) inter(ss(i) * n + ss(j)) += 1
    }
    (for (a <- 0 until n; b <- a + 1 until n if inter(a * n + b) > 0) yield {
      val c = inter(a * n + b)
      (supps(a), supps(b), round4(c.toDouble / (deg(a) + deg(b) - c)))
    }).sortBy { case (a, b, j) => (-j, a, b) }.take(k)
  }

  // ---- corpus jobs ---------------------------------------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Exact groups by distinct-token-set fingerprint:
    * (fp, n_copies, keeper). */
  def exactGroups: Seq[(String, Long, Long)] =
    t.docs.groupBy { case (_, s) => md5hex(s.split(" ").distinct.sorted.mkString(" ")) }
      .map { case (fp, ds) => (fp, ds.size.toLong, ds.map(_._1).min) }.toSeq

  private lazy val tokenSets: Map[Long, Set[String]] =
    t.docs.map { case (id, s) => id -> s.split(" ").toSet }.toMap

  def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (tokenSets(a), tokenSets(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Documents whose distinct token sets are identical: every pair
    * of them has Jaccard 1 and must be found by any near-dup search. */
  def identicalSetPairs: Set[(Long, Long)] =
    t.docs.groupBy { case (_, s) => s.split(" ").distinct.sorted.mkString(" ") }
      .valuesIterator.flatMap { ds =>
        val ids = ds.map(_._1).sorted
        for (i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator)
          yield (ids(i), ids(j))
      }.toSet

  /** Union-find clusters over pairs: node -> smallest id in its cluster. */
  def clusters(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }

  /** Cross-split contamination: for each non-train document, how many
    * of its word 8-gram positions occur in any train document. Split
    * by the first md5 hex byte of the id: below "cc" is train. */
  def contamination(n: Int = 8): Seq[(Long, Long)] = {
    def train(id: Long) = md5hex(id.toString).take(2) < "cc"
    def grams(s: String) = s.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" "))
    val trainGrams = t.docs.filter(d => train(d._1)).flatMap(d => grams(d._2)).toSet
    t.docs.filterNot(d => train(d._1)).flatMap { case (id, s) =>
      val k = grams(s).count(trainGrams)
      if (k > 0) Some(id -> k.toLong) else None
    }
  }

  private lazy val vecs: Map[Long, Array[Float]] =
    t.vectors.map { case (id, v, _) => id -> v }.toMap

  def cosine(a: Long, b: Long): Double = {
    val (x, y) = (vecs(a), vecs(b))
    var (d, nx, ny) = (0.0, 0.0, 0.0)
    x.indices.foreach { i => d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
    d / math.sqrt(nx * ny)
  }

  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
}

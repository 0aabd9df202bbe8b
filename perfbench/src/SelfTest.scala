package perfbench

/** The benchmark's own tests (no Spark needed):
  *
  *   python3 perfbench/run.py --selftest
  *
  * Exits non-zero if any test fails. */
object SelfTest {

  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private val small = Gen.Scale(customers = 300, suppliers = 20, orders = 3000,
    docs = 100, vectors = 40)

  /** Every generated stream rendered to one string. */
  private def streams(seed: Long): String = {
    val t = Gen.tables(seed, small)
    Seq(
      t.customers.mkString("\n"), t.suppliers.mkString("\n"), t.items.mkString("\n"),
      t.docs.mkString("\n"),
      t.vectors.map { case (id, v, l) => s"$id ${v.mkString(",")} $l" }.mkString("\n"),
      Gen.requests(seed, t).take(300).map(_.render).mkString("\n"),
      (0 until 3).flatMap(b => Gen.batch(seed, b, 50, small.customers)).map(_.details).mkString("\n")
    ).mkString("\n--\n")
  }

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical tables, requests and batches") {
      val (a, b) = (streams(7), streams(7))
      check(java.util.Arrays.equals(a.getBytes("UTF-8"), b.getBytes("UTF-8")), "streams differ")
    }
    test("a different seed changes every stream") {
      val (a, b) = (streams(7).split("\n--\n"), streams(8).split("\n--\n"))
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) => check(x != y, s"stream $i unchanged") }
    }
    test("every round of the request stream holds the round's verb counts") {
      val t = Gen.tables(3, small)
      Gen.requests(3, t).take(10 * Gen.lookupRound.size).grouped(Gen.lookupRound.size).foreach { round =>
        val counts = round.groupBy(_.verb).map { case (v, rs) => v -> rs.size }
        check(counts == Gen.lookupMix.toMap, s"round mix $counts")
      }
    }
    test("ingest batches: distinct keys, some new, names unique to the batch") {
      val b = Gen.batch(5, 2, 50, small.customers)
      check(b.map(_.key).distinct.size == 50, "duplicate keys in a batch")
      check(b.exists(_.key.drop(2).toInt >= small.customers), "no new keys")
      check(b.forall(_.name.startsWith("Ingested#5-2-")), "names not batch-unique")
    }
    test("tail percentile leaves at least ten samples beyond it, and is the highest such") {
      def beyond(n: Int, p: Int): Int = {
        val xs = (1 to n).map(_.toDouble)
        val v = Stats.percentile(xs, p)
        xs.count(_ > v)
      }
      Seq(11, 12, 19, 20, 21, 37, 50, 99, 100, 101, 200, 1000, 5000).foreach { n =>
        val p = Stats.tailPercentile(n)
        check(beyond(n, p) >= 10, s"n=$n p$p leaves ${beyond(n, p)}")
        check(p == 99 || beyond(n, p + 1) < 10, s"n=$n p${p + 1} also qualifies")
      }
      check(Stats.tailPercentile(100) == 90, s"n=100 gives p${Stats.tailPercentile(100)}")
      check(Stats.tailPercentile(10) == 0, "n=10 must fall back to p0")
      val t = Stats.tail((1 to 200).map(_.toDouble))
      check(t.percentile == 95 && t.samples == 200, s"tail record $t")
    }
    test("a corrupted result is a failure and is never timed as a success") {
      val t = Gen.tables(4, small)
      val ref = new Ref(t)
      val src = t.customers.map(_.nodeKey).find(k => ref.bfs(k, 2).size > 3).get
      val good = ref.bfs(src, 2).toSeq
      val rec = new Recorder
      rec.op("neighbors")(good)(rows => ref.checkNeighbors(src, 2, rows))
      check(rec.failed == 0 && rec.ms(_ => true).size == 1, "the correct result was not accepted")
      val corrupted = Seq(good.drop(1), good :+ ("s:999999" -> 1),
        good.map { case (n, d) => (n, d + 1) })
      corrupted.foreach(rows => rec.op("neighbors")(rows)(rows => ref.checkNeighbors(src, 2, rows)))
      rec.op("neighbors")(throw new RuntimeException("boom"))(_ => None)
      check(rec.attempted == 5, s"attempted ${rec.attempted}")
      check(rec.failed == 4, s"failed ${rec.failed}: ${rec.failures}")
      check(rec.ms(_ => true).size == 1, "a failed operation was timed as a success")
    }
    test("path check rejects a hop that is no link") {
      val t = Gen.tables(4, small)
      val ref = new Ref(t)
      val (a, b) = (t.customers(0).nodeKey, t.customers(1).nodeKey)
      check(ref.checkPath(a, b, 20, Seq(0 -> a, 1 -> b)).isDefined, "customer-customer hop accepted")
    }
    test("JSON writer escapes strings and keeps numbers") {
      val s = Stats.json(Map("a" -> "q\"\\\n", "b" -> 1.5, "c" -> Seq(1, 2)))
      check(s == """{"a":"q\"\\\n","b":1.5,"c":[1,2]}""", s)
    }
    if (failed > 0) { println(s"$failed test(s) failed"); sys.exit(1) }
    println("all tests passed")
  }
}

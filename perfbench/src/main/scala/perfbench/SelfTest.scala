package perfbench

/** Harness self-tests, no Spark needed: generator determinism, the
  * percentile, tail and mean functions, and span self-time arithmetic.
  * Run with `python3 perfbench/run.py --selftest`; exits non-zero on the
  * first failure. */
object SelfTest {

  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }

  private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9

  def main(args: Array[String]): Unit = {
    // generators: same seed, same bytes; another seed, other bytes
    def imgDigest(seed: Long) = {
      val d = new Gen.Digest
      Gen.images(seed, 3, 5, 2).foreach(m => d.add(m.id).add(m.kind).add(m.bytes)); d.hex
    }
    expect(imgDigest(7) == imgDigest(7), "images are deterministic per seed")
    expect(imgDigest(7) != imgDigest(8), "images depend on the seed")
    val docs = Gen.documents(7, 50, 3, 0.05, 0.05)
    expect(docs == Gen.documents(7, 50, 3, 0.05, 0.05), "documents are deterministic per seed")
    expect(docs != Gen.documents(8, 50, 3, 0.05, 0.05), "documents depend on the seed")
    expect(docs.map(_.id).distinct.size == docs.size, "document ids are unique")
    expect(docs.filter(_.kind == "near").forall { d =>
      val a = d.text.split(" "); val b = docs.find(_.id == d.of).get.text.split(" ")
      a.length == b.length && a.zip(b).count { case (x, y) => x != y } == 1
    }, "a near copy differs from its source in exactly one token")
    val (c1, v1) = Gen.embeddings(7, 200, 16, 4, 0.05)
    val (c2, v2) = Gen.embeddings(7, 200, 16, 4, 0.05)
    expect(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq && v1.map(_.v.toSeq) == v2.map(_.v.toSeq),
      "embeddings are deterministic per seed")
    expect((0L until 200L).map(Gen.op(7, _)) == (0L until 200L).map(Gen.op(7, _)),
      "the operation sequence is deterministic per seed")
    expect((0L until 200L).map(Gen.op(7, _)) != (0L until 200L).map(Gen.op(8, _)),
      "the operation sequence depends on the seed")
    val rounds = (0L until 120L).map(Gen.op(7, _)).grouped(Gen.OpsPerRound).toSeq
    expect(rounds.forall(r => r.map(_.kind).sorted == Gen.RoundKinds.sorted),
      "every round runs the same operation kinds")
    expect(rounds.forall(r => r.count(o => Set("point", "range", "travel")(o.kind)) * 2 == r.size),
      "half of every round's operations are reads")
    expect(rounds.forall(r => r.filter(o => !Set("point", "range", "travel")(o.kind)).count(_.sql) == 3),
      "half of every round's writes go through SQL")

    // percentiles: linear interpolation between closest ranks
    val xs = (1 to 100).map(_.toDouble)
    expect(near(Stats.percentile(xs, 50), 50.5), "median of 1..100 is 50.5")
    expect(near(Stats.percentile(Seq(3.0, 1.0, 2.0), 50), 2.0), "median of an unsorted sample")
    expect(near(Stats.percentile(xs, 0), 1.0) && near(Stats.percentile(xs, 100), 100.0), "extremes")
    expect(near(Stats.percentile(Seq(0.0, 10.0), 25), 2.5), "interpolation")
    expect(near(Stats.geoMean(Seq(2.0, 8.0)), 4.0) && near(Stats.geoMean(Seq(5.0)), 5.0), "geometric mean")
    // tail: the highest percentile with at least 10 samples beyond it
    expect(Stats.tail(xs)._1 == 90.0, "100 samples: tail is p90")
    expect(Stats.tail((1 to 1000).map(_.toDouble))._1 == 99.0, "1000 samples: tail is p99")
    expect(Stats.tail((1 to 40).map(_.toDouble))._1 == 75.0, "40 samples: tail is p75")
    expect(Stats.tail((1 to 12).map(_.toDouble)) == ((100.0, 12.0)), "12 samples: tail is the maximum")

    // interval arithmetic and self time
    expect(Stats.union(Seq((5.0, 7.0), (0.0, 2.0), (1.0, 3.0))) == List((0.0, 3.0), (5.0, 7.0)), "union")
    expect(near(Stats.uncovered(0, 10, Seq((2.0, 4.0), (3.0, 5.0), (9.0, 12.0))), 6.0), "uncovered")
    expect(Stats.complement(0, 10, Seq((2.0, 4.0), (8.0, 12.0))) == List((0.0, 2.0), (4.0, 8.0)), "complement")
    expect(near(Stats.overlap(List((0.0, 2.0), (4.0, 8.0)), Seq((1.0, 5.0))), 2.0), "overlap")
    val spans = Seq(
      Span(1, 0, "streaming", "s", 0, 0, 100),
      Span(2, 1, "sources", "s.latestOffset", 0, 10, 20),
      Span(3, 1, "image", "s.addBatch", 0, 20, 60),
      Span(4, 0, "tables", "c", 0, 100, 130))
    val self = Trace.selfMs(spans)
    expect(near(self(1), 50.0), s"parent self time excludes its children (${self(1)})")
    expect(near(self(2), 10.0) && near(self(3), 40.0) && near(self(4), 30.0), "leaf self time is its span")
    expect(near(self.values.sum, 130.0), "self times add up to the top-level spans")
    val overlapping = Trace.selfMs(Seq(Span(1, 0, "a", "p", 0, 0, 100),
      Span(2, 1, "b", "x", 0, 10, 50), Span(3, 1, "b", "y", 0, 40, 120)))
    expect(near(overlapping(1), 10.0), "overlapping children are subtracted once, clipped to the parent")

    if (failures > 0) { System.err.println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("selftest: all passed")
  }
}

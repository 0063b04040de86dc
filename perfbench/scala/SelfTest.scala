package perfbench

/** Harness self-tests: `python3 perfbench/run.py --selftest`. They need
  * no Spark session. */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch { case e: Exception => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def run(): Int = {
    // ---- percentile rule ----
    val hundred = (1 to 100).map(_.toDouble)
    check("p90 of 1..100 is 90 (nearest rank)")(Stats.percentile(hundred, 90) == 90.0)
    check("p50 of 1..4 is 2")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    check("100 samples leave 10 beyond p90")(Stats.beyond(90, 100) == 10)
    check("99 samples leave 9 beyond p90")(Stats.beyond(90, 99) == 9)
    check("highest reportable at n=100 is p90")(Stats.highestReportable(100).contains(90.0))
    check("highest reportable at n=1000 is p99")(Stats.highestReportable(1000).contains(99.0))
    check("highest reportable at n=10000 is p99.9")(Stats.highestReportable(10000).contains(99.9))
    check("n=20 reports only the median")(Stats.highestReportable(20).contains(50.0))
    check("n=19 reports nothing")(Stats.highestReportable(19).isEmpty)

    // ---- span self time ----
    val spans = Seq(
      Span(1, -1, "root", 0, 0, 100),
      Span(2, 1, "a", 0, 10, 30),
      Span(3, 1, "b", 0, 20, 50), // overlaps a: the union counts once
      Span(4, 1, "c", 0, 90, 120), // runs past the parent: clipped
      Span(5, 3, "b.inner", 0, 25, 35))
    val self = Tracer.selfTimes(spans)
    check("self = duration - union of children (100 - 40 - 10 = 50)")(self(1) == 50)
    check("leaf self time is its duration")(self(2) == 20 && self(4) == 30)
    check("nested child reduces only its direct parent")(self(3) == 20 && self(5) == 10)
    val tracer = new Tracer(true)
    tracer.span("outer", 7) { tracer.span("inner", 7)(Thread.sleep(2)) }
    val ts = tracer.spans
    check("tracer nests spans per thread")(ts.size == 2 &&
      ts.find(_.name == "inner").get.parent == ts.find(_.name == "outer").get.id)

    // ---- seed determinism ----
    val t1 = new Gen.Table(42, 0, 200)
    val t2 = new Gen.Table(42, 0, 200)
    val t3 = new Gen.Table(43, 0, 200)
    check("same seed, same vectors")(t1.vecs.indices.forall(i => t1.vecs(i).sameElements(t2.vecs(i))))
    check("same seed, same labels and tags")(
      t1.labels.sameElements(t2.labels) && t1.tags.sameElements(t2.tags))
    check("another seed, other vectors")(!t1.vecs(0).sameElements(t3.vecs(0)))
    check("a row does not depend on its neighbours")(
      new Gen.Table(42, 150, 160).vecs(0).sameElements(t1.vecs(150)))
    val cs = Gen.centers(42)
    def sched(seed: Long) = (0L until 50L).map(i => Gen.request(seed, 0, i, grpc = true, 200, cs))
    val s1 = sched(42)
    val s2 = sched(42)
    check("same seed, same request schedule")(s1.zip(s2).forall { case (a, b) =>
      a.kind == b.kind && a.baseVid == b.baseVid && a.q.sameElements(b.q) &&
        a.label == b.label && a.tag == b.tag })
    check("another seed, another schedule")(
      s1.map(_.baseVid) != sched(43).map(_.baseVid))
    check("same seed, same insert schedule")(
      Gen.insertBatch(42, 3, 200, cs).map(r => (r.vid, r.feature.toSeq, r.tag)) ==
        Gen.insertBatch(42, 3, 200, cs).map(r => (r.vid, r.feature.toSeq, r.tag)))
    check("insert batches continue after the base rows")(
      Gen.insertBatch(42, 2, 200, cs).head.vid == 200 + 2 * Gen.InsertRows)
    val mix = (0L until 2000L).map(i => Gen.request(42, 1, i, grpc = false, 200, cs).kind)
    check("HTTP schedule never asks for filtered kNN")(!mix.contains(Gen.Filtered))
    check("every block of 20 HTTP requests holds the exact 30/20/20/10/20 shares")(
      mix.grouped(20).forall(b => Seq(Gen.Seq_ -> 6, Gen.Vaf -> 4, Gen.Pq -> 4, Gen.Lsh -> 2,
        Gen.Bool -> 4).forall { case (k, n) => b.count(_ == k) == n }))
    val gmix = (0L until 200L).map(i => Gen.request(42, 0, i, grpc = true, 200, cs).kind)
    check("gRPC blocks split the sequential share into 15 % plain, 15 % filtered")(
      gmix.grouped(20).forall(b => b.count(_ == Gen.Seq_) == 3 && b.count(_ == Gen.Filtered) == 3))
    check("blocks are permuted by the seed")(
      (0L until 20L).map(i => Gen.request(42, 0, i, grpc = true, 200, cs).kind) !=
        (0L until 20L).map(i => Gen.request(43, 0, i, grpc = true, 200, cs).kind))

    // ---- brute-force top-k on a hand-computed case ----
    val vecs = Array(Array(0f, 0f), Array(3f, 4f), Array(1f, 0f), Array(0f, 2f), Array(0f, -1f))
    val ids = Array(10L, 11L, 12L, 13L, 14L)
    val top = Gen.topK(vecs, ids, Array(0.0, 0.0), 3)
    check("top-3 of the hand case is rows 0, 2, 4 (tie on distance 1 broken by id)")(
      top.map(_._1) == IndexedSeq(0, 2, 4) && top.map(_._2) == IndexedSeq(0.0, 1.0, 1.0))
    check("euclidean of (3,4) from the origin is 5")(Gen.euclidean(vecs(1), Array(0.0, 0.0)) == 5.0)
    check("a filter restricts the candidates")(
      Gen.topK(vecs, ids, Array(0.0, 0.0), 2, i => i % 2 == 1).map(_._1) == IndexedSeq(3, 1))
    val ref = top
    def own(ap: Long): Option[Double] = Some(Gen.euclidean(vecs((ap - 10).toInt), Array(0.0, 0.0)))
    val swapped = Serve.Answer(IndexedSeq(10L, 14L, 12L), IndexedSeq(0.0, 1.0, 1.0), 3, "")
    check("an answer that swaps tied ids passes")(
      Serve.exactMatches(swapped, ref, own, i => ids(i)).isEmpty)
    val wrong = Serve.Answer(IndexedSeq(10L, 12L, 13L), IndexedSeq(0.0, 1.0, 2.0), 3, "")
    check("an answer with a wrong neighbour fails")(
      Serve.exactMatches(wrong, ref, own, i => ids(i)).nonEmpty)

    println(s"selftest: ${checks - failures}/$checks passed")
    if (failures == 0) 0 else 1
  }
}

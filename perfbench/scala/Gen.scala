package perfbench

import java.util.SplittableRandom

/** Seeded inputs for the serving workloads. Every value derives from
  * the seed and a row or request index alone, so the same seed gives
  * the same vectors, request schedule and insert schedule however the
  * work is partitioned. */
object Gen {
  val Dim = 64
  val Clusters = 64
  val Labels = 10
  val Tags = 100
  val K = 100
  val Spread = 0.25
  val QueryNoise = 0.05
  val InsertRows = 500

  /** splitmix64 finalizer: decorrelates (seed, stream, index) triples. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), index))

  /** Box–Muller, so the stream does not depend on the JDK's Gaussian. */
  def gauss(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def centers(seed: Long): Array[Array[Float]] =
    Array.tabulate(Clusters) { c =>
      val r = rng(seed, 1, c)
      Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
    }

  final case class Row(vid: Long, feature: Array[Float], cluster: Int, tag: Int) {
    def label: Int = cluster % Labels
    def tagName: String = s"t$tag"
  }

  def row(seed: Long, cs: Array[Array[Float]], vid: Long): Row = {
    val r = rng(seed, 2, vid)
    val c = r.nextInt(Clusters)
    val tag = r.nextInt(Tags)
    val v = Array.tabulate(Dim)(d => (cs(c)(d) + Spread * gauss(r)).toFloat)
    Row(vid, v, c, tag)
  }

  /** Rows [from, until) as column arrays — the in-memory copy the
    * brute-force reference and the row-count checks use. */
  final class Table(val seed: Long, from: Long, until: Long) {
    private val cs = centers(seed)
    val n: Int = (until - from).toInt
    val vids: Array[Long] = Array.tabulate(n)(i => from + i)
    val vecs: Array[Array[Float]] = new Array(n)
    val labels: Array[Int] = new Array(n)
    val tags: Array[Int] = new Array(n)
    (0 until n).foreach { i =>
      val r = row(seed, cs, from + i)
      vecs(i) = r.feature; labels(i) = r.label; tags(i) = r.tag
    }
    def tagCount(t: Int): Int = tags.count(_ == t)
  }

  // ---- request schedule ---------------------------------------------------

  sealed abstract class Kind(val name: String)
  case object Seq_ extends Kind("seq")
  case object Filtered extends Kind("filtered")
  case object Vaf extends Kind("vaf")
  case object Pq extends Kind("pq")
  case object Lsh extends Kind("lsh")
  case object Bool extends Kind("boolean")
  val Kinds: Seq[Kind] = Seq(Seq_, Filtered, Vaf, Pq, Lsh, Bool)

  final case class Request(client: Int, n: Long, kind: Kind, baseVid: Long,
                           q: Array[Double], label: Int, tag: Int)

  /** One block of 20 requests per door, in these exact shares:
    * sequential 30 %, vaf 20 %, pq 20 %, lsh 10 %, Boolean 20 %; on gRPC
    * half of the sequential share is Boolean-filtered kNN instead. */
  def block(grpc: Boolean): Seq[Kind] =
    (if (grpc) Seq.fill(3)(Seq_) ++ Seq.fill(3)(Filtered) else Seq.fill(6)(Seq_)) ++
      Seq.fill(4)(Vaf) ++ Seq.fill(4)(Pq) ++ Seq.fill(2)(Lsh) ++ Seq.fill(4)(Bool)

  /** The i-th request of a client: its kind from a seeded permutation of
    * its block, so every 20 consecutive requests hold the exact shares. */
  def request(seed: Long, client: Int, i: Long, grpc: Boolean, baseRows: Long,
              cs: Array[Array[Float]]): Request = {
    val kinds = block(grpc).toArray
    val p = rng(seed, 200 + client, i / kinds.length)
    (kinds.length - 1 to 1 by -1).foreach { j =>
      val k = p.nextInt(j + 1)
      val t = kinds(j); kinds(j) = kinds(k); kinds(k) = t
    }
    val kind = kinds((i % kinds.length).toInt)
    val r = rng(seed, 100 + client, i)
    val base = r.nextLong(baseRows)
    val label = r.nextInt(Labels)
    val tag = r.nextInt(Tags)
    val v = row(seed, cs, base).feature
    val q = Array.tabulate(Dim)(d => v(d) + QueryNoise * gauss(r))
    Request(client, i, kind, base, q, label, tag)
  }

  /** The b-th insert batch: vids continue after the base rows. */
  def insertBatch(seed: Long, b: Int, baseRows: Long,
                  cs: Array[Array[Float]]): Seq[Row] = {
    val from = baseRows + b.toLong * InsertRows
    (0 until InsertRows).map(i => row(seed, cs, from + i))
  }

  // ---- exact reference ----------------------------------------------------

  def euclidean(v: Array[Float], q: Array[Double]): Double = {
    var s = 0.0
    var d = 0
    while (d < v.length) { val x = v(d).toDouble - q(d); s += x * x; d += 1 }
    math.sqrt(s)
  }

  /** Brute-force top-k by (distance, id) over the rows `keep` admits:
    * (row index, distance) pairs, nearest first. */
  def topK(vecs: Array[Array[Float]], ids: Array[Long], q: Array[Double], k: Int,
           keep: Int => Boolean = _ => true): IndexedSeq[(Int, Double)] = {
    val ds = vecs.indices.iterator.filter(keep).map(i => (i, euclidean(vecs(i), q))).toArray
    ds.sortInPlaceWith { (a, b) =>
      a._2 < b._2 || (a._2 == b._2 && ids(a._1) < ids(b._1))
    }
    ds.take(k).toIndexedSeq
  }
}

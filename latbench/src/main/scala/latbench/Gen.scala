package latbench

import java.util.SplittableRandom

/** Seeded input generation. Every input the benchmark feeds the engine
  * comes from one of these, driven by `--seed` alone; the engine sees
  * only the generated rows. */
object Gen {

  /** Zipf(s) over ranks 0..n-1 by inverse CDF (binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  def word(i: Int): String = "t" + Integer.toString(i, 36)

  final case class Doc(id: Long, text: String, vec: Array[Float])
  final case class Query(id: Long, text: String, vec: Array[Float])

  /** Documents and queries over one Zipf vocabulary and one set of
    * vector clusters: queries draw their terms from the documents'
    * vocabulary and their vectors near a document's, so both retrieval
    * arms return full top-k lists. */
  final class Corpus(seed: Long, val vocab: Int, val dim: Int,
      val clusters: Int) {
    private val words = new Zipf(vocab, 1.0)
    private val centers: Array[Array[Float]] = {
      val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
      Array.fill(clusters)(Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat))
    }

    private def near(r: SplittableRandom, base: Array[Float],
        sigma: Double): Array[Float] =
      Array.tabulate(dim)(j => (base(j) + r.nextGaussian() * sigma).toFloat)

    private def rng(kind: Long, id: Long): SplittableRandom =
      new SplittableRandom(seed * 0x9E3779B97F4A7C15L + kind * 1000003L + id)

    /** Document `id`: 16..64 Zipf-drawn terms, a vector in one of the
      * clusters. A pure function of (seed, id). */
    def doc(id: Long): Doc = {
      val r = rng(1, id)
      val len = 16 + r.nextInt(49)
      val text = Iterator.fill(len)(word(words.sample(r))).mkString(" ")
      Doc(id, text, near(r, centers(r.nextInt(clusters)), 0.35))
    }

    /** Query `i` (id `qIdBase + i`): 2..4 terms, a vector near a random
      * corpus document's cluster. */
    def query(i: Long, corpusSize: Long): Query = {
      val r = rng(2, i)
      val n = 2 + r.nextInt(3)
      val text = Iterator.fill(n)(word(words.sample(r))).mkString(" ")
      val d = doc((r.nextLong() & Long.MaxValue) % corpusSize)
      Query(Gen.QIdBase + i, text, near(r, d.vec, 0.15))
    }
  }

  /** Query ids live far above document ids, so the IVF arm's self-id
    * exclusion never drops a real neighbour. */
  val QIdBase = 1000000000L
}

package graft.perfbench

/** Seeded, pure input generator. Every value is a function of
  * (seed, stream, index) only, so the same seed gives byte-identical
  * inputs in any JVM, on the driver or inside a task, in any order.
  *
  * Vectors are a mixture of Gaussian clusters rounded to float (the
  * pgvector `vector` element type); queries are fresh draws from the
  * same mixture, never corpus members. PDFs are [[graft.pipeline.Pdf]]
  * documents (the bytes `PdfIngest.syntheticPdf` produces) whose page
  * lengths straddle the reference split length. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A splitmix64 stream with a Box-Muller normal sampler. */
  final class Rng(seed: Long) {
    private var s = seed
    private var spare = Double.NaN
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextDouble(): Double = (nextLong() >>> 11) / (1L << 53).toDouble
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
    def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
    def nextGaussian(): Double =
      if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
      else {
        var u = nextDouble()
        while (u <= 0.0) u = nextDouble()
        val v = nextDouble()
        val r = math.sqrt(-2.0 * math.log(u))
        spare = r * math.sin(2 * math.Pi * v)
        r * math.cos(2 * math.Pi * v)
      }
  }

  private val CenterStream = 1L
  private val PointStream = 2L
  private val QueryStream = 3L
  private val TextStream = 4L
  private val PdfStream = 5L

  def rng(seed: Long, stream: Long, idx: Long): Rng =
    new Rng(mix(mix(seed * 31 + stream) ^ mix(idx)))

  /** The vector mixture: `clusters` centres drawn N(0, 1) per
    * dimension, members at centre + `spread`·N(0, 1). */
  final case class Mixture(seed: Long, dims: Int, clusters: Int, spread: Double) {
    val centers: Array[Array[Double]] = Array.tabulate(clusters) { c =>
      val r = rng(seed, CenterStream, c)
      Array.fill(dims)(r.nextGaussian())
    }
    private def draw(r: Rng): Array[Float] = {
      val c = centers(r.nextInt(clusters))
      Array.tabulate(dims)(j => (c(j) + spread * r.nextGaussian()).toFloat)
    }
    def point(i: Long): Array[Float] = draw(rng(seed, PointStream, i))
    def query(j: Long): Array[Float] = draw(rng(seed, QueryStream, j))
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  private def word(r: Rng): String = {
    val n = r.between(2, 9)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Letters.charAt(r.nextInt(26)); i += 1 }
    sb.toString
  }

  /** Sentences of random words, single-spaced, ending in '.', exactly
    * `chars` long: already normalized, so chunking and extraction
    * leave it unchanged. */
  def prose(r: Rng, chars: Int): String = {
    val sb = new StringBuilder(chars + 16)
    var sentence = 0
    while (sb.length < chars) {
      if (sb.nonEmpty) sb += ' '
      sb ++= word(r)
      sentence += 1
      if (sentence >= r.between(6, 14)) { sb += '.'; sentence = 0 }
    }
    sb.setLength(chars)
    if (sb.charAt(chars - 1) == ' ') sb.setCharAt(chars - 1, '.')
    sb.toString
  }

  /** ~300 characters of `origntext` for corpus row `i`. */
  def rowText(seed: Long, i: Long): String = {
    val r = rng(seed, TextStream, i)
    prose(r, r.between(260, 340))
  }

  /** One synthetic upload: named pages of text plus its PDF bytes. */
  final case class Upload(name: String, pages: Vector[String]) {
    lazy val bytes: Array[Byte] = graft.pipeline.Pdf.write(pages)
  }

  /** The `d`-th upload of batch `b`: two pages. Every batch has the
    * same shape, so batches cost alike whatever the seed: the second
    * upload's first page is longer than `splitLen` (the chunker splits
    * it), every other page is a few thousand characters. The first
    * upload's last page is one chunk: the batch's probe chunk. */
  def upload(seed: Long, b: Int, d: Int, splitLen: Int): Upload = {
    val r = rng(seed, PdfStream, b.toLong * 1000 + d)
    val pages = Vector.tabulate(2) { p =>
      val len = if (d == 1 && p == 0) r.between(splitLen + 100, splitLen + 1500)
        else r.between(2000, 3500)
      prose(r, len)
    }
    Upload(f"up-$b%05d-$d%02d.pdf", pages)
  }

  /** Exact L2 top-k ids of `q` over a flat row-major float matrix, in
    * plain Scala (ties by lower id). */
  def exactTopK(flat: Array[Float], dims: Int, q: Array[Float], k: Int): Array[Long] = {
    val n = flat.length / dims
    val bestD = Array.fill(k)(Double.PositiveInfinity)
    val bestI = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      var s = 0.0
      var j = 0
      val base = i * dims
      while (j < dims) {
        val t = flat(base + j).toDouble - q(j).toDouble
        s += t * t
        j += 1
      }
      if (s < bestD(k - 1) || (s == bestD(k - 1) && i < bestI(k - 1))) {
        var p = k - 1
        while (p > 0 && (s < bestD(p - 1) || (s == bestD(p - 1) && i < bestI(p - 1)))) {
          bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestD(p) = s; bestI(p) = i
      }
      i += 1
    }
    bestI
  }

  /** pgvector text form of a vector, `[v1,v2,...]`: each element is
    * the float's exact double value, so the parsed literal holds the
    * same numbers the ground truth ranks with. */
  def vectorText(v: Array[Float]): String = v.map(_.toDouble).mkString("[", ",", "]")
}

package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * seed (SplittableRandom's sequence is specified, so the same seed gives
  * byte-identical inputs on any JVM) and records the exact ground truth
  * the output checks compare against while it generates. */
object Gen {

  /** One independent stream per (seed, purpose), so changing one
    * generator's draws never shifts another's. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL)

  /** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** `n` distinct lowercase words of 3 to 10 letters. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 1)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(8)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }

  // ---------------------------------------------------------------- invidx

  /** Ground truth of one HTML corpus: distinct `<a href>` targets, the
    * number of distinct (url, file) postings, the whitespace-token top 20
    * (count desc, token asc) and the total bytes written. */
  final case class HtmlTruth(distinctUrls: Long, postings: Long,
      top20: Seq[(String, Long)], bytes: Long)

  /** HTML part files: paragraph lines of Zipf-drawn vocabulary words and
    * link lines whose `<a href>` targets are Zipf-popular URLs. */
  def html(dir: File, seed: Long, files: Int, bytesPerFile: Int,
      vocabSize: Int, urlCount: Int): HtmlTruth = {
    dir.mkdirs()
    val vocab = vocabulary(seed, vocabSize)
    val words = new Zipf(vocabSize, 1.0)
    val urls = new Zipf(urlCount, 1.1)
    val r = rng(seed, 2)
    val wordCounts = new Array[Long](vocabSize)
    val other = mutable.HashMap.empty[String, Long]
    def bump(t: String): Unit = other.update(t, other.getOrElse(t, 0L) + 1)
    val allUrls = new java.util.BitSet(urlCount)
    var postings = 0L
    var bytes = 0L
    for (f <- 0 until files) {
      val inFile = new java.util.BitSet(urlCount)
      val sb = new java.lang.StringBuilder(bytesPerFile + 256)
      sb.append("<html>\n<body>\n"); bump("<html>"); bump("<body>")
      while (sb.length < bytesPerFile) {
        if (r.nextInt(4) == 0) {
          val u = urls.sample(r)
          val w = vocab(words.sample(r))
          val target = s"http://site${u % 997}.example/page/$u"
          sb.append("<li><a href=\"").append(target).append("\">")
            .append(w).append("</a></li>\n")
          bump("<li><a"); bump(s"href=\"$target\">$w</a></li>")
          inFile.set(u)
        } else {
          val n = 8 + r.nextInt(9)
          sb.append("<p>"); bump("<p>")
          for (_ <- 0 until n) {
            val w = words.sample(r)
            sb.append(' ').append(vocab(w)); wordCounts(w) += 1
          }
          sb.append(" </p>\n"); bump("</p>")
        }
      }
      sb.append("</body>\n</html>\n"); bump("</body>"); bump("</html>")
      val out = sb.toString.getBytes(UTF_8)
      writeFile(new File(dir, f"part-$f%05d.html"), out)
      bytes += out.length
      postings += inFile.cardinality()
      allUrls.or(inFile)
    }
    val all = other.iterator ++
      vocab.indices.iterator.filter(wordCounts(_) > 0)
        .map(i => vocab(i) -> wordCounts(i))
    val top = all.toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
    HtmlTruth(allUrls.cardinality().toLong, postings, top, bytes)
  }

  /** Ground truth of an IntCount input: distinct values, total ints,
    * Σ value·count and the largest count. */
  final case class IntTruth(distinct: Long, total: Long, weighted: Long,
      maxCount: Long, bytes: Long)

  /** Binary little-endian int files; values are Zipf ranks scattered over
    * the positive ints by a fixed odd multiplier. */
  def ints(dir: File, seed: Long, files: Int, intsPerFile: Int,
      keys: Int): IntTruth = {
    dir.mkdirs()
    val z = new Zipf(keys, 1.0)
    val r = rng(seed, 3)
    val counts = new Array[Long](keys)
    for (f <- 0 until files) {
      val buf = ByteBuffer.allocate(intsPerFile * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (_ <- 0 until intsPerFile) {
        val k = z.sample(r)
        counts(k) += 1
        buf.putInt(intValue(k))
      }
      writeFile(new File(dir, f"part-$f%05d.bin"), buf.array())
    }
    var distinct, total, weighted, maxCount = 0L
    for (k <- 0 until keys if counts(k) > 0) {
      distinct += 1; total += counts(k)
      weighted += intValue(k).toLong * counts(k)
      maxCount = math.max(maxCount, counts(k))
    }
    IntTruth(distinct, total, weighted, maxCount, files.toLong * intsPerFile * 4)
  }

  private def intValue(k: Int): Int = ((k.toLong * 2654435761L) & 0x7fffffffL).toInt

  // ----------------------------------------------------------------- crawl

  final case class Doc(id: Long, text: String)

  /** Documents of 80 to 120 Zipf-drawn words. */
  def document(r: SplittableRandom, vocab: Array[String], z: Zipf, id: Long): Doc = {
    val n = 80 + r.nextInt(41)
    Doc(id, Iterator.fill(n)(vocab(z.sample(r))).mkString(" "))
  }

  /** A near-copy: the same words with one or two replaced, so its word
    * 3-shingle Jaccard against the original stays above 0.85. */
  def nearCopy(r: SplittableRandom, vocab: Array[String], z: Zipf,
      src: Doc, id: Long): Doc = {
    val ws = src.text.split(" ")
    for (_ <- 0 until 1 + r.nextInt(2)) ws(r.nextInt(ws.length)) = vocab(z.sample(r))
    Doc(id, ws.mkString(" "))
  }

  /** Unit cluster centres in `dim` dimensions. */
  def centres(seed: Long, n: Int, dim: Int): Array[Array[Double]] = {
    val r = rng(seed, 4)
    Array.fill(n)(unit(Array.fill(dim)(gauss(r))))
  }

  /** A unit vector drawn around `centre` with per-dimension noise `sigma`. */
  def around(r: SplittableRandom, centre: Array[Double], sigma: Double): Array[Float] =
    unit(centre.map(_ + sigma * gauss(r))).map(_.toFloat)

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller from two uniforms; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def writeFile(f: File, bytes: Array[Byte]): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try out.write(bytes) finally out.close()
  }
}

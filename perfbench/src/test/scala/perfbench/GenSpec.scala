package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The generators are a function of the seed alone: the same seed gives
  * byte-identical inputs and ground truth, another seed gives different
  * inputs of the same size and shape. */
class GenSpec extends AnyFunSuite {

  private val root = new File("target/gen-test").getAbsoluteFile

  private def tmp(): File = {
    root.mkdirs()
    Files.createTempDirectory(root.toPath, "gen").toFile
  }

  private def bytesOf(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles.sortBy(_.getName).toSeq.map(f =>
      f.getName -> Files.readAllBytes(f.toPath).toSeq)

  private def html(seed: Long) = {
    val d = tmp()
    val t = Gen.html(d, seed, files = 4, bytesPerFile = 64 << 10,
      vocabSize = 2000, urlCount = 5000)
    (t, bytesOf(d))
  }

  private def ints(seed: Long) = {
    val d = tmp()
    (Gen.ints(d, seed, files = 2, intsPerFile = 10000, keys = 4096), bytesOf(d))
  }

  private def crawl(seed: Long) = {
    val vocab = Gen.vocabulary(seed, 500)
    val z = new Gen.Zipf(vocab.length, 0.9)
    val r = Gen.rng(seed, 5)
    val docs = Seq.tabulate(50)(i => Gen.document(r, vocab, z, i))
    val copies = docs.map(d => Gen.nearCopy(r, vocab, z, d, d.id + 1000))
    val c = Gen.centres(seed, 8, 16)
    val vecs = Seq.fill(20)(Gen.around(r, c(r.nextInt(8)), 0.06).toSeq)
    (docs, copies, vecs)
  }

  test("the same seed gives byte-identical inputs and ground truth") {
    assert(html(7) == html(7))
    assert(ints(7) == ints(7))
    assert(crawl(7) == crawl(7))
  }

  test("another seed gives different inputs of the same size and shape") {
    val ((t1, f1), (t2, f2)) = (html(7), html(8))
    assert(f1 != f2)
    assert(f1.map(_._1) == f2.map(_._1), "same file names")
    assert(math.abs(t1.bytes - t2.bytes) < 0.01 * t1.bytes)
    assert(math.abs(t1.distinctUrls - t2.distinctUrls) < 0.1 * t1.distinctUrls)
    assert(math.abs(t1.postings - t2.postings) < 0.1 * t1.postings)
    // both top-20 lists hold the paragraph markup at a similar count; the
    // vocabulary words around it differ
    val (p1, p2) = (t1.top20.toMap.apply("<p>"), t2.top20.toMap.apply("<p>"))
    assert(math.abs(p1 - p2) < 0.1 * p1)
    assert(t1.top20.map(_._1).toSet != t2.top20.map(_._1).toSet)

    val ((i1, b1), (i2, b2)) = (ints(7), ints(8))
    assert(b1 != b2 && i1.bytes == i2.bytes && i1.total == i2.total)
    assert(math.abs(i1.distinct - i2.distinct) < 0.1 * i1.distinct)

    val (d1, c1, v1) = crawl(7)
    val (d2, c2, v2) = crawl(8)
    assert(d1 != d2 && c1 != c2 && v1 != v2)
    def words(ds: Seq[Gen.Doc]) = ds.map(_.text.split(" ").length).sum.toDouble
    assert(math.abs(words(d1) - words(d2)) < 0.1 * words(d1))
    assert(v1.forall(v => math.abs(v.map(x => x * x).sum - 1.0) < 1e-4))
    assert(v2.forall(_.length == 16))
  }

  test("planted near-copies keep a word 3-shingle Jaccard of at least 0.8") {
    val (docs, copies, _) = crawl(9)
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    docs.zip(copies).foreach { case (d, c) =>
      val (a, b) = (sh(d.text), sh(c.text))
      val j = (a intersect b).size.toDouble / (a union b).size
      assert(j >= 0.8, s"doc ${d.id}: Jaccard $j")
    }
  }
}

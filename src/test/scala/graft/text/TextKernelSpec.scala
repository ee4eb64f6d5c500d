package graft.text

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession.spark
import graft.functions.StrTok

/** Semantics of the byte-scan map kernels: [[StrTok]] tokens equal the
  * regex `split` + `filter` they replace, the href kernel finds the
  * leftmost non-overlapping `<a href="([^"]*)"` matches across buffer
  * boundaries, and the int kernel decodes little-endian int32 streams
  * dropping each file's ragged tail. */
class TextKernelSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private def seq(a: ArrayData): Seq[String] =
    (0 until a.numElements()).map(a.getUTF8String(_).toString)

  private def splitFilter(s: String): Seq[String] =
    s.split("\\s+", -1).filter(_.nonEmpty).toSeq

  // ---- tokens ------------------------------------------------------------

  private val tokenCases = Seq(
    "a\tb" -> Seq("a", "b"),
    "a\u000Bb\fc" -> Seq("a", "b", "c"),
    "line1\r\nline2\n" -> Seq("line1", "line2"),
    " \t lead and trail \r\n " -> Seq("lead", "and", "trail"),
    "x\u00A0y \u00A0" -> Seq("x\u00A0y", "\u00A0"),
    "héllo wörld 日本\u3000語 😀!" -> Seq("héllo", "wörld", "日本\u3000語", "😀!"),
    "nel\u0085stays" -> Seq("nel\u0085stays"),
    "" -> Seq.empty,
    " \t\n\u000B\f\r " -> Seq.empty)

  test("strtok splits on exactly the six ASCII whitespace bytes") {
    for ((s, want) <- tokenCases) {
      assert(seq(StrTok.tokens(UTF8String.fromString(s))) == want, s"input ${s.toSeq}")
      assert(seq(StrTok(Literal(s)).eval().asInstanceOf[ArrayData]) == want)
      assert(splitFilter(s) == want, s"split reference disagrees on ${s.toSeq}")
    }
    assert(StrTok(Literal(null, org.apache.spark.sql.types.StringType)).eval() == null)
  }

  test("tokens column: null in null out, same as split + filter, whole-stage codegen") {
    val s = spark
    import s.implicits._
    // the exchange keeps the optimizer from folding the projection into
    // the local relation, so the rows go through generated code
    val rows = (tokenCases.map(c => Option(c._1)) :+ None).toDF("t").repartition(2)
    val df = rows.select(col("t"), TextOps.tokens(col("t")).as("tok"),
      filter(split(col("t"), "\\s+"), x => length(x) > 0).as("ref"))
    val tok = df.select(col("tok"))
    tok.collect() // the adaptive plan is final, codegen stages included, once run
    val plan = tok.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("strtok")),
      s"strtok must run inside whole-stage codegen:\n$plan")
    val got = df.collect()
    assert(got.length == tokenCases.length + 1)
    got.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else {
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"input ${r.getString(0).toSeq}")
        assert(r.getSeq[String](1) == tokenCases.toMap.apply(r.getString(0)))
      }
    }
  }

  test("tokens are owned copies, not views into the input buffer") {
    val in = UTF8String.fromString("ab cd")
    val out = StrTok.tokens(in)
    (0 until out.numElements()).foreach(i =>
      assert(out.getUTF8String(i).getBaseObject ne in.getBaseObject))
  }

  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar,
    3 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
    1 -> Gen.oneOf('\u00A0', '\u3000', '\u0085', 'é', '日', '\u001C', '!', '"')
  )).map(_.mkString)

  test("property: strtok equals split(\\s+) + filter(length > 0) on random text") {
    check(Prop.forAll(textGen) { s =>
      seq(StrTok.tokens(UTF8String.fromString(s))) == splitFilter(s)
    })
    val s = spark
    import s.implicits._
    val sample = Gen.listOfN(400, textGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L)).get
    val bad = sample.toDF("t").repartition(2)
      .where(!(TextOps.tokens(col("t")) <=>
        filter(split(col("t"), "\\s+"), x => length(x) > 0)))
      .count()
    assert(bad == 0)
  }

  // ---- hrefs -------------------------------------------------------------

  private def hrefs(bytes: Array[Byte], bufSize: Int): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    ByteScan.hrefs(new ByteArrayInputStream(bytes), new Array[Byte](bufSize)) {
      (b, n) => out += new String(b, 0, n, UTF_8)
    }
    out.toSeq
  }

  private val hrefRegex = "<a href=\"([^\"]*)\"".r

  private def hrefReference(s: String): Seq[String] =
    hrefRegex.findAllMatchIn(s).map(_.group(1)).toSeq

  test("href kernel: leftmost non-overlapping matches at every buffer size") {
    val cases = Seq(
      """<a href="x">""" -> Seq("x"),
      """<a href="">""" -> Seq(""),
      """<a href="open""" -> Seq.empty,
      """<a href="a"> <a href="unterminated""" -> Seq("a"),
      """<<a href="x"<a href="y"""" -> Seq("x", "y"),
      """<a href="<a href="y"""" -> Seq("<a href="),
      """<a  href="no"><A HREF="no"><a href='no'>""" -> Seq.empty,
      "<a href=\"multi\nline\">" -> Seq("multi\nline"))
    for ((s, want) <- cases; buf <- Seq(1, 2, 3, 5, 9, 10, 64)) {
      assert(hrefReference(s) == want, s"regex reference disagrees on $s")
      assert(hrefs(s.getBytes(UTF_8), buf) == want, s"$s at buffer $buf")
    }
  }

  test("property: href kernel equals the regex on random markup") {
    val piece = Gen.frequency(
      4 -> Gen.const("<a href=\""), 3 -> Gen.const("\""), 1 -> Gen.const("<a href="),
      1 -> Gen.const("<"), 1 -> Gen.const("<a "), 4 -> Gen.alphaNumStr.map(_.take(6)),
      1 -> Gen.oneOf(" ", "\n", ">", "=", "é"))
    check(Prop.forAll(Gen.listOf(piece).map(_.mkString), Gen.chooseNum(1, 40)) {
      (s, buf) => hrefs(s.getBytes(UTF_8), buf) == hrefReference(s)
    })
  }

  test("urlIndexFromFiles: boundary match, empty and duplicate hrefs, EOF, file names") {
    val dir = Files.createTempDirectory("graft_href")
    // the first href starts 6 bytes before the 64 KB read-buffer boundary
    val f1 = ("x" * (ByteScan.BufferBytes - 6)) +
      """<a href="http://span/1">s</a> <a href="">e</a>""" +
      """<a href="http://dup">1</a><a href="http://dup">2</a> <a href="http://open"""
    Files.write(dir.resolve("f1.html"), f1.getBytes(UTF_8))
    Files.write(dir.resolve("f2.html"),
      "<a href=\"http://dup\"><a href=\"http://ü/ä\">".getBytes(UTF_8) ++
        "<a href=\"http://bad".getBytes(UTF_8) ++ Array(0xff.toByte) ++
        "\">".getBytes(UTF_8))
    val names = spark.read.text(dir.toString).select(input_file_name())
      .distinct().collect().map(_.getString(0)).sorted
    assert(names.length == 2 && names.forall(_.startsWith("file:///")))
    val Array(n1, n2) = names
    val idx = TextOps.urlIndexFromFiles(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(idx == Map(
      "http://span/1" -> Seq(n1),
      "" -> Seq(n1),
      "http://dup" -> Seq(n1, n2),
      "http://ü/ä" -> Seq(n2),
      "http://bad\uFFFD" -> Seq(n2)))
    // a glob lists the same files
    assert(TextOps.urlIndexFromFiles(spark, dir.toString + "/*").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap == idx)
  }

  test("urlIndexFromFiles reads compressed files through their codec, as the text source does") {
    val dir = Files.createTempDirectory("graft_href_gz")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("f.html.gz")))
    try gz.write("""<a href="http://gz/1">x</a>""".getBytes(UTF_8)) finally gz.close()
    val idx = TextOps.urlIndexFromFiles(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).size).toMap
    assert(idx == Map("http://gz/1" -> 1))
  }

  // ---- ints --------------------------------------------------------------

  private def le(ints: Seq[Int]): Array[Byte] = {
    val b = ByteBuffer.allocate(4 * ints.length).order(ByteOrder.LITTLE_ENDIAN)
    ints.foreach(b.putInt)
    b.array()
  }

  private def counted(counts: ByteScan.IntCounts): Map[Int, Long] = {
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    counts.rows(row).map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  test("int kernel: carries partial ints across every buffer size, drops the tail") {
    val ints = Seq(7, -1, Int.MinValue, Int.MaxValue, 7, 0, 256, -256)
    val want = ints.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (tail <- 0 to 3; buf <- Seq(4, 5, 6, 7, 11, 64)) {
      val c = new ByteScan.IntCounts
      ByteScan.countInts(new ByteArrayInputStream(le(ints) ++ Array.fill(tail)(9.toByte)),
        new Array[Byte](buf), c)
      assert(counted(c) == want, s"tail $tail, buffer $buf")
    }
  }

  test("int kernel: a count that reaches the limit moves out as its own partial") {
    val c = new ByteScan.IntCounts(limit = 3)
    Seq.fill(8)(5).foreach(c.add)
    c.add(6)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    val partials = c.rows(row).map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(partials.groupMapReduce(_._1)(_._2)(_ + _) == Map(5 -> 8L, 6 -> 1L))
    assert(partials.forall(_._2 <= 3) && partials.count(_._1 == 5) == 3, s"$partials")
  }

  test("intCountFromBinaryFiles: ragged tails, empty files, negatives, multi-buffer files") {
    val dir = Files.createTempDirectory("graft_ints")
    val a = Seq(7, -1, Int.MinValue, Int.MaxValue, 7)
    val big = (0 until 100000).map(i => (i * 7919) % 5003 - 2500) // 400 KB, 5003 keys
    Files.write(dir.resolve("a.bin"), le(a) ++ Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.bin"), Array.emptyByteArray)
    Files.write(dir.resolve("c.bin"), le(big) ++ Array[Byte](5))
    Files.write(dir.resolve("d.bin"), "ab".getBytes(ISO_8859_1))
    val want = (a ++ big).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = TextOps.intCountFromBinaryFiles(spark, dir.toString).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
    val schema = TextOps.intCountFromBinaryFiles(spark, dir.toString).schema
    assert(schema.fieldNames.toSeq == Seq("i", "n") &&
      schema("i").dataType == org.apache.spark.sql.types.IntegerType &&
      schema("n").dataType == org.apache.spark.sql.types.LongType)
  }
}

package graft.text

import java.io.InputStream
import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow

/** Byte-level map kernels behind [[TextOps.urlIndexFromFiles]] and
  * [[TextOps.intCountFromBinaryFiles]] — the scan half of the GPU fork's
  * map phase (`cuda/InvertedIndex.cu:79-135,347-362`: flag the bytes
  * after `<a href="`, compact the offsets, cut each URL at its closing
  * quote) run as one sequential pass per file. Each kernel streams a
  * file through a caller-owned fixed buffer and carries partial state
  * (a prefix match, a URL, up to 3 bytes of an int) across buffer
  * boundaries, so no file is ever held whole: whole-file arrays of 1 MB
  * are humongous objects for G1 at a 3 GB heap and pile up between young
  * collections. */
private[text] object ByteScan {

  /** Read-buffer size of one task. */
  val BufferBytes: Int = 64 << 10

  private val Prefix = "<a href=\"".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Quote = '"'.toByte
  private val Open = '<'.toByte

  /** Calls `emit(bytes, n)` with the first `n` bytes of `bytes` for each
    * capture of the leftmost non-overlapping matches of
    * `<a href="([^"]*)"` in `in`, in order. Empty URLs are emitted; an
    * href still open at end of input is not. `emit` must copy what it
    * keeps: the array is reused. */
  def hrefs(in: InputStream, buf: Array[Byte])(emit: (Array[Byte], Int) => Unit): Unit = {
    var url = new Array[Byte](256)
    var ulen = 0
    // prefix bytes matched; Prefix.length = inside a URL. '<' occurs in
    // the prefix only at position 0, so a mismatch restarts at 0 or 1.
    var matched = 0
    var n = in.read(buf)
    while (n >= 0) {
      var i = 0
      while (i < n) {
        if (matched == Prefix.length) {
          val start = i
          while (i < n && buf(i) != Quote) i += 1
          val len = i - start
          if (ulen + len > url.length)
            url = java.util.Arrays.copyOf(url, math.max(url.length * 2, ulen + len))
          System.arraycopy(buf, start, url, ulen, len)
          ulen += len
          if (i < n) { emit(url, ulen); ulen = 0; matched = 0; i += 1 }
        } else if (matched == 0) {
          while (i < n && buf(i) != Open) i += 1
          if (i < n) { matched = 1; i += 1 }
        } else {
          val b = buf(i)
          matched = if (b == Prefix(matched)) matched + 1 else if (b == Open) 1 else 0
          i += 1
        }
      }
      n = in.read(buf)
    }
  }

  /** Adds every little-endian int32 of `in` to `counts`; the 1–3 bytes
    * after the last whole int are dropped (`cpu/IntCount.cpp:179-180`). */
  def countInts(in: InputStream, buf: Array[Byte], counts: IntCounts): Unit = {
    val le = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    var have = 0
    var n = in.read(buf, 0, buf.length)
    while (n >= 0) {
      have += n
      val whole = have & ~3
      var i = 0
      while (i < whole) { counts.add(le.getInt(i)); i += 4 }
      System.arraycopy(buf, whole, buf, 0, have - whole)
      have -= whole
      n = in.read(buf, have, buf.length - have)
    }
  }

  /** int → partial count, open addressing with linear probing over
    * primitive arrays: no boxing, no row per int. Counts are ints so a
    * table of up to 2^17 slots stays below 1 MB per array (larger arrays
    * are humongous objects for G1); a count that reaches `limit` is moved
    * out whole as a partial pair of its own, and the per-key sum
    * downstream adds it back. A zero count marks a free slot. */
  final class IntCounts(limit: Int = Int.MaxValue) {
    private var keys = new Array[Int](1 << 12)
    private var counts = new Array[Int](1 << 12)
    private var used = 0
    private val full = new mutable.ArrayBuffer[Int] // keys of moved-out counts

    private def slot(k: Int, mask: Int): Int = {
      val h = k * 0x9e3779b9
      var s = (h ^ (h >>> 16)) & mask
      while (counts(s) != 0 && keys(s) != k) s = (s + 1) & mask
      s
    }

    def add(k: Int): Unit = {
      val s = slot(k, keys.length - 1)
      val c = counts(s)
      if (c == 0) {
        keys(s) = k; used += 1
        counts(s) = 1
        if (used * 2 > keys.length) grow()
      } else if (c == limit) {
        full += k
        counts(s) = 1
      } else counts(s) = c + 1
    }

    private def grow(): Unit = {
      val (ok, oc) = (keys, counts)
      keys = new Array[Int](ok.length * 2)
      counts = new Array[Int](ok.length * 2)
      val mask = keys.length - 1
      var i = 0
      while (i < ok.length) {
        if (oc(i) != 0) {
          val s = slot(ok(i), mask)
          keys(s) = ok(i); counts(s) = oc(i)
        }
        i += 1
      }
    }

    /** The (key, partial count) pairs, written into ordinals 0 (int) and
      * 1 (long) of `row`: every step returns that same row. */
    def rows(row: InternalRow): Iterator[InternalRow] = {
      val table = new Iterator[InternalRow] {
        private var i = advance(0)
        private def advance(from: Int): Int = {
          var j = from
          while (j < keys.length && counts(j) == 0) j += 1
          j
        }
        def hasNext: Boolean = i < keys.length
        def next(): InternalRow = {
          row.setInt(0, keys(i)); row.setLong(1, counts(i))
          i = advance(i + 1)
          row
        }
      }
      table ++ full.iterator.map { k => row.setInt(0, k); row.setLong(1, limit); row }
    }
  }
}

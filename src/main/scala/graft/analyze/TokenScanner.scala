package graft.analyze

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one fast tokenizer core: content -> its analyzer tokens as byte
  * ranges over one reused buffer, plus the md5 of any token window. Every
  * hot path that analyzes text runs it — the index build (word terms,
  * shingle buckets and docmeta `dl`), the span-dedup and contamination
  * window passes, the unigram vocabulary pass and the `graft_tokens`,
  * `graft_doclen` and `graft_shingle_hash_pairs` expressions — so they
  * cannot drift apart (index/query symmetry, see [[Tokenizer]]).
  *
  * ASCII content takes one lower + `[a-z0-9]`-run scan over the bytes (no
  * String, no regex; for ASCII, `toLowerCase(ROOT)` is exactly A-Z + 32).
  * On the first non-ASCII char the row falls back to
  * [[Tokenizer.tokenizeScala]], whose tokens are pure `[a-z0-9]` by the
  * split contract, packed into the same buffer — so tokens are equal to
  * `tokenizeScala`'s on every input (pinned in TokenScannerSpec).
  *
  * Not thread-safe: a task owns one instance; Catalyst expressions share
  * one per thread through [[TokenScanner.local]]. Ranges and [[lastH1]] /
  * [[lastH2]] are valid until the next call.
  */
private[graft] final class TokenScanner {
  private var buf = new Array[Byte](1 << 12)
  private var starts = new Array[Int](256)
  private var ends = new Array[Int](256)
  private var win = new Array[Byte](256)
  private var md: java.security.MessageDigest = null
  private val digest = new Array[Byte](16)
  /** Token count of the last tokenized row. */
  var nToks = 0
  /** Digest bytes 0-7 / 8-15 (big-endian) of the last [[hashWindowTo]]. */
  var lastH1 = 0L
  var lastH2 = 0L

  /** The buffer token `i` lives in, at [[start]]`(i)`, [[length]]`(i)` bytes. */
  def bytes: Array[Byte] = buf
  def start(i: Int): Int = starts(i)
  def length(i: Int): Int = ends(i) - starts(i)

  @inline private def isTok(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  private def ensure(n: Int): Unit =
    if (buf.length < n) buf = new Array[Byte](math.max(n, buf.length * 2))

  /** Tokenizes UTF-8 content (non-null). */
  def tokenize(s: UTF8String): Unit = {
    val n = s.numBytes()
    ensure(n)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    var i = 0
    while (i < n) {
      val c = buf(i)
      if (c < 0) return fallback(s.toString)
      if (c >= 'A' && c <= 'Z') buf(i) = (c + 32).toByte
      i += 1
    }
    scan(n)
  }

  /** Tokenizes `s`; null has no tokens. */
  def tokenize(s: String): Unit = {
    if (s == null) { nToks = 0; return }
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c >= 0x80) return fallback(s)
      buf(i) = (if (c >= 'A' && c <= 'Z') c + 32 else c).toByte
      i += 1
    }
    scan(n)
  }

  private def scan(n: Int): Unit = {
    nToks = 0
    var i = 0
    while (i < n) {
      if (isTok(buf(i))) {
        val s = i
        var e = i + 1
        while (e < n && isTok(buf(e))) e += 1
        addTok(s, e)
        i = e
      } else i += 1
    }
  }

  /** Non-ASCII row: the reference tokens, packed back to back. */
  private def fallback(s: String): Unit = {
    nToks = 0
    val toks = Tokenizer.tokenizeScala(s)
    ensure(toks.iterator.map(_.length).sum)
    var off = 0
    toks.foreach { t =>
      var k = 0
      while (k < t.length) { buf(off + k) = t.charAt(k).toByte; k += 1 }
      addTok(off, off + t.length)
      off += t.length
    }
  }

  private def addTok(s: Int, e: Int): Unit = {
    if (nToks == starts.length) {
      starts = java.util.Arrays.copyOf(starts, nToks * 2)
      ends = java.util.Arrays.copyOf(ends, nToks * 2)
    }
    starts(nToks) = s
    ends(nToks) = e
    nToks += 1
  }

  /** md5 of tokens [from, from + width) joined by ' ' into [[lastH1]] /
    * [[lastH2]], allocation-free. The digested bytes are the UTF-8 of the
    * shingle string, so the digest equals `md5Hex` / Spark `md5` over it.
    */
  def hashWindowTo(from: Int, width: Int): Unit = {
    if (md == null) md = java.security.MessageDigest.getInstance("MD5")
    // one update over the joined window: per-token updates pay the
    // digest's per-call overhead once per token and separator
    var len = width - 1
    var k = 0
    while (k < width) { len += length(from + k); k += 1 }
    if (win.length < len) win = new Array[Byte](math.max(len, win.length * 2))
    var o = 0
    k = 0
    while (k < width) {
      if (k > 0) { win(o) = ' '; o += 1 }
      System.arraycopy(buf, starts(from + k), win, o, length(from + k))
      o += length(from + k)
      k += 1
    }
    md.update(win, 0, len)
    md.digest(digest, 0, 16)
    var h1 = 0L
    var h2 = 0L
    k = 0
    while (k < 8) { h1 = (h1 << 8) | (digest(k) & 0xffL); k += 1 }
    while (k < 16) { h2 = (h2 << 8) | (digest(k) & 0xffL); k += 1 }
    lastH1 = h1
    lastH2 = h2
  }
}

private[graft] object TokenScanner {
  /** One core per thread, for Catalyst expressions only. */
  val local: ThreadLocal[TokenScanner] = ThreadLocal.withInitial(() => new TokenScanner)
}

/** Growable open-addressed byte range -> dense id table: the one token
  * table behind the build's per-doc word terms and the unigram vocabulary
  * count, shaped like [[graft.ml.Dedup.LongPairTable]]. Keys are copied
  * into an arena; ids are handed out 0, 1, 2, … in insertion order, so a
  * caller keeps per-key state in plain arrays indexed by id (positions
  * for the build, counts for the vocabulary). A slot holds id + 1 (0 =
  * empty); linear probing at load ≤ 0.5, growth doubles the slots and
  * re-places every id from its stored hash. [[clear]] costs O(size), not
  * O(capacity), so one wide doc does not slow every later doc.
  */
private[graft] final class TokenTable {
  private var slots = new Array[Int](1 << 10)
  private var offs = new Array[Int](256)
  private var lens = new Array[Int](256)
  private var hashes = new Array[Int](256)
  private var arena = new Array[Byte](1 << 12)
  private var arenaN = 0
  private var n = 0

  def size: Int = n
  /** Key `id` is [[length]]`(id)` bytes of this array at [[offset]]`(id)`. */
  def keyBytes: Array[Byte] = arena
  def offset(id: Int): Int = offs(id)
  def length(id: Int): Int = lens(id)

  /** Id of `src[off, off + len)`, added as id `size` when absent. */
  def add(src: Array[Byte], off: Int, len: Int): Int = {
    if ((n + 1) * 2 > slots.length) grow()
    val h = hashOf(src, off, len)
    val mask = slots.length - 1
    var j = h & mask
    var s = slots(j)
    while (s != 0) {
      val id = s - 1
      if (hashes(id) == h && lens(id) == len &&
          java.util.Arrays.equals(arena, offs(id), offs(id) + len, src, off, off + len))
        return id
      j = (j + 1) & mask
      s = slots(j)
    }
    if (n == offs.length) {
      offs = java.util.Arrays.copyOf(offs, 2 * n)
      lens = java.util.Arrays.copyOf(lens, 2 * n)
      hashes = java.util.Arrays.copyOf(hashes, 2 * n)
    }
    if (arenaN + len > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.max(arenaN + len, 2 * arena.length))
    System.arraycopy(src, off, arena, arenaN, len)
    offs(n) = arenaN
    lens(n) = len
    hashes(n) = h
    arenaN += len
    n += 1
    slots(j) = n
    n - 1
  }

  /** Empties the table, keeping its capacity: each id's slot is found by
    * probing from its hash for id + 1, so the cost follows the entries,
    * not the capacity.
    */
  def clear(): Unit = {
    val mask = slots.length - 1
    var id = 0
    while (id < n) {
      var j = hashes(id) & mask
      while (slots(j) != id + 1) j = (j + 1) & mask
      slots(j) = 0
      id += 1
    }
    n = 0
    arenaN = 0
  }

  private def grow(): Unit = {
    slots = new Array[Int](2 * slots.length)
    val mask = slots.length - 1
    var id = 0
    while (id < n) {
      var j = hashes(id) & mask
      while (slots(j) != 0) j = (j + 1) & mask
      slots(j) = id + 1
      id += 1
    }
  }

  private def hashOf(src: Array[Byte], off: Int, len: Int): Int = {
    var h = 1
    var i = off
    while (i < off + len) { h = 31 * h + src(i); i += 1 }
    h ^ (h >>> 16)
  }
}

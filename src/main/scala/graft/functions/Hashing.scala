package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** One content-defined chunk of a byte payload: 1-based start, byte
  * length, and the lowercase-hex md5 of the chunk bytes. */
case class ChunkSpan(start: Int, len: Int, fp: String)

/** Single-pass JVM kernels for the dedup sketches.
  *
  * The naive column-expression formulation of a 64-permutation MinHash
  * (or a 64-bit SimHash) is 64 separate interpreted `aggregate` passes
  * over the shingle-hash array per document — the dominant cost of the
  * dedup queries at bench scale. These kernels take the (codegen'd)
  * `xxhash64` shingle hashes as one `array<bigint>` column and produce
  * the whole signature in a single tight loop per document.
  *
  * Determinism: every hash parameter is a pure function of the
  * permutation index via SplitMix64 (seeded constants below) — identical
  * plans and results across JVMs, runs, and partitionings.
  */
object Hashing {

  /** SplitMix64 finalizer — the standard public-domain mix
    * (Steele et al., "Fast splittable pseudorandom number generators"). */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val NumPerm = 64
  val Bands = 16
  val RowsPerBand: Int = NumPerm / Bands

  private val seeds: Array[Long] =
    Array.tabulate(NumPerm)(i => splitmix64(0xABCDEF1234567890L + i))

  /** The i-th permutation seed / the band-b key-chain init — exposed
    * read-only so the d16 oracle generator single-sources the replay
    * constants from the kernel instead of duplicating them. */
  private[graft] def permSeed(i: Int): Long = seeds(i)
  private[graft] def bandInit(b: Int): Long = splitmix64(0x5DEECE66DL + b)

  /** 16 LSH band keys from a 64-permutation MinHash over the shingle
    * hashes: minᵢ over shingles of splitmix64(h ^ seedᵢ), then each band
    * of 4 minima mixed into one 64-bit key. Band keys are 8-byte longs —
    * the shuffle key for candidate generation stays tiny regardless of
    * document size. */
  def minhashBandKeys(hashes: Seq[Long]): Array[Long] = {
    val mins = Array.fill(NumPerm)(Long.MaxValue)
    val it = hashes.iterator
    while (it.hasNext) {
      val h = it.next()
      var i = 0
      while (i < NumPerm) {
        val v = splitmix64(h ^ seeds(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    Array.tabulate(Bands) { b =>
      var acc = splitmix64(0x5DEECE66DL + b)
      var r = 0
      while (r < RowsPerBand) {
        acc = splitmix64(acc ^ mins(b * RowsPerBand + r))
        r += 1
      }
      acc
    }
  }

  /** The 64 per-permutation minima alone — [[minhashBandKeys]] without
    * the band fold, so a geometry sweep (d19) computes the expensive
    * half ONCE and re-folds per (bands, rows) grouping. */
  def minhashMinima(hashes: Seq[Long]): Array[Long] = {
    val mins = Array.fill(NumPerm)(Long.MaxValue)
    val it = hashes.iterator
    while (it.hasNext) {
      val h = it.next()
      var i = 0
      while (i < NumPerm) {
        val v = splitmix64(h ^ seeds(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    mins
  }

  /** Fold 64 minima into `bands` keys of NumPerm/bands rows each —
    * the [[minhashBandKeys]] key chain at a parametric geometry
    * (bands=16 reproduces it exactly: same [[bandInit]] inits, same
    * per-row splitmix chain). */
  def bandKeysAt(mins: Seq[Long], bands: Int): Array[Long] = {
    require(NumPerm % bands == 0, s"bands=$bands must divide $NumPerm")
    val rpb = NumPerm / bands
    Array.tabulate(bands) { b =>
      var acc = splitmix64(0x5DEECE66DL + b)
      var r = 0
      while (r < rpb) {
        acc = splitmix64(acc ^ mins(b * rpb + r))
        r += 1
      }
      acc
    }
  }

  /** 64-bit SimHash: bit i is the sign (>= 0 → 1) of the sum over
    * shingles of ±1 according to bit i of the shingle hash. */
  def simhash64(hashes: Seq[Long]): Long = {
    val counts = new Array[Int](64)
    val it = hashes.iterator
    while (it.hasNext) {
      val h = it.next()
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) >= 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** [[simhash64]]'s WIDE twin: a 128-bit SimHash as two longs — the
    * d17 chunk-keyspace dial's signature. Bits 0..63 fold the shingle
    * hash itself (sig(0) IS [[simhash64]]'s value bit-for-bit — the
    * prefix law DedupSpec pins); bits 64..127 fold an independent
    * splitmix re-mix of the shingle hash. 4 pigeonhole chunks over 128
    * bits are 32 bits wide — keyspace 2³², so chunk buckets stay
    * birthday-sparse to multi-billion-doc stores (16-bit chunks
    * saturate at ~2¹⁶ docs: every bucket holds store/65536 random
    * cohabitants PER CHUNK, the candidate term a bigger store cannot
    * dial away without a wider key). */
  def simhash128(hashes: Seq[Long]): Array[Long] = {
    val counts = new Array[Int](128)
    val it = hashes.iterator
    while (it.hasNext) {
      val h = it.next()
      val h2 = splitmix64(h ^ 0xA0D10517EC4A11L)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        if (((h2 >>> i) & 1L) == 1L) counts(64 + i) += 1
        else counts(64 + i) -= 1
        i += 1
      }
    }
    val sig = new Array[Long](2)
    var i = 0
    while (i < 128) {
      if (counts(i) >= 0) sig(i / 64) |= (1L << (i % 64))
      i += 1
    }
    sig
  }

  /** FNV-1a 64-bit over the UTF-16 chars — deterministic 64-bit string
    * hash with no dependency on JVM `hashCode`.
    *
    * BMP-only oracle equivalence: the DuckDB replays (d04/t25/t26)
    * feed `ord()` per CODE POINT, identical to UTF-16 units only for
    * BMP characters — a surrogate pair hashes as two units here but
    * one code point there. The t25/t26 oracles carry a guard CTE that
    * errors on any code point > 0xFFFF so the precondition is
    * enforced, not assumed (d04 documents it; its corpus is ASCII). */
  def fnv64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** Distinct hashed word n-gram shingles of a document in ONE pass:
    * tokenize, FNV-hash each token, mix n consecutive token hashes into
    * one 64-bit shingle hash, de-duplicate. Replaces the column-level
    * `transform(sequence(...), concat_ws(element_at×3))` + `xxhash64`
    * pipeline, which evaluates interpreted per shingle — this kernel is
    * the document-preprocessing hot path shared by MinHash-LSH, exact
    * n-gram Jaccard, and SimHash. */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val toks = text.trim.split("\\s+")
    if (toks.length < n) return Array.emptyLongArray
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = fnv64(toks(i)); i += 1 }
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i + n <= toks.length) {
      var acc = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < n) { acc = splitmix64(acc ^ th(i + j)); j += 1 }
      set.add(acc)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Stride-1 w-token window hashes of a document, one per position
    * (NOT de-duplicated — position identity is the point): FNV-hash
    * each token once, then chain w token hashes through the same
    * splitmix mix as [[shingleHashes]]. O(n·w) long-mixes per doc —
    * the t26 hot path; the md5-over-rebuilt-substring formulation this
    * replaced hashed O(n·w) CHARACTERS plus built the strings. */
  def windowHashes(text: String, w: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val toks = text.trim.split("\\s+")
    if (toks.length < w) return Array.emptyLongArray
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = fnv64(toks(i)); i += 1 }
    val out = new Array[Long](toks.length - w + 1)
    i = 0
    while (i + w <= toks.length) {
      var acc = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < w) { acc = splitmix64(acc ^ th(i + j)); j += 1 }
      out(i) = acc
      i += 1
    }
    out
  }

  private val minhashBandKeysUdf = udf((h: Seq[Long]) => minhashBandKeys(h))
  private val minhashMinimaUdf = udf((h: Seq[Long]) => minhashMinima(h))
  private val bandKeysAtUdf =
    udf((m: Seq[Long], bands: Int) => bandKeysAt(m, bands))
  private val simhash64Udf = udf((h: Seq[Long]) => simhash64(h))
  private val simhash128Udf = udf((h: Seq[Long]) => simhash128(h))
  private val shingleHashesUdf = udf((t: String, n: Int) => shingleHashes(t, n))

  /** Column form of [[shingleHashes]]. */
  def hashedShingles(text: Column, n: Int = 3): Column =
    shingleHashesUdf(text, org.apache.spark.sql.functions.lit(n))

  /** Column form of [[minhashBandKeys]]; input array<bigint>. */
  def minhashBands(shingleHashes: Column): Column = minhashBandKeysUdf(shingleHashes)

  /** Column form of [[minhashMinima]]; input array<bigint>. */
  def minhashMins(shingleHashes: Column): Column =
    minhashMinimaUdf(shingleHashes)

  /** Column form of [[bandKeysAt]]; minima array<bigint> + band count. */
  def bandKeys(mins: Column, bands: Int): Column =
    bandKeysAtUdf(mins, org.apache.spark.sql.functions.lit(bands))

  /** Column form of [[simhash64]]; input array<bigint>. */
  def simhash(shingleHashes: Column): Column = simhash64Udf(shingleHashes)

  /** Column form of [[simhash128]]; input array<bigint>, output
    * array<bigint> of 2 (lo, hi). */
  def simhashWide(shingleHashes: Column): Column =
    simhash128Udf(shingleHashes)

  // ---- t25 Count-Min sketch geometry ------------------------------

  /** CMS shape: depth rows × 2^CmsLogW cells. Single-sourced into the
    * generated t25 oracle replay (OracleSqlText) so the engine can never
    * sketch at a different geometry than the oracle recounts. */
  val CmsDepth: Int = 3
  val CmsLogW: Int = 9
  val CmsWidth: Int = 1 << CmsLogW

  /** Per-row multiply-shift multipliers (Dietzfelbinger et al.'s
    * universal family: cell = (a·h mod 2⁶⁴) >> (64−logW), a odd) —
    * the public splitmix64/xxhash64 mixing constants. */
  val CmsMultipliers: Array[Long] = Array(
    0x9E3779B97F4A7C15L, 0xC2B2AE3D27D4EB4FL, 0x165667B19E3779F9L)

  /** The CMS cell of hash `h` in each sketch row. JVM `*` wraps mod
    * 2⁶⁴ and `>>>` floor-divides the UNSIGNED value — exactly the
    * HUGEINT split-form multiply + `// 2^(64-logW)` the DuckDB oracle
    * replays (the d04 discipline). */
  def cmsCells(h: Long): Array[Int] = {
    val out = new Array[Int](CmsDepth)
    var r = 0
    while (r < CmsDepth) {
      out(r) = ((CmsMultipliers(r) * h) >>> (64 - CmsLogW)).toInt
      r += 1
    }
    out
  }

  private val fnv64Udf = udf((s: String) => fnv64(s))
  private val cmsCellsUdf = udf((h: Long) => cmsCells(h))
  private val windowHashesUdf = udf((t: String, w: Int) => windowHashes(t, w))

  /** Column form of [[windowHashes]]. */
  def windowHashesCol(text: Column, w: Column): Column =
    windowHashesUdf(text, w)

  /** Content-defined chunk spans of a byte payload (the LBFS/rsync
    * discipline behind every sub-file dedup store): a chunk boundary
    * closes after byte position e (1-based) when the hash of the
    * trailing `w`-byte window is ≡ 0 mod `divisor` — a pure function
    * of LOCAL content, so boundaries RE-SYNCHRONIZE right after any
    * insert/edit and shifted copies of shared content still produce
    * byte-identical chunks (a fixed-size grid loses every chunk after
    * the first shifted byte — the m09 spec pins this law).
    *
    * The window hash is the big-endian unsigned first-4-bytes of the
    * window's md5 — one digest per position, bit-identical in SQL on
    * both engines (`'0x' || substr(md5(...),1,8)` / `conv`), which is
    * what makes m09 an exact-oracle query. A production kernel swaps
    * in an O(n) rolling gear/Rabin hash; the chunking discipline,
    * plan shape, and store schema stay put. Deliberately PURE
    * content-defined — no min/max clamp — so the replay needs no
    * sequential state; the expected chunk size is `divisor` bytes and
    * a clamp belongs in the production rolling kernel. */
  def cdcChunks(payload: Array[Byte], w: Int, divisor: Int): Array[ChunkSpan] = {
    if (payload == null || payload.length == 0) return Array.empty
    val n = payload.length
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(d: Array[Byte]): String = d.map("%02x".format(_)).mkString
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var e = w
    while (e <= n) {
      md.reset()
      md.update(payload, e - w, w)
      val d = md.digest()
      val head = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      if (head % divisor == 0L) ends += e
      e += 1
    }
    if (ends.isEmpty || ends.last != n) ends += n
    val out = new Array[ChunkSpan](ends.length)
    var prev = 0
    var k = 0
    while (k < ends.length) {
      val len = ends(k) - prev
      md.reset()
      md.update(payload, prev, len)
      out(k) = ChunkSpan(prev + 1, len, hex(md.digest()))
      prev = ends(k)
      k += 1
    }
    out
  }

  private[graft] val cdcChunksUdf =
    udf((b: Array[Byte], w: Int, d: Int) => cdcChunks(b, w, d))

  /** Column form of [[cdcChunks]]; input binary, output
    * array<struct<start:int,len:int,fp:string>>. */
  def cdcChunksCol(payload: Column, w: Column, divisor: Column): Column =
    cdcChunksUdf(payload, w, divisor)

  /** Column form of [[fnv64]] (single-token hash). */
  def tokenHash(c: Column): Column = fnv64Udf(c)

  /** Column form of [[cmsCells]]; input bigint, output array<int>. */
  def cmsCellsCol(h: Column): Column = cmsCellsUdf(h)
}

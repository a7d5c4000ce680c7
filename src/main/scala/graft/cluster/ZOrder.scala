package graft.cluster

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Multi-dimensional cluster keys: Z-order (Morton) bit-interleaving and
 * Hilbert-curve mapping over (source, n_tok, doc_id).
 *
 * Z-order is pure Column bit-math — shiftleft / bitwiseOR chains that stay
 * inside whole-stage codegen (SURVEY.md §2.10: the reference is deliberately
 * UDF-free, /root/reference/spark/lib/utils.py:74-103 are Column
 * combinators; we keep that discipline). The bit-spread uses the classic
 * Morton magic-mask sequence, 5 shift+mask steps per dimension instead of a
 * 16-term per-bit loop.
 *
 * Dimensions (each mapped to an unsigned 16-bit bucket):
 *   d0 source  — dictionary index (stable dict persisted in snapshot
 *                summary; cf. the reference's literal create_map dictionary
 *                /root/reference/spark/lib/utils.py:96-99), scaled to 16 bits
 *                so the interleave is balanced;
 *   d1 n_tok   — clamped to [0, 65535];
 *   d2 doc_id  — top 16 bits of xxhash64(doc_id) (the reference's surrogate
 *                hash, e.g. /root/reference/spark/jobs/silver/laps.py:38-46),
 *                mapped to unsigned space first (signed-long edge case,
 *                SURVEY.md §7.4).
 */
object ZOrder {

  /** Spread the low 21 bits of x so consecutive bits land 3 apart
    * (Morton "part1by2"). All constants public-domain bit-twiddling. */
  def part1by2(x: Column): Column = {
    val a = x.bitwiseAND(lit(0x1fffffL))
    val b = a.bitwiseOR(shiftleft(a, 32)).bitwiseAND(lit(0x1f00000000ffffL))
    val c = b.bitwiseOR(shiftleft(b, 16)).bitwiseAND(lit(0x1f0000ff0000ffL))
    val d = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x100f00f00f00f00fL))
    val e = d.bitwiseOR(shiftleft(d, 4)).bitwiseAND(lit(0x10c30c30c30c30c3L))
    e.bitwiseOR(shiftleft(e, 2)).bitwiseAND(lit(0x1249249249249249L))
  }

  /** Interleave 3 dims (≤21 bits each) into one Z key. */
  def interleave3(d0: Column, d1: Column, d2: Column): Column =
    part1by2(d0)
      .bitwiseOR(shiftleft(part1by2(d1), 1))
      .bitwiseOR(shiftleft(part1by2(d2), 2))

  /** Reference scalar implementation (for property tests): interleave the
    * low `bits` bits of each dim, dim 0 in the lowest position. */
  def interleave3Ref(d0: Long, d1: Long, d2: Long, bits: Int = 21): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((d0 >> i) & 1L) << (3 * i)
      z |= ((d1 >> i) & 1L) << (3 * i + 1)
      z |= ((d2 >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    z
  }

  /** Stable dictionary index for `source` under dict (sorted, persisted in
    * the snapshot summary so indices never move across passes —
    * SURVEY.md §7.4 item 3). Unknown labels map to dict.size. */
  def dictIndex(source: Column, dict: Seq[String]): Column = {
    if (dict.isEmpty) lit(0L)
    else {
      val m = map(dict.zipWithIndex.flatMap { case (s, i) =>
        Seq(lit(s), lit(i.toLong)) }: _*)
      coalesce(element_at(m, source), lit(dict.size.toLong))
    }
  }

  /** 16-bit bucket of each dimension. */
  def sourceBucket(source: Column, dict: Seq[String]): Column = {
    // scale the dict index across the full 16-bit space so source bits
    // interleave meaningfully with the other dims
    val n = math.max(dict.size + 1, 1)
    (dictIndex(source, dict) * lit(65535L / n)).bitwiseAND(lit(0xffffL))
  }

  def ntokBucket(nTok: Column): Column =
    least(greatest(nTok.cast("long"), lit(0L)), lit(65535L))

  /** ORDER-ALIGNED doc dimension: the leading 4 hex chars of doc_id parsed
    * as an int. Using a fresh hash here (first implementation) made the Z
    * dimension uncorrelated with lexicographic doc_id order, so clustered
    * files had full-width doc_id min/max windows and MERGE's range-based
    * touched-file pruning never fired. Aligning the bucket with the sort
    * key used for pruning gives each clustered file a tight doc_id window.
    * Non-hex-prefixed keys (e.g. merge-inserted) fall back to a hash bucket. */
  def docBucket(docId: Column): Column =
    when(docId.rlike("^[0-9a-f]{4}"),
      conv(substring(docId, 1, 4), 16, 10).cast("long").bitwiseAND(lit(0xffffL)))
      .otherwise(shiftrightunsigned(xxhash64(docId), 48).bitwiseAND(lit(0xffffL)))

  /** The engine's Z key over (source, n_tok, doc_id). */
  def zkey(source: Column, nTok: Column, docId: Column, dict: Seq[String]): Column =
    interleave3(sourceBucket(source, dict), ntokBucket(nTok), docBucket(docId))
}

/**
 * Hilbert-curve index (Skilling's public-domain transpose algorithm,
 * "Programming the Hilbert curve", AIP Conf. Proc. 707, 2004). Better
 * locality than Z-order (no long diagonal jumps), at the cost of a
 * state-walk that is loop-heavy — implemented as a scalar function and
 * exposed through a compact Catalyst expression via `udf` only at the
 * clustering rewrite (cold path, one evaluation per row per rewrite;
 * SURVEY.md §2.10 explicitly budgets this).
 */
object Hilbert {

  /** axes (n dims × b bits each) → Hilbert index, via Skilling transform. */
  def index(axes: Array[Long], bits: Int): Long = {
    val n = axes.length
    val x = axes.clone()
    // axes -> transpose (in place)
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) { if ((x(n - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // transpose -> single index: bit j of dim i goes to position j*n + (n-1-i)
    var h = 0L
    var j = bits - 1
    while (j >= 0) {
      var d = 0
      while (d < n) {
        h = (h << 1) | ((x(d) >> j) & 1L)
        d += 1
      }
      j -= 1
    }
    h
  }

  /** Inverse (index → axes) for bijectivity property tests. */
  def axes(h: Long, n: Int, bits: Int): Array[Long] = {
    val x = new Array[Long](n)
    // un-interleave
    var pos = n * bits - 1
    var j = bits - 1
    while (j >= 0) {
      var d = 0
      while (d < n) {
        x(d) |= ((h >> pos) & 1L) << j
        pos -= 1
        d += 1
      }
      j -= 1
    }
    // transpose -> axes (Skilling inverse)
    val nBits = bits
    var t = x(n - 1) >> 1
    var i = n - 1
    while (i > 0) { x(i) ^= x(i - 1); i -= 1 }
    x(0) ^= t
    var q = 2L
    while (q != (1L << nBits)) {
      val p = q - 1
      i = n - 1
      while (i >= 0) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val tt = (x(0) ^ x(i)) & p; x(0) ^= tt; x(i) ^= tt }
        i -= 1
      }
      q <<= 1
    }
    x
  }

  /** 3-dim 16-bit Hilbert key over the same buckets as ZOrder.zkey. */
  val bits3 = 16

  private val hilbert3 = org.apache.spark.sql.functions.udf(
    (d0: Long, d1: Long, d2: Long) => index(Array(d0, d1, d2), bits3))

  def hkey(source: Column, nTok: Column, docId: Column, dict: Seq[String]): Column =
    hilbert3(
      ZOrder.sourceBucket(source, dict),
      ZOrder.ntokBucket(nTok),
      ZOrder.docBucket(docId))
}

package graft.sources

import java.nio.ByteBuffer
import java.util.Base64

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Per-file Bloom-filter sidecar for the snapshot layer's point-lookup
  * pruning — the third leg of the skipping surface:
  *
  *   - min/max stats (`_stats.json`) prune RANGE probes, but cannot
  *     prune a point probe on a column whose values interleave across
  *     files (every range straddles the key);
  *   - value sets (`_sets.json`) prune point probes EXACTLY, but only
  *     for files whose distinct count fits the cap — past it the file
  *     records OVERFLOW and every probe keeps it;
  *   - this sidecar (`_bloom.json`) covers exactly that OVERFLOW
  *     regime: a fixed-size bit array per (file, column) that answers
  *     "might this file hold `column = value`?" with a bounded
  *     false-POSITIVE rate and NO false negatives — so pruning stays
  *     an optimization, never a correctness filter. At 100 TB an ID
  *     probe on a non-clustered high-cardinality column opens
  *     ~|files-holding-key| × (1 + fpp·|files|) files instead of all
  *     of them. This is what Parquet's column bloom filters / Delta's
  *     BLOOMFILTER index do at footer level, lifted to the manifest so
  *     no footer is touched at all.
  *
  * Determinism: hashing is Kirsch–Mitzenmacher double hashing over two
  * seeded 32-bit murmur3 string hashes — pure JVM-version-stable
  * functions of the value string, so a bloom built by one session
  * prunes correctly in every later one. Values are hashed as their
  * Spark `cast("string")` rendering, the same rendering the value-set
  * sidecar compares against, so one probe string drives both legs.
  *
  * Build cost: no pass of its own. SnapshotTable's manifest pass
  * builds every bloom, value set and min/max of a staged version in
  * ONE `groupBy(file)` aggregate (each task ORs into a local bit
  * array; the shuffle moves |files| buffers, not rows). All filters
  * of a pass share one `(m, k)`, sized at [[Fpp]] for the largest
  * staged file's ROW count, read from the Parquet footers with no
  * job: rows bound distinct values from above, so the realized fpp
  * stays at or below [[Fpp]] until `m` reaches [[MaxBits]] (1 MiB of
  * bits) — past the cap it degrades gracefully (more files kept,
  * never a wrong result). Parquet's own column blooms are not used:
  * its writer builds none for a dictionary-encoded column chunk.
  */
object BloomSidecar {

  /** The false-positive rate every sidecar bloom is sized for. */
  val Fpp: Double = 0.01

  /** Bit-size cap per (file, column): 2^23 bits = 1 MiB. A file whose
    * distinct count wants more than this gets a denser (higher-fpp)
    * filter rather than an unbounded sidecar — the sidecar must stay
    * metadata-sized next to 100 MB+ data files.
    */
  val MaxBits: Int = 1 << 23

  /** (m bits, k probes) for `n` expected distinct values at `fpp`.
    * Standard sizing: m = -n·ln(p)/ln²2 rounded up to a multiple of
    * 64; k = m/n·ln2. Floors keep degenerate inputs sane (empty or
    * single-value files still get a real filter).
    */
  def size(n: Long, fpp: Double): (Int, Int) = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val nn = math.max(1L, n)
    val ln2sq = math.log(2) * math.log(2)
    val mRaw = math.ceil(-nn * math.log(fpp) / ln2sq)
    val m = math.min(MaxBits.toLong,
      math.max(1024L, ((mRaw.toLong + 63) / 64) * 64)).toInt
    val k = math.max(1, math.min(16, math.round(m.toDouble / nn * math.log(2)).toInt))
    (m, k)
  }

  // Two independent 32-bit murmur3 hashes of the value string;
  // h2 forced odd so the k probe positions never collapse onto one
  // bit (the classic double-hashing degeneracy when h2 ≡ 0 mod m).
  private def probes(v: String, k: Int, m: Int): Iterator[Int] = {
    val h1 = MurmurHash3.stringHash(v, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(v, 0x5eedba5e) | 1
    val l1 = h1.toLong & 0xffffffffL
    val l2 = h2.toLong & 0xffffffffL
    (0 until k).iterator.map(i => ((l1 + i * l2) % m).toInt)
  }

  /** Set `v`'s bits in `bits` (an `m/64`-long array). */
  def add(bits: Array[Long], m: Int, k: Int, v: String): Unit =
    probes(v, k, m).foreach { idx =>
      bits(idx >>> 6) |= (1L << (idx & 63))
    }

  /** Might the filter hold `v`? No false negatives by construction. */
  def mightContain(bits: Array[Long], m: Int, k: Int, v: String): Boolean =
    probes(v, k, m).forall { idx =>
      (bits(idx >>> 6) & (1L << (idx & 63))) != 0
    }

  /** Sidecar line payload: `m:k:<base64 of the big-endian longs>`. */
  def encode(bits: Array[Long], m: Int, k: Int): String = {
    val bb = ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    s"$m:$k:${Base64.getEncoder.encodeToString(bb.array())}"
  }

  /** Parse [[encode]]'s payload; None on any malformed line (the
    * caller keeps the file conservatively).
    */
  def decode(payload: String): Option[(Int, Int, Array[Long])] =
    payload.split(":", 3) match {
      case Array(mS, kS, b64) =>
        try {
          val m = mS.toInt
          val k = kS.toInt
          val bytes = Base64.getDecoder.decode(b64)
          if (m <= 0 || k <= 0 || bytes.length != ((m + 63) / 64) * 8) None
          else {
            val bb = ByteBuffer.wrap(bytes)
            Some((m, k, Array.fill(bytes.length / 8)(bb.getLong)))
          }
        } catch { case _: Exception => None }
      case _ => None
    }

  /** The per-group (per-file) build aggregate: OR value hashes into a
    * fixed `m`-bit array. Null inputs are skipped — a `col = value`
    * probe can never match a null row, matching the value-set leg.
    */
  final class BloomAgg(m: Int, k: Int)
      extends Aggregator[String, Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](m / 64)
    override def reduce(b: Array[Long], v: String): Array[Long] = {
      if (v != null) add(b, m, k, v)
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(b.length * 8)
      b.foreach(bb.putLong)
      bb.array()
    }
    override def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** [[CappedSetAgg]]'s buffer: `values` is null once past the cap. */
  final class ValueSet(var values: java.util.HashSet[String],
      var hasNull: Boolean)

  /** The per-group (per-file) value-set aggregate behind `_sets.json`:
    * the distinct values, plus one null element when a null arrived
    * (nulls sit outside the cap), or EMPTY once more than `cap`
    * distinct non-null values arrived. The buffer stops growing past
    * the cap, so memory stays bounded without a distinct-count
    * pre-pass. A group always has a row, so an in-cap result is never
    * empty.
    */
  final class CappedSetAgg(cap: Int)
      extends Aggregator[String, ValueSet, Seq[String]] {
    private def capped(b: ValueSet): ValueSet = {
      if (b.values != null && b.values.size > cap) b.values = null
      b
    }
    override def zero: ValueSet = new ValueSet(new java.util.HashSet[String], false)
    override def reduce(b: ValueSet, v: String): ValueSet = {
      if (v == null) b.hasNull = true
      else if (b.values != null) b.values.add(v)
      capped(b)
    }
    override def merge(a: ValueSet, b: ValueSet): ValueSet = {
      a.hasNull ||= b.hasNull
      if (b.values == null) a.values = null
      else if (a.values != null) a.values.addAll(b.values)
      capped(a)
    }
    override def finish(b: ValueSet): Seq[String] =
      if (b.values == null) Nil
      else b.values.asScala.toSeq ++ (if (b.hasNull) Seq(null) else Nil)
    override def bufferEncoder: Encoder[ValueSet] = Encoders.kryo[ValueSet]
    override def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
  }
}

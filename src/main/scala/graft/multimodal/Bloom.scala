package graft.multimodal

/** A `bits`-wide bloom bitset with 3 probes per 64-bit key, stored as a
  * Vector of longs (structural equality) — the one geometry behind the
  * pack store's media_id zone map and the meta zone maps' per-column
  * equality blooms. Positions come from the splitmix64 finalizer
  * ([[Bloom.mix]]), a deterministic mixing function usable identically
  * executor-side (bloom build) and driver-side (prune test), with no
  * dependence on Spark's hash expressions. A false positive only costs
  * the read the bloom would have saved.
  */
private[graft] final case class Bloom(bits: Int) {

  def positions(key: Long): Seq[Int] =
    (1 to 3).map(k => math.floorMod(Bloom.mix(key + k * 0x632be59bd9b4e019L), bits).toInt)

  def mightContain(bloom: Vector[Long], key: Long): Boolean =
    positions(key).forall(p => (bloom(p >> 6) & (1L << (p & 63))) != 0L)

  /** The bitset with exactly `set` on. */
  def of(set: Iterable[Int]): Vector[Long] = {
    val words = new Array[Long](bits / 64)
    set.foreach(p => words(p >> 6) |= (1L << (p & 63)))
    words.toVector
  }
}

private[graft] object Bloom {

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Big-endian longs, base64'd — the snapshot-line encoding. */
  def encode(bloom: Vector[Long]): String = {
    val buf = java.nio.ByteBuffer.allocate(bloom.length * 8)
    bloom.foreach(buf.putLong)
    java.util.Base64.getEncoder.encodeToString(buf.array())
  }

  def decode(s64: String): Vector[Long] = {
    val buf = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s64))
    Vector.fill(buf.remaining() / 8)(buf.getLong)
  }
}

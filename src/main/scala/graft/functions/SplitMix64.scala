package graft.functions

/** The plan-time hash-family constants shared by the MinHash
  * permutations (DedupQueries), the count-min rows (ScaleQueries) and the
  * LSH planes (SimilarityQueries). Each is drawn from a splitmix64 stream
  * at plan time, so the Spark literals and the DuckDB oracle's SQL list
  * literals are the same numbers. */
object SplitMix64 {

  /** 2^61 - 1 (prime): the 2-universal permutation modulus. Products of
    * 29-bit constants with 32-bit md5 halves stay < 2^62, so neither
    * engine overflows. */
  val P61 = 2305843009213693951L

  /** 29-bit mask for permutation multipliers and offsets. */
  val Mask29 = (1L << 29) - 1

  /** The splitmix64 output function at state `z0` (Steele, Lea, Flood,
    * "Fast splittable pseudorandom number generators", OOPSLA'14). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash and similarity primitives for near-duplicate detection at
  * scale: the engine-portable 60-bit md5 hash, hamming distance and
  * Jaccard similarity.
  *
  * Everything here is deterministic per row — the expensive global step
  * (candidate pairing) is done by the callers in
  * [[graft.operators.DedupOps]] via band-key equi-joins, which shuffle only
  * (id, band_key) pairs rather than documents. The sketches themselves
  * (shingles, MinHash signatures, SimHash) are `mapPartitions` kernels in
  * DedupOps, not Catalyst expressions: nested higher-order functions
  * re-evaluate their lambda arguments per element.
  */
object HashFunctions {

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("int")

  /** Engine-portable 60-bit hash (Column form): first 15 hex chars of
    * md5, read as an unsigned integer — always positive, never overflows
    * a signed 64-bit lane. Reproducible bit-for-bit in any md5-bearing
    * engine (DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT`), which is
    * what lets sketches built on it be verified ACROSS engines.
    */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** JVM twin of [[portableHash60]] for `mapPartitions` kernels — same
    * bits as the Column form and the DuckDB expression. Pass a per-
    * partition MessageDigest (MD5 digests are not thread-safe).
    */
  def portableHash60JVM(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = high 7.5 bytes, big-endian (matches the hex
    // string form md5() renders)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >>> 4)
  }

  /** Jaccard similarity of two (distinct) shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }
}

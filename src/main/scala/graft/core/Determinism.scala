package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Seeded, data-keyed pseudo-randomness (SURVEY §4.3 "seeded randomness").
  *
  * Every random draw in the engine is a pure function of (data key, seed) —
  * never of partition id, task attempt, or `rand()` without seed keyed by
  * row order. This is what makes outputs byte-identical at local[8] vs
  * local[32] and across resumes, which the north rule requires.
  *
  * Two families:
  *  - [[detHash]] — xxhash64 over the key columns + seed; full 64-bit
  *    dispersion; used internally by samplers / MinHash / salting.
  *  - [[lcg]] — a Lehmer-style multiplicative congruential generator over a
  *    numeric key. Deliberately expressible in portable SQL (no xxhash64 in
  *    DuckDB), so operators whose "random" order must be verified by the
  *    external oracle use this family. Period/quality are adequate for
  *    sampling orders (it is a bijection on [0, M)).
  */
object Determinism {

  /** 64-bit deterministic hash of the given key columns under a seed. */
  def detHash(seed: Long, keys: Column*): Column =
    xxhash64((lit(seed) +: keys): _*)

  /** [[detHash]] with the seed as a COLUMN: value-identical when the
    * column holds the same long (xxhash64 folds the seed child by value,
    * literal or not). Iterative driver loops ride their per-step seed as a
    * data column of the tiny frontier relation so the per-step PLAN — and
    * with it the generated codegen source — is byte-stable across steps;
    * a per-step literal seed forces a fresh Janino compile every step
    * (measured ~0.5 s/step of the walk loop's ~0.9 s step jobs, r6). */
  def detHashC(seedCol: Column, keys: Column*): Column =
    xxhash64((seedCol +: keys): _*)

  /** Uniform double in [0,1) derived from key columns + seed. */
  def detRand(seed: Long, keys: Column*): Column =
    (pmod(detHash(seed, keys: _*), lit(1000000007L)).cast("double")) / lit(1000000007.0)

  /** [[detRand]] with the seed as a column (see [[detHashC]]). */
  def detRandC(seedCol: Column, keys: Column*): Column =
    (pmod(detHashC(seedCol, keys: _*), lit(1000000007L)).cast("double")) / lit(1000000007.0)

  // ---- driver-side (JVM) mirrors of the xxhash64 family ----------------
  // Spark's xxhash64(c1, c2, ...) folds XXH64 over the children starting
  // from seed 42: h = 42; h = hash(c1, h); h = hash(c2, h); ... The
  // mirrors below replay that fold exactly (LongType → XXH64.hashLong,
  // StringType/UTF8_BINARY → XXH64.hashUTF8String), so a draw a sampler
  // loop makes on the DRIVER (frontier state is driver-side anyway) is
  // byte-equal to the in-plan column — DeterminismSpec fuzzes the parity.
  // This is what lets the walk loop pre-compute teleport landing ranks and
  // frontier buckets and push them as isin() pruning filters into the
  // cached-table scans instead of probing the whole O(|V|) cache per step,
  // and what lets the walk and fire samplers replay a whole draw on the
  // driver when their graph fits the broadcast envelope.
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.types.UTF8String

  private val XxSeed = 42L

  /** JVM mirror of xxhash64(lit(x)) for a single STRING key. */
  def xxhashJvm(key: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(key), XxSeed)

  /** JVM mirror of [[detHash]](seed, keys...) over LONG and STRING key
    * columns, folded in order (an Int key hashes as IntegerType; a null
    * key is skipped, as xxhash64 skips null children). */
  def detHashJvm(seed: Long, keys: Any*): Long =
    keys.foldLeft(XXH64.hashLong(seed, XxSeed)) {
      case (h, null) => h
      case (h, k: Long) => XXH64.hashLong(k, h)
      case (h, k: Int) => XXH64.hashInt(k, h)
      case (h, k: String) => XXH64.hashUTF8String(UTF8String.fromString(k), h)
      case (_, k) => throw new IllegalArgumentException(s"no xxhash64 mirror for ${k.getClass}")
    }

  /** Non-negative remainder, mirroring SQL pmod on longs. */
  def pmodJvm(v: Long, m: Long): Long = { val r = v % m; if (r < 0) r + m else r }

  /** JVM mirror of [[detRand]] (same keys as [[detHashJvm]]). */
  def detRandJvm(seed: Long, keys: Any*): Double =
    pmodJvm(detHashJvm(seed, keys: _*), 1000000007L).toDouble / 1000000007.0

  /** JVM mirror of [[detGeometric]]: Spark's `log` is StrictMath.log; the
    * divisor is the same driver-side `math.log` literal the column embeds. */
  def detGeometricJvm(p: Double, seed: Long, keys: Any*): Int =
    (math.floor(StrictMath.log(1.0 - detRandJvm(seed, keys: _*)) / math.log(1.0 - p)) + 1).toInt

  /** JVM mirror of Spark's STRING sort order (UTF8_BINARY: unsigned bytes
    * of the UTF-8 encoding). It differs from `String.compareTo`, which
    * compares UTF-16 units, where a surrogate pair meets a BMP character
    * above U+E000. */
  val utf8Order: Ordering[String] = (a: String, b: String) =>
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Geometric(p) sample (support 1,2,...) from a deterministic uniform:
    * floor(log(1-u)/log(1-p)) + 1 — used by ForestFire burn counts
    * (reference classic_samplers.py:379 np.random.geometric). */
  def detGeometric(p: Double, seed: Long, keys: Column*): Column =
    (floor(log(lit(1.0) - detRand(seed, keys: _*)) / math.log(1.0 - p)) + 1).cast("int")

  /** LCG parameters (Park–Miller-ish; fits in int64 without overflow for
    * keys < ~8e9): ord(k) = (k * A + seed) mod M. */
  val LcgA = 1103515245L
  val LcgM = 2147483647L

  def lcg(key: Column, seed: Long): Column =
    pmod(pmod(key.cast("long"), lit(LcgM)) * lit(LcgA) + lit(seed), lit(LcgM))

  /** DuckDB mirror of [[lcg]] for oracle queries (pre-mod keeps the
    * multiply inside int64 for any key). */
  def lcgDuck(keyExpr: String, seed: Long): String = {
    val k = s"((CAST($keyExpr AS BIGINT) % $LcgM + $LcgM) % $LcgM)"
    s"(($k * $LcgA + $seed) % $LcgM + $LcgM) % $LcgM"
  }

  /** Portable 48-bit integer from a STRING key: the first 12 hex chars of
    * md5 read base-16 — the draw family Node2Vec established for keys that
    * aren't numeric (md5 hex strings are byte-identical in Spark and
    * DuckDB; [[lcg]] covers numeric keys). */
  def md5Int(key: Column): Column =
    conv(substring(md5(key.cast("binary")), 1, 12), 16, 10).cast("long")

  /** DuckDB mirror of [[md5Int]]: positional hex-digit sum over
    * md5($keyExpr) (DuckDB has no base-16 conv). */
  def md5IntDuck(keyExpr: String): String = {
    val h = s"md5($keyExpr)"
    (1 to 12).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * CAST(${math.pow(16, 12 - i).toLong} AS BIGINT)")
      .mkString("(", " + ", ")")
  }
}

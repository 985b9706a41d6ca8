package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The JVM mirrors of the xxhash64 draw family must be BYTE-EXACT vs the
  * in-plan columns: the walk loop partitions its frontier and pre-computes
  * teleport landing ranks on the driver with them, so a single mismatched
  * bit silently changes sampler outputs (or, worse, makes an isin pruning
  * filter drop a legitimate join row). Fuzz the parity over longs (both
  * signs, extremes) and strings (empty, unicode, long). */
class DeterminismSpec extends SparkSpec {
  import spark.implicits._

  private val longKeys: Seq[Long] =
    Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 42L) ++
      (1 to 200).map(i => i * 2654435761L - 1000)
  private val strKeys: Seq[String] =
    Seq("", "a", "node_1", "ü-ünïcode-☃", "x" * 500) ++
      (1 to 200).map(i => s"ent_${i}_${"ab" * (i % 9)}")
  private val seeds = Seq(0L, 42L, -7L, 1234567890123L)

  test("detHashJvm/detRandJvm match the SQL columns for LONG keys") {
    val df = longKeys.toDF("k")
    for (seed <- seeds) {
      val got = df.select(col("k"),
        Determinism.detHash(seed, col("k")).as("h"),
        Determinism.detRand(seed, col("k")).as("r")).collect()
      got.foreach { r =>
        val k = r.getLong(0)
        assert(r.getLong(1) === Determinism.detHashJvm(seed, k), s"detHash($seed, $k)")
        assert(r.getDouble(2) === Determinism.detRandJvm(seed, k), s"detRand($seed, $k)")
      }
    }
  }

  test("detHashJvm matches the SQL column for STRING keys") {
    val df = strKeys.toDF("k")
    for (seed <- seeds) {
      val got = df.select(col("k"), Determinism.detHash(seed, col("k")).as("h")).collect()
      got.foreach { r =>
        assert(r.getLong(1) === Determinism.detHashJvm(seed, r.getString(0)),
          s"detHash($seed, '${r.getString(0).take(20)}')")
      }
    }
  }

  test("xxhashJvm matches bare xxhash64 for STRING keys (bucket formula)") {
    val got = strKeys.toDF("k")
      .select(col("k"), xxhash64(col("k")).as("h")).collect()
    got.foreach { r =>
      assert(r.getLong(1) === Determinism.xxhashJvm(r.getString(0)))
    }
    // and the full bucket expression pmod(xxhash64(k), B)
    val b = strKeys.toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(16)).cast("int").as("b")).collect()
    b.foreach { r =>
      assert(r.getInt(1) === Determinism.pmodJvm(Determinism.xxhashJvm(r.getString(0)), 16).toInt)
    }
  }

  // keys for the multi-key fold: empty, non-ASCII, a surrogate pair, a
  // null (xxhash64 skips null children)
  private val foldStrs: Seq[String] =
    Seq("", "a", "ü-ünïcode-☃", "\uD83D\uDE00-pair", "\uFFFD", null) ++ strKeys.take(40)

  test("detHashJvm folds LONG and STRING keys like the multi-column SQL hash") {
    val rows = for {
      (a, i) <- foldStrs.zipWithIndex
      b <- foldStrs.take(12)
    } yield (longKeys(i % longKeys.size), a, b)
    val df = rows.toDF("l", "a", "b")
    for (seed <- seeds) {
      val got = df.select(col("l"), col("a"), col("b"),
        Determinism.detHash(seed, col("l"), col("a"), col("b")).as("h1"),
        Determinism.detHash(seed, col("a"), col("l"), col("b")).as("h2"),
        Determinism.detHash(seed, col("a"), col("b")).as("h3")).collect()
      got.foreach { r =>
        val (l, a, b) = (r.getLong(0), r.getString(1), r.getString(2))
        assert(r.getLong(3) === Determinism.detHashJvm(seed, l, a, b), s"($seed, $l, $a, $b)")
        assert(r.getLong(4) === Determinism.detHashJvm(seed, a, l, b), s"($seed, $a, $l, $b)")
        assert(r.getLong(5) === Determinism.detHashJvm(seed, a, b), s"($seed, $a, $b)")
      }
    }
  }

  test("detRandJvm matches the SQL column for STRING keys") {
    val df = foldStrs.toDF("k")
    for (seed <- seeds) {
      df.select(col("k"), Determinism.detRand(seed, col("k")).as("r")).collect().foreach { r =>
        assert(r.getDouble(1) === Determinism.detRandJvm(seed, r.getString(0)),
          s"detRand($seed, '${r.getString(0)}')")
      }
    }
  }

  test("detGeometricJvm matches the SQL column at p = 0.4") {
    val df = strKeys.toDF("k")
    for (seed <- seeds ++ (1 to 20).map(i => 17L * i + 7)) {
      val got = df.select(col("k"), Determinism.detGeometric(0.4, seed, col("k")).as("g")).collect()
      got.foreach { r =>
        assert(r.getInt(1) === Determinism.detGeometricJvm(0.4, seed, r.getString(0)),
          s"detGeometric(0.4, $seed, '${r.getString(0).take(20)}')")
      }
      assert(got.map(_.getInt(1)).distinct.length > 1)
    }
  }

  test("utf8Order sorts strings as Spark does, surrogate pairs included") {
    val keys = Seq("\uD83D\uDE00", "\uFFFD", "\uE000", "\uD7FF", "z", "", "a\uD83D\uDE00",
      "a\uFFFD", "ü", "A") ++ strKeys.take(30)
    val inPlan = keys.toDF("k").orderBy(col("k")).collect().map(_.getString(0)).toSeq
    assert(inPlan === keys.sorted(Determinism.utf8Order))
    // the case the mirror exists for: UTF-16 order puts the pair first
    assert(keys.sorted !== inPlan)
  }
}

package graft.expr

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Seeded fuzz parity for the codegen expression kernels against plain
  * Scala mirrors — mixed-script Unicode (multi-byte, surrogate pairs),
  * empty/short strings, case boundaries. These kernels back oracle-checked
  * queries, so a silent divergence on exotic input would surface as a
  * hash mismatch only on data that happens to contain it. */
class ExprFuzzSpec extends AnyFunSuite {

  private val P = 2147483647L
  private val rnd = new scala.util.Random(42)
  private val exotic = Seq("ä", "Ö", "ü", "ß", "λ", "Ω", "Ж", "中", "日", "😀", "𝄞")

  private def randString(): String = {
    val n = rnd.nextInt(40)
    (0 until n).map { _ =>
      rnd.nextInt(5) match {
        case 0 => ('a' + rnd.nextInt(26)).toChar.toString
        case 1 => ('A' + rnd.nextInt(26)).toChar.toString
        case 2 => " .,!0123456789".charAt(rnd.nextInt(14)).toString
        case 3 => exotic(rnd.nextInt(exotic.size))
        case 4 => " "
      }
    }.mkString
  }

  private def cps(s: String): Array[Int] =
    UTF8String.fromString(s).toLowerCase.toString.codePoints().toArray

  test("MinHashFn.sig == code-point mirror on 500 random strings") {
    (1 to 500).foreach { _ =>
      val s = randString()
      val got = MinHashFn.sig(UTF8String.fromString(s), 16).toLongArray().toSeq
      val c = cps(s)
      val expect =
        if (c.length < 3) Seq.empty[Long]
        else (0 until 16).map { j =>
          (0 to c.length - 3).map { i =>
            val h = c(i) * 961L + c(i + 1) * 31L + c(i + 2)
            (h * (1000003L + 999983L * j) + (7L + 104729L * j)) % P
          }.min
        }
      assert(got === expect, s"text=${s.take(50)}")
    }
  }

  test("KGramHashFn.hashes == direct polynomial mirror on 500 random strings") {
    (1 to 500).foreach { _ =>
      val s = randString()
      val k = 2 + rnd.nextInt(7)
      val got = KGramHashFn.hashes(UTF8String.fromString(s), k).toLongArray().toSeq
      val c = cps(s)
      val expect = (0 to c.length - k).map { i =>
        (0 until k).foldLeft(0L)((acc, j) => (acc * 31 + c(i + j)) % P)
      }
      assert(got === expect, s"k=$k text=${s.take(50)}")
    }
  }

  test("ShingleSetFn == code-point mirror on 500 random strings") {
    // the kernel takes already-lowered text, so the mirror does not lower;
    // upper case, combining and supplementary characters are all drawn, and
    // the first 30 strings cover every length 0-2 (in code points); even
    // draws are pure ASCII (the byte path), odd ones mixed (the code points)
    val r = new scala.util.Random(43)
    val ascii = (1 to 127).map(_.toChar.toString).toVector
    val mixed = exotic ++ Seq("İ", "ẞ", "𝔘", "𝔫", "\u0307", "a", "B", " ", ".")
    (1 to 500).foreach { n =>
      val alphabet = if (n % 2 == 0) ascii else mixed
      val len = if (n <= 30) n % 3 else r.nextInt(60)
      val s = Seq.fill(len)(alphabet(r.nextInt(alphabet.size))).mkString
      val c = s.codePoints().toArray
      val codes = (0 to c.length - 3).map(i => c(i) * 961 + c(i + 1) * 31 + c(i + 2))
      val u = UTF8String.fromString(s)
      assert(ShingleSetFn.codes(u).toIntArray().toSeq === codes, s"text=$s")
      assert(ShingleSetFn.set(u).toIntArray().toSeq === codes.distinct.sorted, s"text=$s")
    }
  }

  test("ArrayAgreeFn: positional agreement and sorted-overlap mirrors") {
    (1 to 300).foreach { _ =>
      val a = Array.fill(16)(rnd.nextInt(5).toLong)
      val b = Array.fill(16)(rnd.nextInt(5).toLong)
      assert(ArrayAgreeFn.agree(new GenericArrayData(a), new GenericArrayData(b)) ===
        a.zip(b).count { case (x, y) => x == y })

      val sa = Array.fill(rnd.nextInt(30))(rnd.nextInt(40)).distinct.sorted
      val sb = Array.fill(rnd.nextInt(30))(rnd.nextInt(40)).distinct.sorted
      assert(ArrayAgreeFn.sortedOverlap(new GenericArrayData(sa), new GenericArrayData(sb)) ===
        sa.toSet.intersect(sb.toSet).size)
    }
  }

  test("sortedOverlapAtLeast: -1 ONLY on pairs that cannot round to threshold") {
    // the early-exit merge must be result-identical to the exhaustive one
    // for every pair a caller's `round(J, 5) >= t` filter would keep: -1
    // is only allowed when the exhaustive J provably rounds below t
    (1 to 2000).foreach { _ =>
      val sa = Array.fill(1 + rnd.nextInt(60))(rnd.nextInt(80)).distinct.sorted
      val sb = Array.fill(1 + rnd.nextInt(60))(rnd.nextInt(80)).distinct.sorted
      val t = Seq(0.5, 0.7, 0.8, 0.9, 1.0)(rnd.nextInt(5))
      val exact = sa.toSet.intersect(sb.toSet).size
      val j = BigDecimal(exact.toDouble / (sa.length + sb.length - exact))
        .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
      val got = ArrayAgreeFn.sortedOverlapAtLeast(
        new GenericArrayData(sa), new GenericArrayData(sb), t)
      if (j >= t) assert(got === exact, s"kept pair must carry the exact overlap (J=$j, t=$t)")
      else assert(got === exact || got === -1,
        s"subthreshold pair may only early-exit or complete exactly (J=$j, t=$t)")
    }
    // identical arrays sit at exactly J = 1.0 — the boundary must survive
    val same = Array(1, 5, 9, 12)
    assert(ArrayAgreeFn.sortedOverlapAtLeast(
      new GenericArrayData(same), new GenericArrayData(same), 1.0) === 4)
  }

  test("VecCosineFn == explicit double formula") {
    (1 to 300).foreach { _ =>
      val n = 1 + rnd.nextInt(32)
      val a = Array.fill(n)(rnd.nextFloat() * 2 - 1)
      val b = Array.fill(n)(rnd.nextFloat() * 2 - 1)
      val got = VecCosineFn.cos(
        new GenericArrayData(a), new GenericArrayData(b), true, true)
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until n).foreach { i => dot += ad(i) * bd(i) }
      (0 until n).foreach { i => na += ad(i) * ad(i) }
      (0 until n).foreach { i => nb += bd(i) * bd(i) }
      val expect = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(got === expect)
    }
  }
}

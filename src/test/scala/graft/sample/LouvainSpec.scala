package graft.sample

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LouvainSpec extends SparkSpec {
  import spark.implicits._

  // two K5 cliques bridged by one edge — the textbook two-community graph
  private lazy val cliques = {
    def k5(p: String) = for {
      i <- 0 until 5; j <- i + 1 until 5
    } yield (s"$p$i", s"$p$j")
    (k5("a") ++ k5("b") :+ ("a0", "b0")).toDF("u", "v")
  }

  private def comm(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("two bridged cliques collapse to two communities") (bothForms {
    val c = comm(Louvain.run(cliques, rounds = 4))
    assert(c.size === 10)
    val aLbl = (0 until 5).map(i => c(s"a$i")).toSet
    val bLbl = (0 until 5).map(i => c(s"b$i")).toSet
    assert(aLbl.size === 1, s"clique a split: $aLbl")
    assert(bLbl.size === 1, s"clique b split: $bLbl")
    assert(aLbl != bLbl, "bridge merged the cliques")
  })

  test("moves strictly improve exact-integer modularity vs singletons") (bothForms {
    // Q = intra/m − Σcd²/(4m²); compare on the common denominator 4m²:
    // 4m·intra − Σcd², exact integers from modularityMoments
    def qNum(labels: org.apache.spark.sql.DataFrame): Long = {
      val r = GraphMetrics.modularityMoments(cliques,
        labels.select(col("id"), col("community").as("lbl"))).head()
      4 * r.getLong(0) * r.getLong(1) - r.getLong(2)
    }
    val singletons = cliques.select(col("u").as("id"))
      .unionAll(cliques.select(col("v").as("id"))).distinct()
      .select(col("id"), col("id").as("community"))
    assert(qNum(Louvain.run(cliques, rounds = 4)) > qNum(singletons))
  })

  test("byte-identical at different parallelism") (bothForms {
    val a = comm(Louvain.run(cliques.repartition(1), rounds = 3))
    val b = comm(Louvain.run(cliques.repartition(7), rounds = 3))
    assert(a === b)
  })

  test("weighted: the heavy edge wins a move that unweighted ties to min-id") (bothForms {
    // m's candidates a (w 1) and b (w 10), both lexically below m so the
    // singleton guard allows either: weighted score 110 vs 11 picks b;
    // unweighted ties 2 = 2 and the total order falls back to min c = a
    val e = Seq(("a", "m", 1L), ("b", "m", 10L)).toDF("u", "v", "w")
    val cw = comm(Louvain.runWeighted(e, 1))
    assert(cw("m") === cw("b") && cw("m") != cw("a"))
    val cu = comm(Louvain.run(e.select("u", "v"), 1))
    assert(cu("m") === cu("a"))
  })

  test("runWeighted with w ≡ 1 is bit-identical to run") (bothForms {
    val a = comm(Louvain.run(cliques, rounds = 3))
    val b = comm(Louvain.runWeighted(
      cliques.withColumn("w", org.apache.spark.sql.functions.lit(1L)), rounds = 3))
    assert(a === b)
  })

  test("rounds = 0 returns singletons; isolated-pair graph stays put") (bothForms {
    val c0 = comm(Louvain.run(cliques, rounds = 0))
    assert(c0.forall { case (k, v) => k == v })
    // a single edge: both endpoints end in one community (the pair merge
    // is the only positive-gain move)
    val pair = Seq(("x", "y")).toDF("u", "v")
    val c = comm(Louvain.run(pair, rounds = 2))
    assert(c("x") === c("y"))
  })
}

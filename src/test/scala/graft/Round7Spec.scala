package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Round-7 additions: interpolated Kneser–Ney smoothing (hand-computed
  * probabilities on a toy corpus).
  */
class Round7Spec extends SparkSuite {

  private def toyDocs = {
    import spark.implicits._
    Seq(
      (0L, "a b a b a c"),
      (1L, "a b c a b")
    ).toDF("doc_id", "text")
  }

  // Toy-corpus counts: pc = {(a,b)=4, (a,c)=1, (b,a)=2, (b,c)=1, (c,a)=1};
  // c(a,·)=5 N1+(a,·)=2; c(b,·)=3 N1+(b,·)=2; c(c,·)=1; T=5 types;
  // N1+(·,a)=2, N1+(·,b)=1, N1+(·,c)=2. D=0.75, minPrefix=2 keeps {a, b}.
  test("knLm matches hand-computed interpolated Kneser–Ney probabilities") {
    val lm = TextOps.knLm(toyDocs, minPrefix = 2L, topK = 2, discount = 0.75)
      .orderBy(col("prefix"), col("rk"))
      .collect()
      .map(r => (r.getAs[String]("prefix"), r.getAs[String]("next_word"),
        r.getAs[Double]("backoff_w"), r.getAs[Double]("p_kn")))
    assert(lm.length == 4)
    val eps = 1e-12
    // prefix a: λ=0.75·2/5=0.3; P_cont(b)=1/5, P_cont(c)=2/5
    val Array(ab, ac, ba, bc) = lm
    assert(ab._1 == "a" && ab._2 == "b")
    assert(math.abs(ab._3 - 0.3) < eps)
    assert(math.abs(ab._4 - ((4 - 0.75) / 5.0 + 0.3 * 0.2)) < eps) // 0.71
    assert(ac._2 == "c" && math.abs(ac._4 - ((1 - 0.75) / 5.0 + 0.3 * 0.4)) < eps)
    // prefix b: λ=0.75·2/3=0.5; P_cont(a)=2/5, P_cont(c)=2/5
    assert(ba._1 == "b" && ba._2 == "a")
    assert(math.abs(ba._3 - 0.5) < eps)
    assert(math.abs(ba._4 - ((2 - 0.75) / 3.0 + 0.5 * 0.4)) < eps)
    assert(bc._2 == "c" && math.abs(bc._4 - ((1 - 0.75) / 3.0 + 0.5 * 0.4)) < eps)
  }

  test("knScore backoff chain: table hit, λ·P_cont backoff, rare-prefix floor") {
    // topK=1 keeps only (a,b) and (b,a) in the table
    val scored = TextOps.knScore(toyDocs, minPrefix = 2L, topK = 1,
      discount = 0.75).orderBy(col("doc_id")).collect()
    val eps = 1e-9
    // doc0 bigrams: (a,b)×2 hits, (b,a)×2 hits, (a,c) backoff λ(a)·P_cont(c)
    val d0 = scored(0)
    assert(d0.getAs[Long]("n_bigrams") == 5 && d0.getAs[Long]("n_hits") == 4
      && d0.getAs[Long]("n_backoff") == 1)
    val pAB = (4 - 0.75) / 5.0 + 0.3 * 0.2
    val pBA = (2 - 0.75) / 3.0 + 0.5 * 0.4
    assert(math.abs(d0.getAs[Double]("mean_p") -
      (2 * pAB + 2 * pBA + 0.3 * 0.4) / 5.0) < eps)
    // doc1 bigrams: (a,b)×2 hits, (b,c) backoff λ(b)·P_cont(c)=0.2,
    // (c,a) rare-prefix floor 1/T=0.2
    val d1 = scored(1)
    assert(d1.getAs[Long]("n_bigrams") == 4 && d1.getAs[Long]("n_hits") == 2
      && d1.getAs[Long]("n_backoff") == 1)
    assert(math.abs(d1.getAs[Double]("mean_p") -
      (2 * pAB + 0.5 * 0.4 + 0.2) / 4.0) < eps)
  }
}

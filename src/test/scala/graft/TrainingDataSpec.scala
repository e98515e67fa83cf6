package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TrainingData

/** Invariant tests for the training-data pipeline operators (hash split,
  * sequence packing, repetition metrics, mixture weights, redaction,
  * decontamination). Cross-engine value equality is the oracle gate's job;
  * these pin the semantic invariants each operator promises.
  */
class TrainingDataSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, dir)

  test("hash split partitions the corpus deterministically near 80/10/10") {
    val stats = TrainingData.splitStats(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = stats.values.sum
    assert(total == docs.count())
    assert(stats.keySet == Set("train", "val", "test"))
    // loose bounds: md5 buckets over 500 ids won't hit 80/10/10 exactly
    assert(stats("train").toDouble / total > 0.7)
    assert(stats("val").toDouble / total < 0.2)
    // deterministic: re-running and re-partitioning never moves a doc
    val a = TrainingData.withSplit(docs).select("doc_id", "split")
    val b = TrainingData.withSplit(docs.repartition(7))
      .select("doc_id", "split")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("splitLeakage matches a naive label-and-count over the same pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (1L, 6L))
      .toDF("doc_a", "doc_b")
    val six = docs.filter(col("doc_id") <= 6)
    val out = TrainingData.splitLeakage(pairs, six).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_pairs"))
      .toMap
    // naive: collect the split labels and bucket the pairs driver-side
    val lab = TrainingData.withSplit(six)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getString(1)).toMap
    val expect = Seq((1L, 2L), (2L, 3L), (4L, 5L), (1L, 6L))
      .map { case (a, b) =>
        val (x, y) = (lab(a), lab(b))
        (if (x <= y) (x, y) else (y, x))
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out == expect)
    assert(out.values.sum == 4L)
  }

  test("packing matches the naive global-window prefix sum") {
    val naive = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div ${TrainingData.CtxLen}").as("pack_first"),
        expr(s"(tok_offset + n_tokens - 1) div ${TrainingData.CtxLen}")
          .as("pack_last"))
      .withColumn("n_packs", col("pack_last") - col("pack_first") + 1)
    val packed = TrainingData.pack(docs)
    assert(packed.exceptAll(naive).isEmpty && naive.exceptAll(packed).isEmpty)
  }

  test("sampled-bucket packing equals fixed-width packing on dense ids") {
    val a = TrainingData.pack(docs)
    val b = TrainingData.packSampledBuckets(docs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("sampled-bucket packing is exact on sparse, skewed id spaces") {
    // a dense head cluster plus ids flung across 2^40 of key space — the
    // shape where fixed-width div-64 bucketing degenerates into singleton
    // buckets (the bucket-offset "tiny aggregate" becomes corpus-sized).
    // The quantile-cut variant must still match the naive global prefix
    // sum EXACTLY: cut placement affects balance only, never offsets.
    val rnd = new scala.util.Random(42)
    val ids = ((0 until 200).map(i => 10000000L + i) ++
      (0 until 200).map(_ => (rnd.nextLong() & ((1L << 40) - 1)) + (1L << 41)))
      .distinct.sorted
    val sparseDocs = ids.zipWithIndex.map { case (id, i) =>
      (id, Seq.fill(1 + i % 17)("w").mkString(" ")) }.toDF("doc_id", "text")
    val naive = sparseDocs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div ${TrainingData.CtxLen}").as("pack_first"),
        expr(s"(tok_offset + n_tokens - 1) div ${TrainingData.CtxLen}")
          .as("pack_last"))
      .withColumn("n_packs", col("pack_last") - col("pack_first") + 1)
    val packed = TrainingData.packSampledBuckets(sparseDocs, nBuckets = 16)
    assert(packed.exceptAll(naive).isEmpty && naive.exceptAll(packed).isEmpty)
  }

  test("packing offsets are contiguous: next offset = offset + n_tokens") {
    val rows = TrainingData.pack(docs)
      .select("doc_id", "n_tokens", "tok_offset").collect()
      .sortBy(_.getLong(0))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) == a.getLong(2) + a.getLong(1))
      case _ =>
    }
    assert(rows.head.getLong(2) == 0L)
  }

  test("repetition metrics on a hand-computed document") {
    val tiny = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val r = TrainingData.repetition(tiny).collect().head
    assert(r.getLong(1) == 4)                       // n_words
    assert(r.getDouble(2) == 0.5)                   // top: "a" 2/4
    assert(r.getDouble(3) == 0.5)                   // dup mass: 2/4
    assert(r.getDouble(4) == 1.0 / 3.0)             // bigrams all unique
  }

  test("mixture weights invert token shares") {
    val m = TrainingData.mixture(docs).collect()
    val shareSum = m.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    // weight * share * n_sources == 1 for every source
    m.foreach { r =>
      assert(math.abs(r.getDouble(4) * r.getDouble(3) * m.length - 1.0) < 1e-9)
    }
  }

  test("redaction masks every digit run and counts them") {
    val tiny = Seq((1L, """{"k": 69, "ids": [12, 7]}"""), (2L, "no digits"))
      .toDF("event_id", "props")
    val out = TrainingData.redact(tiny).collect()
    assert(out(0).getInt(2) == 3)
    assert(out(0).getString(3) == """{"k": #, "ids": [#, #]}""")
    assert(out(1).getInt(2) == 0)
    assert(out(1).getString(3) == "no digits")
  }

  test("admission drops contaminated candidates, keeps the rest") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val eval = Seq((100L, text)).toDF("doc_id", "text")
    val cands = Seq(
      (1L, text),                                    // full containment: drop
      (2L, "uno dos tres cuatro cinco seis siete")). // disjoint: keep
      toDF("doc_id", "text")
    val admitted = graft.operators.TrainingData
      .admit(cands, graft.operators.TrainingData.evalIndex(eval))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(2L))
  }

  test("decontamination flags a planted train/eval duplicate at containment 1") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (0 until 10).map(i =>
      (i.toLong, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
    val planted = filler.map {
      case (5L, _) => (5L, text)   // eval slice: 5 % EvalMod == 0
      case (7L, _) => (7L, text)   // train duplicate
      case other   => other
    }
    val out = TrainingData.decontaminate(planted.toDF("doc_id", "text"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 7L && r.getLong(1) == 5L)
    assert(r.getDouble(3) == 1.0)
  }

  test("padAudit: sorted batching never pads more than arrival order") {
    val out = TrainingData.padAudit(
      Tables.documents(spark, "/root/testdata/sf0.001")).collect()
    val by = out.map(r => r.getAs[String]("policy") -> r).toMap
    assert(by.keySet == Set("arrival", "sorted"))
    // same docs, same true tokens under both policies
    assert(by("arrival").getAs[Long]("n_docs") ==
      by("sorted").getAs[Long]("n_docs"))
    // sorted consecutive grouping minimizes the sum of batch maxima
    // (exchange argument), so its padded cells are a lower bound
    assert(by("sorted").getAs[Long]("padded_cells") <=
      by("arrival").getAs[Long]("padded_cells"))
    out.foreach { r =>
      assert(r.getAs[Long]("padded_cells") >= 0L)
      val ratio = r.getAs[Double]("pad_ratio")
      assert(ratio >= 0.0 && ratio < 1.0)
    }
  }
}

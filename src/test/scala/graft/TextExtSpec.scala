package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Round-3 additions, part 3: Gopher-style rule filter, Simpson token
  * diversity, and the inverted-index postings operator. Semantic properties
  * beyond the oracle hash gate.
  */
class TextExtSpec extends SparkSuite {
  import spark.implicits._

  private def docFrame(rows: Seq[(Long, String)]) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val goodText =
    ((1 to 30).map(i => s"word$i") ++ Seq("the", "a", "of")).mkString(" ")

  test("gopher: a well-formed doc passes every rule") {
    val out = TextOps.gopher(docFrame(Seq((1L, goodText)))).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Boolean]("keep"))
  }

  test("gopher: each rule fails on its targeted pathology") {
    val docs = docFrame(Seq(
      // too short (< GopherMinWords words)
      (1L, "the a of tiny doc"),
      // mean word length out of range (single-char words + stopword pad)
      (2L, (Seq.fill(30)("x") ++ Seq("the", "a")).mkString(" ")),
      // no stopwords at all
      (3L, (1 to 30).map(i => s"word$i").mkString(" ")),
      // one token repeated: distinct ratio and top-freq both collapse
      (4L, (Seq.fill(40)("spam") ++ Seq("the", "a")).mkString(" "))))
    val out = TextOps.gopher(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out(1L).getAs[Boolean]("r_word_count"))
    assert(!out(2L).getAs[Boolean]("r_mean_len"))
    assert(!out(3L).getAs[Boolean]("r_stopwords"))
    assert(out(3L).getAs[Boolean]("r_word_count")) // rules are independent
    assert(!out(4L).getAs[Boolean]("r_distinct"))
    assert(!out(4L).getAs[Boolean]("r_top_freq"))
    assert(out.values.forall(!_.getAs[Boolean]("keep")))
  }

  test("simpson: 0 for a one-token doc, 1 - 1/n for all-distinct") {
    val docs = docFrame(Seq(
      (1L, Seq.fill(8)("same").mkString(" ")),
      (2L, (1 to 10).map(i => s"tok$i").mkString(" "))))
    val out = TextOps.simpson(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("simpson")).toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 1.0 - 1.0 / 10.0)
  }

  test("postings: df/cf exact, lists sorted, hot terms keep stats only") {
    // "hot" appears in PostingsCap+1 docs -> stats kept, postings NULL
    val hotDocs = (100L to 100L + TextOps.PostingsCap)
      .map(i => (i, s"hot filler$i"))
    val docs = docFrame(hotDocs ++ Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma")))
    val out = TextOps.postings(docs).collect()
      .map(r => r.getAs[String]("term") -> r).toMap
    assert(out("alpha").getAs[Long]("df") == 1L)
    assert(out("alpha").getAs[Long]("cf") == 2L)
    assert(out("alpha").getAs[collection.Seq[Long]]("postings").toSeq == Seq(1L))
    assert(out("beta").getAs[collection.Seq[Long]]("postings").toSeq == Seq(1L, 2L))
    assert(out("hot").getAs[Long]("df") == TextOps.PostingsCap + 1L)
    assert(out("hot").getAs[Row]("postings") == null) // capped: NULL list
  }

  test("bpe encode: merged words cost fewer tokens; excluded words fall back") {
    // corpus engineered so 4 rounds stay productive: "abab" dominates, so
    // (a,b) then (ab,ab) merge early and "abab" encodes to 1 symbol
    val docs = docFrame(Seq(
      (1L, Seq.fill(20)("abab").mkString(" ")),
      (2L, "abab xyzw abab"),
      (3L, "qq rr ss tt uu vv ww")))
    val out = TextOps.bpeEncode(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ws_tokens"), r.getAs[Long]("bpe_tokens"))).toMap
    assert(out(1L)._1 == 20L)
    assert(out(1L)._2 < 20L * 4) // merges fired: cheaper than characters
    assert(out(2L)._1 == 3L)
    // every doc costs at most its character count, at least its word count
    out.values.foreach { case (ws, bpe) => assert(bpe >= ws) }
  }

  test("bpe encode: doc token cost is the sum of its words' encoded sizes") {
    val docs = docFrame(Seq(
      (1L, "aa bb"), (2L, "aa"), (3L, "bb bb aa")))
    val out = TextOps.bpeEncode(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bpe_tokens")).toMap
    // whatever the learned merges are, per-word costs must be consistent:
    // cost(1) = cost(aa) + cost(bb), cost(3) = 2*cost(bb) + cost(aa)
    val aa = out(2L)
    val bb = out(1L) - aa
    assert(out(3L) == 2 * bb + aa)
  }

  test("bpe encode: rounds past vocabulary saturation are no-ops, not wipes") {
    // merges saturate at round 2 ((a,a) then (b,b)); rounds 3 and 4 see an
    // EMPTY pair table — learned merges must survive (a cross join with the
    // empty winner frame would wipe the vocabulary and bill characters)
    val docs = docFrame(Seq((1L, "aa bb"), (2L, "aa")))
    val out = TextOps.bpeEncode(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bpe_tokens")).toMap
    assert(out(2L) == 1L, s"aa should encode to 1 merged symbol: $out")
    assert(out(1L) == 2L, s"aa bb should encode to 2 merged symbols: $out")
  }

  test("quality rank: bucketed rank equals the naive per-lang window") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = TextOps.qualityRank(docs)
      .select(col("doc_id"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = docs
      .select(col("doc_id"), col("lang"),
        TextOps.qualityScore(TextOps.words(col("text"))).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
  }

  test("quality rank: pct_rank spans [0,1] per language") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextOps.qualityRank(docs)
    val bounds = out.groupBy(col("lang"))
      .agg(min(col("pct_rank")).as("lo"), max(col("pct_rank")).as("hi"),
        count(lit(1)).as("n")).collect()
    bounds.foreach { r =>
      assert(r.getAs[Double]("lo") == 0.0)
      if (r.getAs[Long]("n") > 1) assert(r.getAs[Double]("hi") == 1.0)
    }
  }

  test("fixture: gopher keeps a strict majority but drops real documents") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val byKeep = TextOps.gopher(docs).groupBy("keep").count().collect()
      .map(r => r.getAs[Boolean]("keep") -> r.getAs[Long]("count")).toMap
    assert(byKeep.getOrElse(true, 0L) > 0L)
    assert(byKeep.getOrElse(false, 0L) > 0L)
  }

  test("classifierScore: logit is the mean milliweight of vocab hits") {
    // tiny corpus: vocabulary is every distinct word (< ClsVocab of them)
    val docs = docFrame(Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "zeta zeta zeta")))
    val out = TextOps.classifierScore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every token is in-vocabulary here
    assert(out.values.forall(r =>
      r.getAs[Long]("n_hits") == r.getAs[Long]("n_tokens")))
    // logit == logit_milli / (1000 * n_tokens), exactly
    out.values.foreach { r =>
      assert(r.getAs[Double]("logit") ==
        r.getAs[Long]("logit_milli").toDouble /
          (1000.0 * r.getAs[Long]("n_tokens")))
    }
    // same word ⇒ same weight: doc3 logit_milli is 3 × the zeta weight
    assert(out(3L).getAs[Long]("logit_milli") % 3 == 0L)
  }

  test("classifierScore: out-of-vocabulary tokens contribute zero") {
    // 300 distinct filler words occupy the vocab by frequency; the probe
    // doc's rare words fall outside the top-256 cut
    val filler = (1 to 300).flatMap(i => Seq.fill(3)(s"common$i"))
    val docs = docFrame(Seq(
      (1L, filler.mkString(" ")),
      (2L, "rareword1 rareword2")))
    val out = TextOps.classifierScore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(2L).getAs[Long]("n_hits") == 0L)
    assert(out(2L).getAs[Long]("logit_milli") == 0L)
    assert(out(2L).getAs[Double]("logit") == 0.0)
  }

  test("rarity: corpus-unique words score exactly 1, shared words 1/df") {
    val docs = docFrame(Seq(
      (1L, "only1 only2 only3"),        // every token corpus-unique
      (2L, "shared shared shared"),      // cf=4 incl. doc 3's copy
      (3L, "shared unique9")))
    val out = TextOps.rarity(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("rarity") == 1.0)
    // doc 2: three tokens of cf=4 → mean inverse frequency exactly 1/4
    assert(out(2L).getAs[Double]("rarity") == 0.25)
    // doc 3: (1/4 + 1)/2 = 0.625
    assert(out(3L).getAs[Double]("rarity") == 0.625)
    // monotone: the all-common doc scores strictly below the unique one
    assert(out(2L).getAs[Double]("rarity") < out(1L).getAs[Double]("rarity"))
  }

  test("sourceTvd: exact fraction matches the hand-computed distance") {
    // A: {a:2, b:1} N_A=3; B: {b:1, c:1} N_B=2; corpus {a:2,b:2,c:1} N=5
    // TVD(A) = ½(|2/3−2/5| + |1/3−2/5| + |0−1/5|) = 8/30
    // TVD(B) = ½(|0−2/5| + |1/2−2/5| + |1/2−1/5|) = 8/20
    val docs = Seq(
      (1L, "a a b", "en", "srcA", 5L),
      (2L, "b c", "en", "srcB", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sourceTvd(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("tvd_num"), r.getAs[Long]("tvd_den"))).toMap
    assert(out("srcA") == (8L, 30L))
    assert(out("srcB") == (8L, 20L))
  }

  test("lexicalProfile: counts are exact on a hand-built corpus") {
    val docs = Seq(
      (1L, "a a b c", "en", "s1", 7L),
      (2L, "a d", "en", "s1", 3L),
      (3L, "z", "en", "s2", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.lexicalProfile(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // s1: tokens {a:3, b:1, c:1, d:1} -> 6 tokens, 4 types, 3 hapax
    assert(out("s1").getAs[Long]("n_tokens") == 6L)
    assert(out("s1").getAs[Long]("n_types") == 4L)
    assert(out("s1").getAs[Long]("n_hapax") == 3L)
    assert(out("s1").getAs[Long]("max_freq") == 3L)
    assert(out("s2").getAs[Long]("n_tokens") == 1L)
    assert(out("s2").getAs[Long]("n_hapax") == 1L)
  }

  test("sourceJaccard: exact sets hand-checked; identical sources agree " +
    "on every signature component") {
    val docs = Seq(
      (1L, "x y", "en", "sA", 3L),
      (2L, "y x x", "en", "sB", 5L), // same word SET as sA
      (3L, "x z", "en", "sC", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Dedup.sourceJaccard(docs).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r)
      .toMap
    val ab = out(("sA", "sB"))
    assert(ab.getAs[Long]("inter_words") == 2L)
    assert(ab.getAs[Long]("union_words") == 2L)
    // identical word sets -> every MinHash component coincides
    assert(ab.getAs[Long]("mh_agree") == graft.operators.Dedup.MinhashK.toLong)
    val ac = out(("sA", "sC"))
    assert(ac.getAs[Long]("inter_words") == 1L)
    assert(ac.getAs[Long]("union_words") == 3L)
    // estimate never exceeds the signature length
    assert(out.values.forall(
      _.getAs[Long]("mh_agree") <= graft.operators.Dedup.MinhashK.toLong))
  }

  test("clusterPurity: language histogram over hand-labeled clusters") {
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L))
      .toDF("doc_id", "component")
    val docs = Seq(
      (1L, "x", "en", "s", 1L), (2L, "y", "en", "s", 1L),
      (3L, "z", "en", "s", 1L), (4L, "w", "fr", "s", 1L),
      (5L, "v", "fr", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Dedup.clusterPurity(comp, docs).collect()
      .map(r => r.getAs[Long]("n_langs") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"))).toMap
    assert(out == Map(1L -> ((1L, 2L)), 2L -> ((1L, 3L))))
  }

  test("dedupSavings: keep-longest drops the right chars per source") {
    val comp = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "component")
    val docs = Seq(
      (1L, "long", "en", "sA", 100L), (2L, "short", "en", "sA", 50L),
      (3L, "solo", "en", "sB", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Dedup.dedupSavings(docs, comp).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("sA").getAs[Long]("n_dropped") == 1L)
    assert(out("sA").getAs[Long]("chars_total") == 150L)
    assert(out("sA").getAs[Long]("chars_saved") == 50L)
    // the singleton source saves nothing
    assert(out("sB").getAs[Long]("n_dropped") == 0L)
    assert(out("sB").getAs[Long]("chars_saved") == 0L)
  }

  test("sourceTvd: a lone source coincides with the mixture -> zero") {
    val docs = Seq((1L, "x y x", "en", "solo", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sourceTvd(docs).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("tvd_num") == 0L)
  }
}

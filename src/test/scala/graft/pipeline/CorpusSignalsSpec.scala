package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Corpus-level curation signals added in round 3: cross-document
  * duplicated-n-gram fraction, PII redaction, and weighted mixture sampling.
  * Expectations are hand-computed on crafted corpora.
  */
class CorpusSignalsSpec extends AnyFunSuite {
  import TestSpark._

  private val docSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("source", StringType)

  private def docs(rows: (Long, String)*) =
    df(new StructType().add("doc_id", LongType).add("text", StringType),
      rows.map(r => Row(r._1, r._2)))

  // --- duplicatedNgramStats ---

  test("dup-ngram fraction: shared trigram counted, unique ones not") {
    // A: "a b c" "b c d"; B: "a b c" "b c x"; C: "q w e" "w e r"
    val d = docs(1L -> "a b c d", 2L -> "a b c x", 3L -> "q w e r")
    val got = Dedup.duplicatedNgramStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((2L, 0L, 0.0)))
  }

  test("dup-ngram fraction: identical docs are 100% duplicated, short docs whole-shingle") {
    val d = docs(1L -> "x y", 2L -> "x y", 3L -> "lone wolf")
    val got = Dedup.duplicatedNgramStats(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // "x y" (≤ 3 tokens) → single whole-doc shingle, shared by 1 and 2
    assert(got(1L) == 1.0 && got(2L) == 1.0)
    assert(got(3L) == 0.0)
  }

  // --- vocabulary ---

  test("removeDuplicatedSpans: cross-doc trigram coverage cut, uniques kept, fingerprints exact") {
    val d = docs(
      1L -> "a b c d e",   // trigram "a b c" shared with doc 2 → tokens 0..2 cut
      2L -> "x a b c y",   // its "a b c" sits at pos 1 → tokens 1..3 cut
      3L -> "p q r s t")   // fully unique → untouched
    val got = Dedup.removeDuplicatedSpans(d, n = 3, minDf = 2L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def fp(s: String) = graft.functions.PortableHash.local60(s)
    assert(got(1L) == ((5L, 3L, fp("d e"))))
    assert(got(2L) == ((5L, 3L, fp("x y"))))
    assert(got(3L) == ((5L, 0L, fp("p q r s t"))))
  }

  test("removeDuplicatedSpans: identical docs fully removed; huge minDf removes nothing") {
    val d = docs(1L -> "w1 w2 w3 w4", 2L -> "w1 w2 w3 w4", 3L -> "solo")
    val all = Dedup.removeDuplicatedSpans(d, n = 3, minDf = 2L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def fp(s: String) = graft.functions.PortableHash.local60(s)
    assert(all(1L) == ((4L, 4L, fp(""))) && all(2L) == ((4L, 4L, fp(""))))
    assert(all(3L)._2 == 0L) // short doc's whole-text shingle is unique
    val none = Dedup.removeDuplicatedSpans(d, n = 3, minDf = 99L).collect()
    assert(none.forall(_.getLong(2) == 0L))
  }

  test("removeDuplicatedSpans: randomized corpora match the brute-force replica") {
    val rnd = new scala.util.Random(11)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (trial <- 1 to 8) {
      val corpus = (0 until 12).map(i =>
        i.toLong -> Seq.fill(rnd.nextInt(11))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      val minDf = 2L + rnd.nextInt(3)
      // brute force: the same shingle rule as Dedup.shingles (len<=3 → one
      // whole-text shingle), df = distinct docs, coverage by position
      def shingleStrs(t: Seq[String]): Seq[String] =
        if (t.length <= 3) Seq(t.mkString(" "))
        else t.sliding(3).map(_.mkString(" ")).toSeq
      val toks = corpus.map { case (id, s) => id -> s.split("\\s+").filter(_.nonEmpty).toSeq }
      val df0 = toks.flatMap { case (id, t) => shingleStrs(t).distinct.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
      val expect = toks.map { case (id, t) =>
        val covered = shingleStrs(t).zipWithIndex.collect {
          case (s, p) if df0(s) >= minDf => (p until math.min(p + 3, t.length))
        }.flatten.toSet
        val clean = t.zipWithIndex.collect { case (tok, i) if !covered(i) => tok }
        id -> ((t.length.toLong, (t.length - clean.length).toLong,
          graft.functions.PortableHash.local60(clean.mkString(" "))))
      }.toMap
      val got = Dedup.removeDuplicatedSpans(docs(corpus: _*), n = 3, minDf = minDf)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expect, s"trial $trial minDf=$minDf")
    }
  }

  test("vocabulary: tf/df counts, minCount threshold, deterministic tie-break") {
    val d = docs(1L -> "b a b c", 2L -> "a b z", 3L -> "c a")
    // tf: a=3 b=3 c=2 z=1; df: a=3 b=2 c=2 z=1
    val got = TextAnalysis.vocabulary(d, minCount = 2L, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // ties (a,b at tf=3) break by token ascending; z cut by minCount
    assert(got.toSeq == Seq(("a", 3L, 3L), ("b", 3L, 2L), ("c", 2L, 2L)))
    // k cuts after ordering
    val top2 = TextAnalysis.vocabulary(d, minCount = 2L, k = 2).collect().map(_.getString(0))
    assert(top2.toSeq == Seq("a", "b"))
  }

  test("collocations: bound pair passes the lift inequality, independent pair fails") {
    // "x y" always adjacent (3 times); "a b" co-occurs once among many
    // independent uses of a and b
    val d = docs(
      1L -> "x y p a q b r", 2L -> "x y a p b q", 3L -> "x y b a",
      4L -> "a b c d e f")
    val got = TextAnalysis.collocations(d, minPair = 2L, liftNum = 2L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    graft.pipeline.InternalCaches.release()
    // n_tokens = 7+6+4+6 = 23; x,y appear only in "x y": n_pair=3, lift
    // test 3·23 ≥ 2·3·3 ✓. "a b" adjacent twice (doc2? no — docs 3,4):
    // a(5)·b(5)·2 = 50 > n_pair·23 — fails for any n_pair ≤ 2.
    assert(got.contains(("x", "y")), s"bound pair missing: $got")
    assert(got(("x", "y"))._1 == 3L)
    assert(!got.keySet.exists(p => p == ("a", "b") || p == ("b", "a")),
      s"independent pair passed: $got")
  }

  // --- PII redaction ---

  test("redactPii scrubs emails, IPs and phones with typed placeholders") {
    val d = docs(1L -> "mail bob.smith+x@example.co.uk or 10.1.2.3 tel 555-123-4567 end")
    val red = d.select(TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(red == "mail <EMAIL> or <IP> tel <PHONE> end")
  }

  test("piiStats counts per category and digests the redacted text") {
    val d = docs(
      1L -> "a@b.com c@d.org plain 192.168.0.1",
      2L -> "no pii here at all",
      3L -> "call 555-000-1111 or 555-222-3333 at 8.8.8.8")
    val got = TextAnalysis.piiStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 1L, 0L)))
    assert(got(2L) == ((0L, 0L, 0L)))
    assert(got(3L) == ((0L, 1L, 2L)))
    // digest of doc 2 = digest of its unchanged text
    val dig = TextAnalysis.piiStats(d).filter(col("doc_id") === 2L)
      .head().getString(4)
    val want = d.filter(col("doc_id") === 2L).select(md5(col("text"))).head().getString(0)
    assert(dig == want)
  }

  test("redaction does not fire on near-miss text") {
    // no TLD, word chars around digits, 5-digit groups: none should match
    val d = docs(1L -> "user@host v1.2.3 12345-678-90123 a-b-c 999.999")
    val got = TextAnalysis.piiStats(d).head()
    assert((got.getLong(1), got.getLong(2), got.getLong(3)) == ((0L, 0L, 0L)))
  }

  // --- mixture sampling ---

  private val srcDocs = df(docSchema,
    (0L until 400L).map(i => Row(i, s"text $i", s"src${i % 4}")))

  test("mixtureSample: rate 1.0 keeps all, 0 keeps none, schema preserved") {
    val all = TrainingData.mixtureSample(srcDocs, "source",
      Map("src0" -> 1000000L, "src1" -> 0L), defaultPpm = 0L)
    assert(all.columns.toSeq == Seq("doc_id", "text", "source"))
    val rows = all.collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getString(2) == "src0"))
  }

  test("mixtureSample: raising a rate yields a superset (stable tickets)") {
    def ids(ppm: Long) = TrainingData.mixtureSample(srcDocs, "source",
      Map("src2" -> ppm), defaultPpm = 0L).collect().map(_.getLong(0)).toSet
    val s30 = ids(300000L); val s60 = ids(600000L)
    assert(s30.subsetOf(s60))
    assert(s30.nonEmpty && s60.size > s30.size && s60.size < 100)
  }

  test("curateCorpus composes sample → scrub → boilerplate filter → split in order") {
    val d = df(docSchema, Seq(
      Row(1L, "a b c d", "keep"),   // identical to doc 3 → dup_frac 1.0 → dropped
      Row(2L, "a b c x", "keep"),   // shares "a b c" only → dup_frac 0.5 → kept
      Row(3L, "a b c d", "keep"),
      // same text as doc 2 but in a sampled-out source: if sampling did NOT
      // run before the stats, doc 2's "b c x" would look duplicated too and
      // doc 2 would be wrongly dropped
      Row(4L, "a b c x", "drop")))
    val got = TrainingData.curateCorpus(d, "source",
      Map("keep" -> 1000000L), defaultPpm = 0L).collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == 2L)
    assert(got.head.getDouble(2) == 0.5)
    assert(Set("train", "val", "test").contains(got.head.getString(1)))
  }

  test("mixtureSample rejects out-of-range rates") {
    intercept[IllegalArgumentException] {
      TrainingData.mixtureSample(srcDocs, "source", Map("src0" -> 2000000L))
    }
  }

  // --- count-min heavy hitters ---

  test("heavyHitters: collision-free width is exact; estimates never undercount") {
    // 4 docs: trigram "a b c" appears in all (tf 4), "b c d" in two (tf 2),
    // the rest once each. width 1024 » distinct trigrams → no collisions,
    // so CMS estimates equal exact counts.
    val d = docs(1L -> "a b c d", 2L -> "a b c d", 3L -> "a b c x", 4L -> "a b c")
    val got = TextAnalysis.heavyHitters(d, n = 3, depth = 4, width = 1024, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a b c") == 4L && got("b c d") == 2L && got("b c x") == 1L)

    // overestimate property on a forced-collision sketch (width 2): every
    // estimate must still be >= the exact count, and hot >= its exact 4
    val tiny = TextAnalysis.heavyHitters(d, n = 3, depth = 2, width = 2, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tiny("a b c") >= 4L)
    assert(tiny.forall(_._2 >= 1L))
    assert(tiny("b c d") >= 2L)
  }

  /** The raw CMS summary of a corpus: (row, bucket, cnt) counter cells
    * over the `heavyHitters` landing sites, ≤ depth·width rows.
    */
  private def cmsSketch(docs: org.apache.spark.sql.DataFrame, n: Int = 3, depth: Int = 4,
                        width: Int = 1024): org.apache.spark.sql.DataFrame =
    docs.select(explode(Dedup.shingles(Dedup.tokens(col("text")), n)).as("ngram"))
      .select(explode(TextAnalysis.cmsSites(col("ngram"), depth, width)).as("rb"))
      .select(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("cnt"))

  test("CMS sketches merge via Lara ⊕-union: sketch(A) ⊕ sketch(B) == sketch(A ∪ B)") {
    import graft.lara.{LaraSchema, LaraTable, PlusFn, ValSpec}
    val a = Seq(1L -> "a b c d e", 2L -> "a b c x y")
    val b = Seq(3L -> "a b c d e", 4L -> "q w e r t")
    val sch = LaraSchema(Seq("row", "bucket"), Seq(ValSpec("cnt", LongType, 0L)))
    def cells(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val merged = LaraTable(cmsSketch(docs(a: _*), width = 64), sch)
      .union(LaraTable(cmsSketch(docs(b: _*), width = 64), sch),
        Map("cnt" -> PlusFn.sumLong))
    val whole = cmsSketch(docs(a ++ b: _*), width = 64)
    assert(cells(merged.df.select(col("row"), col("bucket"), col("cnt"))) == cells(whole))
    assert(cells(whole).nonEmpty)
  }

  test("heavyHitters: deterministic across partitionings; k cuts on a total order") {
    val rows = (1L to 60L).map(i => i -> s"w${i % 7} w${i % 5} w${i % 3} w${i % 2} end${i % 11}")
    val a = TextAnalysis.heavyHitters(docs(rows: _*), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val b = TextAnalysis.heavyHitters(docs(rows: _*).repartition(7), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(a == b && a.length == 5)
    // the k-cut is (estimate desc, ngram asc): verify monotone estimates
    assert(a.map(_._2).sliding(2).forall(s => s.length < 2 || s(0) >= s(1)))
  }

  // --- bigramLmScore ---

  test("bigramLmScore: strict bigrams with multiplicity; zero-bigram docs kept") {
    val d = docs(1L -> "a b a b", 2L -> "a b c", 3L -> "x")
    val got = TextAnalysis.bigramLmScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // corpus counts: "a b"→3 (twice in doc1, once in doc2), "b a"→1, "b c"→1
    assert(got == Map(
      1L -> ((3L, 3L + 1L + 3L)), // a b, b a, a b
      2L -> ((2L, 3L + 1L)),      // a b, b c
      3L -> ((0L, 0L))), s"got $got")
    InternalCaches.release()
  }

  test("labelAgreement: chance-level rules give kappa 0, full agreement gives 1") {
    // one doc per confusion cell: a = stopword share ≥ 8%, b = contains an
    // en function-word pattern. Hand-computed 2×2: all four cells hit once,
    // symmetric marginals → κ = 0 exactly.
    val chance = docs(
      1L -> "the the the x",                                        // a=1 b=1
      2L -> "a a a a a a a a a a",                                  // a=1 b=0
      3L -> "is z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12",           // a=0 (1/13) b=1
      4L -> "xyz qqq")                                              // a=0 b=0
    val r = TextAnalysis.labelAgreement(chance).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 1L, 1L)),
      s"confusion ${r}")
    assert(r.getDouble(4) == 0.0, s"kappa ${r.getDouble(4)}")
    // both rules agree on every doc → κ = 1
    val agree = docs(
      1L -> "the the the x", 2L -> "the of and is",                 // n11 = 2
      3L -> "xyz qqq", 4L -> "w1 w2 w3")                            // n00 = 2
    val r2 = TextAnalysis.labelAgreement(agree).head()
    assert((r2.getLong(0), r2.getLong(3)) == ((2L, 2L)) && r2.getDouble(4) == 1.0,
      s"got $r2")
  }

  test("kappaFromConfusion: exact at counts where BIGINT N² would overflow") {
    // N = 8e9 (a 100 TB-corpus-scale document count): N² = 6.4e19 exceeds
    // Long.MaxValue (9.22e18), so the pre-decimal BIGINT arithmetic would
    // throw under ANSI. The decimal path must return the exact κ.
    val confSchema = new StructType()
      .add("n11", LongType).add("n10", LongType).add("n01", LongType).add("n00", LongType)
    val counts = df(confSchema,
      Seq(Row(3_000_000_000L, 1_000_000_000L, 1_000_000_000L, 3_000_000_000L)))
    val r = TextAnalysis.kappaFromConfusion(counts).head()
    // marginals all 4e9 → pe = 2·(4e9·4e9)/N² = 0.5; po = 6e9/8e9 = 0.75
    // κ = (0.75 − 0.5)/(1 − 0.5) = 0.5 exactly.
    assert(r.getDouble(4) == 0.5, s"kappa ${r.getDouble(4)}")
    // degenerate: all mass in one cell at overflow scale → guard gives 0
    val degen = df(confSchema, Seq(Row(8_000_000_000L, 0L, 0L, 0L)))
    assert(TextAnalysis.kappaFromConfusion(degen).head().getDouble(4) == 0.0)
  }

  test("bigramLmScore: common phrasing outranks gibberish on mean frequency") {
    val common = (1L to 6L).map(_ -> "the quick brown fox jumps")
    val odd = Seq(7L -> "zxqv wkjh pqrs tuvw xyzab")
    val got = TextAnalysis.bigramLmScore(docs(common ++ odd: _*)).collect()
      .map(r => r.getLong(0) -> (r.getLong(2).toDouble / r.getLong(1))).toMap
    assert(got(1L) == 6.0 && got(7L) == 1.0, s"got $got")
    InternalCaches.release()
  }
}

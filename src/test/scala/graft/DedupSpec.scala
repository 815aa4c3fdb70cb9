package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text with no overlap here"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("shingles: distinct word n-grams") {
    val out = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(col("t"), 2).as("s")).as[Seq[String]].head()
    assert(out == Seq("a b", "b c", "c d"))
  }

  test("shingle_gen kernel ≡ the split/slice/concat_ws Column form, adversarial texts") {
    // The compiled generator slices byte ranges of the original text
    // (ShingleStatics scaladoc); it must replay the Column form exactly,
    // including split(" ")'s empty-word semantics on doubled/leading/
    // trailing spaces, short texts (< n words), empty strings, and
    // multi-byte UTF-8.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a  b c", " leading", "trailing ", "  ", "", "one",
      "one two", "é ß ü words λ", "a b  c   d e",
      (1 to 50).map(i => s"tok${i % 7}").mkString(" "))
    val rnd = new scala.util.Random(97)
    val randomized = (1 to 100).map(_ =>
      (0 until rnd.nextInt(20)).map(_ =>
        if (rnd.nextInt(10) == 0) "" else s"w${rnd.nextInt(9)}").mkString(" "))
    val df = (texts ++ randomized).toDF("t")
    Seq(1, 2, 3, 6).foreach { n =>
      def old(t: org.apache.spark.sql.Column) = {
        val words = split(t, " ")
        transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
          i => concat_ws(" ", slice(words, i + 1, lit(n))))
      }
      val rows = df.select(
        call_function("shingle_gen", col("t"), lit(n)).as("got"),
        old(col("t")).as("want"), col("t")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text='${r.getString(2)}': ${r.getSeq[String](0)} != ${r.getSeq[String](1)}")
      }
    }
    // null passthrough
    val nr = Seq[Option[String]](None).toDF("t")
      .select(call_function("shingle_gen", col("t"), lit(3))).collect()
    assert(nr.head.isNullAt(0))
  }

  test("exactGroups finds the duplicate pair, keeps min id as survivor") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .filter(col("n_dups") > 1).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_dups") == 2)
    assert(g(0).getAs[Long]("survivor_id") == 1L)
  }

  test("jaccardPairs: near-dups score high, unrelated docs absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.3, maxShingleFreq = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 4L)) == 1.0) // exact dup
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("containmentPairs: wholesale quote-inclusion scores ~1 where jaccard is small; cache slot shared") {
    // doc 2 is a verbatim slice of doc 1's much longer text: containment
    // from the short side must be 1.0 while jaccard stays < 0.35
    val core = "alpha beta gamma delta epsilon zeta"
    val long1 = s"one two three four five six seven eight $core nine ten eleven twelve thirteen"
    val docs = Seq((1L, long1), (2L, core), (3L, "unrelated words only here appear"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.9, maxShingleFreq = 100).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(3) == 1.0, s"short-side containment must be exactly 1.0: $r")
    assert(r.getDouble(2) < 0.35, "long-side containment stays low")
    // the symmetric jaccard of the same pair is below any dedup threshold
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.0, maxShingleFreq = 100)
      .filter(col("id_a") === 1 && col("id_b") === 2).collect()
    assert(jac.head.getDouble(2) < 0.35)
    // the posting plan is identical, so the PlanCache slot is SHARED:
    // jaccard after containment added no second resident cache
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.size <= 1, s"one shared posting cache expected, got ${after.size}")
  }

  test("jaccardPairs prefix-filtered path (t>0) == postings path, on real documents") {
    // the t=0 postings path filtered post-hoc is the ground truth; the
    // prefix-filtered path must produce the IDENTICAL pair set — prefix
    // filtering is a candidate-pruning step, not an approximation
    val docs001 = Tables.documents(spark, sf())
    val t = 0.3
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val truth = Dedup.jaccardPairs(docs001, "doc_id", "text",
        n = 3, threshold = 0.0, maxShingleFreq = 100)
      .filter(col("jaccard") >= t).collect().map(key).toSet
    // the prefix path called directly (r16: the gate routes this
    // small-volume corpus to postings, which would make the pin vacuous)
    val (posting, dfreq) = Dedup.cappedPosting(docs001, "doc_id", "text",
      n = 3, maxShingleFreq = 100)
    val pref = Dedup.jaccardPrefix(posting, dfreq, t).collect().map(key).toSet
    assert(truth.nonEmpty, "fixture should produce at least one qualifying pair")
    assert(pref == truth,
      s"prefix path lost ${(truth -- pref).size} / invented ${(pref -- truth).size} pairs")
    // and the gate reproduces the same set through whichever path
    val auto = Dedup.jaccardPairs(docs001, "doc_id", "text",
        n = 3, threshold = t, maxShingleFreq = 100)
      .collect().map(key).toSet
    assert(auto == truth, "the gate changed the pair set")
  }

  test("containmentPairs prefix-filtered path (t>0) == postings path, on real documents") {
    // same discipline for the containment form: a qualifying pair needs
    // inter >= t·min(na, nb), so it must collide in its SHORT side's
    // prefix — the t=0 postings path filtered post-hoc is ground truth
    // and the prefix path must reproduce it exactly, both directions
    val docs001 = Tables.documents(spark, sf())
    val t = 0.4
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9), math.round(r.getDouble(3) * 1e9))
    val truth = Dedup.containmentPairs(docs001, "doc_id", "text",
        n = 3, threshold = 0.0, maxShingleFreq = 100)
      .filter(greatest(col("cont_a"), col("cont_b")) >= t)
      .collect().map(key).toSet
    // the prefix path called directly: 500 docs is below the gate's
    // cutover, so through the gate this pin would compare the postings
    // path against itself (vacuous)
    val (posting, dfreq) = Dedup.cappedPosting(docs001, "doc_id", "text",
      n = 3, maxShingleFreq = 100)
    val pref = Dedup.containmentPrefix(posting, dfreq, t).collect().map(key).toSet
    assert(truth.nonEmpty, "fixture should produce at least one qualifying pair")
    assert(pref == truth,
      s"prefix path lost ${(truth -- pref).size} / invented ${(pref -- truth).size} pairs")
    // the gate routes this sub-cutover corpus to the postings path
    // and must produce the identical pair set through the gate
    val auto = Dedup.containmentPairs(docs001, "doc_id", "text",
        n = 3, threshold = t, maxShingleFreq = 100)
      .collect().map(key).toSet
    assert(Dedup.containmentBlockedVolume(docs001, "doc_id", "text",
      n = 3, maxShingleFreq = 100) <= Dedup.PostingsVolumeBudget)
    assert(auto == truth, "the gate changed the pair set")
  }

  test("minhash_sig codegen expression is bit-identical to the aggregate and lambda shapes") {
    // three independent derivations of the same signature: the codegen'd
    // native expression (minhashSignature — q73's hot path), the
    // aggregate shape (withMinhashSignature — the batch hot path), and
    // the interpreted lambda pipeline (minhashFromHashes ∘ hashedShingles
    // — the original reference form). Edge cases: empty text, repeated
    // spaces (empty split words), text shorter than the shingle, unicode
    // multi-byte, and an exact duplicate pair.
    val edge = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "one"), (4L, "two  spaced   words"),
      (5L, "héllo wörld ünicode ☃ text"), (6L, "one"),
      (7L, " leading and trailing "))
      .toDF("doc_id", "text")
    for ((n, numPerm) <- Seq((3, 16), (2, 8), (5, 4))) {
      val codegen = edge.select(col("doc_id"),
        Dedup.minhashSignature(col("text"), n, numPerm).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      val lambda = edge.select(col("doc_id"),
        Dedup.minhashFromHashes(Dedup.hashedShingles(col("text"), n), numPerm).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      val agg = Dedup.withMinhashSignature(edge, "doc_id", "text", n, numPerm)
        .as[(Long, Seq[Long])].collect().toMap
      assert(codegen == lambda, s"codegen != lambda at n=$n perms=$numPerm")
      assert(codegen == agg, s"codegen != aggregate at n=$n perms=$numPerm")
      assert(codegen(1L) != codegen(3L))
      assert(codegen(3L) == codegen(6L), "identical text must sign identically")
    }
    // null in -> null out
    val nullRow = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(Dedup.minhashSignature(col("text"), 3, 16).as("sig")).head()
    assert(nullRow.isNullAt(0))
  }

  test("minhash est_jaccard approximates true jaccard; LSH finds exact dups") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numPerm = 32, bands = 8, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 4L)) == 1.0) // identical signatures
    pairs.get((1L, 2L)).foreach(est => assert(est > 0.3))
  }

  test("minhashLshPairs: bands=0 sentinel resolves at the OFF-mode thresholds 0.0 and 1.0") {
    // ADVICE r16 #3: the planner-default sentinel used to trip
    // lshPlanChoose's (0,1) require for the documented estimate-filter-
    // OFF mode (threshold 0.0) and for 1.0; the planning threshold is
    // now clamped into the open interval, so both resolve. Threshold
    // semantics are unchanged: 0.0 keeps every banded collision.
    val all = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numPerm = 32, bands = 0, threshold = 0.0).collect()
    assert(all.nonEmpty)
    val exactOnly = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numPerm = 32, bands = 0, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exactOnly.contains((1L, 4L)), "identical docs must survive t=1.0")
  }

  test("simhash: identical texts share fingerprint; hamming grows with difference") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("incrementalDedup: exact and near batch dupes of the corpus drop; corpus never shuffles wide") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different corpus content about spark physical planning rules"),
      (3L, "yet another unrelated document talking about shuffle partitions")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup of 1
      (12L, "entirely novel text with no counterpart in the existing corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
      n = 3, numPerm = 16, bands = 4, threshold = 0.5)
    assert(out.as[Long].collect().toSet == Set(12L))
    // both anti-joins and both hit joins must broadcast — the corpus
    // side may aggregate (signatures) but never sort-merge-join
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$plan")
  }

  test("withSimhashWide word 0 is bit-identical to withSimhash at 60 bits, on real documents") {
    // the 60-bit family is load-bearing for the q28/q32 oracles — the
    // wide variant must be a strict extension, not a parallel hash
    val d = Tables.documents(spark, sf())
    val narrow = Dedup.withSimhash(d, "doc_id", "text", 60)
      .as[(Long, Long)].collect().toMap
    val wide = Dedup.withSimhashWide(d, "doc_id", "text", 96)
      .as[(Long, Seq[Long])].collect().toMap
    assert(wide.keySet == narrow.keySet)
    assert(wide.forall { case (id, sh) => sh.length == 2 && sh.head == narrow(id) },
      "word 0 of the 96-bit fingerprint must equal the 60-bit fingerprint")
    // word 1 carries 36 live bits (96 - 60) and nothing above them
    assert(wide.values.forall(sh => (sh(1) >> 36) == 0L))
    // words must be genuinely independent hashes, not copies
    assert(wide.values.count(sh => (sh.head & 0xFFFFFFFFFL) == sh(1)) < wide.size / 2)
  }

  test("simhashPairsWide at 96 bits: perfect recall vs brute-force hamming, straddling blocks included") {
    // 96 bits / maxHamming 3 => four 24-bit blocks; block 2 spans bits
    // 48..71 and STRADDLES the 60-bit word boundary — brute-force parity
    // proves extractBits' shift-or across words. Real documents give
    // planted pairs (the fixture has exact and near duplicates).
    val d = Tables.documents(spark, sf())
    val got = Dedup.simhashPairs(d, "doc_id", "text", bits = 96, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val sh = Dedup.withSimhashWide(d, "doc_id", "text", 96)
      .as[(Long, Seq[Long])].collect()
    val truth = (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
      h = sa.zip(sb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (ia, ib, h)).toSet
    assert(truth.nonEmpty, "fixture should contain at least one near-dup pair")
    assert(got == truth,
      s"wide blocking lost ${(truth -- got).size} / invented ${(got -- truth).size} pairs")
  }

  test("simhashPairs blocking finds all pairs within maxHamming") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", bits = 16, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 4L)))
    // brute-force ground truth for hamming <= 3
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh"))
      .as[(Long, Long)].collect()
    val truth = (for {
      (ia, sa) <- sh; (ib, sb) <- sh if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(got == truth)
  }

  // Pins the adaptive-width law (VERDICT r12 #4): the no-knobs default
  // stays bit-identical to the 60-bit oracle family on small corpora
  // and widens one block-bit per corpus doubling once nBlocks·log2(N)
  // clears the base — so the 100 TB default call is the scale-safe one.
  test("adaptiveFingerprintBits: 60-bit floor, log2-tracking growth, 120-bit cap") {
    // oracle corpora (<= ~2^15 docs at maxHamming 3) stay exactly 60
    assert(Dedup.adaptiveFingerprintBits(0, 3) === 60)
    assert(Dedup.adaptiveFingerprintBits(2000, 3) === 60)
    assert(Dedup.adaptiveFingerprintBits(32768, 3) === 60)
    // past the floor: blocks track ceil(log2 N) — 320 k docs = the
    // measured 64x probe point, where 60-bit grew 13.8x and wide held
    assert(Dedup.adaptiveFingerprintBits(320000, 3) === 4 * 19) // 76
    assert(Dedup.adaptiveFingerprintBits(1280000, 3) === 4 * 21) // 84
    // the two-word ceiling
    assert(Dedup.adaptiveFingerprintBits(Long.MaxValue / 2, 3) === 120)
    // adaptive default routes wide past the floor and matches the
    // explicitly-pinned wide call bit-for-bit
    val wideDefault = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val pinned60 = Dedup.simhashPairs(docs, "doc_id", "text", bits = 60, maxHamming = 3)
    assert(wideDefault.collect().toSet === pinned60.collect().toSet,
      "tiny corpus: adaptive default must equal the 60-bit oracle family")
  }
}

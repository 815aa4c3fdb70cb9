package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.{Bpe, TextStats}

/** Round-14 corpus-pipeline additions: edit-distance-verified near-dup
  * pairs, Heaps'-law vocabulary growth, the BPE trainer loop, and
  * source-level MinHash corpus similarity.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------------------------- BPE

  test("Bpe: greedy fold merges scan-after-merge (aaaaaa under (a,a) -> aa aa aa)") {
    // one word "aaaaaa" — pair counts (a,a)=5, merge round 1 must fold
    // into THREE "aa" symbols (never "aa a aa a"), then (aa,aa)=2, etc.
    val docs = Seq("aaaaaa").toDF("text")
    val m = Bpe.merges(docs, "text", rounds = 3).orderBy("round").collect()
    assert(m.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq ==
      Seq((1, "a", "a", 5L), (2, "aa", "aa", 2L), (3, "aaaa", "aa", 1L)))
  }

  test("Bpe: merge order on the Sennrich corpus, lexicographic tie-break, early stop") {
    // low x3, lower x1, lowest x1 — hand-computed merge table:
    // r1 (l,o)=5 ties (o,w)=5, lex wins; r2 (lo,w)=5; r3 (low,e)=2;
    // r4 three pairs tie at 1, (lowe,r) lex-min; r5 (lowe,s); r6
    // (lowes,t); r7 nothing left -> early stop at 6 rows.
    val docs = Seq("low low low lower lowest").toDF("text")
    val m = Bpe.merges(docs, "text", rounds = 10).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(m == Seq(
      (1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "low", "e", 2L),
      (4, "lowe", "r", 1L), (5, "lowe", "s", 1L), (6, "lowes", "t", 1L)))
  }

  test("Bpe: word counts weight pairs; single-char words contribute nothing") {
    // "ab" x3 outweighs "cd" x2; "x" alone can never pair
    val docs = Seq("ab ab x cd", "ab cd x x").toDF("text")
    val m = Bpe.merges(docs, "text", rounds = 1).collect()
    assert(m.length == 1)
    val r = m.head
    assert((r.getString(1), r.getString(2), r.getLong(3)) == ("a", "b", 3L))
  }

  /** The interpreted `aggregate` HOF fold that `bpe_merge` replaced —
    * the independent semantic reference the kernel is pinned against. */
  private def applyMergeHof(s: org.apache.spark.sql.Column, left: String,
      right: String): org.apache.spark.sql.Column =
    aggregate(split(s, Bpe.Sep), lit(""),
      (acc, x) => when(acc === "", x)
        .when((acc === left || acc.endsWith(Bpe.Sep + left)) && x === right,
          concat(acc, x))
        .otherwise(concat(acc, lit(Bpe.Sep), x)))

  test("bpe_merge kernel ≡ the interpreted aggregate fold, randomized words + adversarial runs") {
    // The compiled kernel (BpeStatics.merge) must replay the original
    // HOF fold byte-for-byte, including its degenerate branches: run
    // fusion ("aaaa" under (a,a)), fused-symbol non-cascade, boundary
    // non-matches ("xa|ba" under (a,b) must NOT merge), leading/trailing
    // empty symbols (the fold's `acc === ""` quirk swallows a LEADING
    // empty symbol), multi-byte UTF-8 symbols.
    val S = Bpe.Sep
    def w(syms: String*): String = syms.mkString(S)
    val adversarial = Seq(
      "", "a", w("a", "a"), w("a", "a", "a", "a"),
      w("a", "b", "a", "b"), w("xa", "ba"), w("ab", "a", "b"),
      w("", "a", "b"), w("a", "b", ""), w("", ""),
      w("aa", "aa", "aa"), w("é", "ß", "é"), w("a", "é", "a"),
      w("ba", "a", "b", "a"))
    val rnd = new scala.util.Random(4242)
    val alpha = Vector("a", "b", "ab", "ba", "aa", "é")
    val randomized = (1 to 200).map { _ =>
      (1 to (1 + rnd.nextInt(12))).map(_ => alpha(rnd.nextInt(alpha.size))).mkString(S)
    }
    val df = (adversarial ++ randomized).toDF("s")
    val merges = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("ab", "a"),
      ("aa", "aa"), ("é", "ß"), ("a", "é"))
    merges.foreach { case (l, r) =>
      val rows = df.select(
          call_function("bpe_merge", col("s"), lit(l), lit(r)).as("got"),
          applyMergeHof(col("s"), l, r).as("want"),
          col("s")).collect()
      rows.foreach { row =>
        assert(row.getString(0) == row.getString(1),
          s"merge ($l,$r) on '${row.getString(2).replace(S, "|")}': " +
            s"kernel '${row.getString(0).replace(S, "|")}' != fold '${row.getString(1).replace(S, "|")}'")
      }
    }
    // null passthrough
    val nr = Seq[Option[String]](None).toDF("s")
      .select(call_function("bpe_merge", col("s"), lit("a"), lit("b"))).collect()
    assert(nr.head.isNullAt(0))
  }

  test("bpe_pairs kernel ≡ the arrays_zip/slice Column form") {
    val S = Bpe.Sep
    val rnd = new scala.util.Random(1331)
    val alpha = Vector("a", "b", "ab", "é", "xyz")
    val words = Seq("", "a", s"a${S}b", s"a${S}b${S}c", s"${S}a", s"a$S") ++
      (1 to 150).map(_ =>
        (1 to (1 + rnd.nextInt(10))).map(_ => alpha(rnd.nextInt(alpha.size))).mkString(S))
    def old(s: org.apache.spark.sql.Column) = {
      val y = split(s, S)
      arrays_zip(slice(y, lit(1), size(y) - 1), slice(y, lit(2), size(y) - 1))
    }
    val rows = words.toDF("s").select(
      call_function("bpe_pairs", col("s")).as("got"), old(col("s")).as("want"),
      col("s")).collect()
    rows.foreach { r =>
      val got = r.getSeq[org.apache.spark.sql.Row](0).map(p => (p.getString(0), p.getString(1)))
      val want = r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getString(0), p.getString(1)))
      assert(got == want, s"'${r.getString(2).replace(S, "|")}': $got != $want")
    }
  }

  test("Bpe: oracleSql round count drives the generated CTE chain") {
    val sql = Bpe.oracleSql(3)
    assert(sql.contains("m3 AS") && !sql.contains("m4 AS"))
    assert(sql.contains("w2 AS") && !sql.contains("w3 AS"),
      "the last round needs no merge application")
  }

  // ------------------------------------------------------ vocabGrowth

  test("vocabGrowth: first-seen buckets, cumulative vocabulary, empty-bucket-safe") {
    val docs = Seq(
      (0L, "a b"), (1L, "b c"),   // bucket 0: types a b c
      (60L, "c d"),               // bucket 1: new d
      (110L, "a e")               // bucket 2: new e
    ).toDF("doc_id", "text")
    val g = TextStats.vocabGrowth(docs, "doc_id", "text", bucketDocs = 50)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(g.toSeq == Seq(
      (0L, 2L, 4L, 3L, 3L),
      (1L, 1L, 2L, 1L, 4L),
      (2L, 1L, 2L, 1L, 5L)))
  }

  test("vocabGrowth: a bucket of pure re-treads adds zero new types") {
    val docs = Seq((0L, "a b c"), (50L, "c b a")).toDF("doc_id", "text")
    val g = TextStats.vocabGrowth(docs, "doc_id", "text", bucketDocs = 50)
      .orderBy("bucket").collect()
    assert(g(1).getLong(3) == 0L && g(1).getLong(4) == 3L)
  }

  // ------------------------------------------------ editVerifiedPairs

  private val nearDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and keeps running far"),
    (2L, "the quick brown fox jumps over the lazy cat and keeps running far"),
    (3L, "completely unrelated content about databases and query planners"),
    (4L, "the quick brown fox jumps over the lazy dog and keeps running far")
  ).toDF("doc_id", "text")

  test("editVerifiedPairs: exact dup scores 1.0/lev 0, near-dup exact lev, unrelated absent") {
    // bands = numPerm -> single-row bands: one shared minhash coordinate
    // suffices for candidacy, so recall is not the variable under test
    val pairs = Dedup.editVerifiedPairs(nearDocs, "doc_id", "text",
        numPerm = 16, bands = 16, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(pairs((1L, 4L)) == (0L, 1.0))
    val (lev12, sim12) = pairs((1L, 2L))
    assert(lev12 == 3L, s"dog->cat is 3 substitutions, got $lev12") // d->c, g->t, o==o? no: d/c, o/a, g/t
    assert(sim12 > 0.9 && sim12 < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  // VERDICT r15 #6: the driver-side resolver the banded operators call
  // at plan-build time must agree EXACTLY with the Spark planner's
  // chosen row — same DECIMAL recurrence, same tie-break — including on
  // a grid whose reciprocal is non-terminating (ADVICE r15 #3's class).
  test("lshPlanChoose: matches lshPlan's chosen row across configs and grids") {
    for ((np, t, g) <- Seq((16, 0.8, 1000), (32, 0.5, 1000), (16, 0.25, 1000),
                           (64, 0.7, 300))) {
      val chosen = Dedup.lshPlan(np, t, g).filter("chosen = 1")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(chosen.size == 1)
      assert(Dedup.lshPlanChoose(np, t, g) == chosen.head,
        s"($np, $t, $g): scala ${Dedup.lshPlanChoose(np, t, g)} vs spark ${chosen.head}")
    }
    // the documented geometry the editband probe measured (SCALE.md)
    assert(Dedup.lshPlanChoose(16, 0.8) == (2, 8))
    // historical minhashLshPairs default is the planner choice at its
    // own defaults — the bands=0 sentinel is behavior-preserving
    assert(Dedup.lshPlanChoose(32, 0.5) == (8, 4))
  }

  test("lshPlan: S-curve areas track an independent double computation; chosen = argmin") {
    val grid = 1000
    val t = 0.8
    val out = Dedup.lshPlan(numPerm = 16, threshold = t, grid = grid)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(out.keySet == Set((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)))
    // independent float reference: the DECIMAL per-step rounding drifts
    // at most ~1e-12 per multiply, invisible at 1e-4 relative tolerance
    def ref(b: Int, r: Int): (Double, Double) = {
      var fp = 0.0; var fn = 0.0
      for (i <- 0 until grid) {
        val s = i.toDouble / grid
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (i < (t * grid).round) fp += p else fn += 1.0 - p
      }
      (fp, fn)
    }
    out.foreach { case ((b, r), (fpE12, fnE12, _)) =>
      val (fp, fn) = ref(b, r)
      assert(math.abs(fpE12 / 1e12 - fp) < 1e-4, s"fp($b,$r): ${fpE12 / 1e12} vs $fp")
      assert(math.abs(fnE12 / 1e12 - fn) < 1e-4, s"fn($b,$r): ${fnE12 / 1e12} vs $fn")
    }
    val chosen = out.toSeq.collect { case (k, (_, _, 1)) => k }.toSet
    val best = out.minBy { case ((b, _), (fp, fn, _)) => (fp + fn, b) }._1
    assert(chosen == Set(best), s"chosen $chosen != argmin $best")
    assert(out.values.count(_._3 == 1) == 1, "exactly one chosen config")
  }

  test("bandCandidateVolume: exact C(n,2) per band; sum over bands bounds the candidate set") {
    // 3 exact copies + 1 unrelated: every band's copy-bucket holds the 3
    // copies (identical signatures), so each band contributes >= C(3,2)=3
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally different words having nothing shared here")
    ).toDF("doc_id", "text")
    val vol = Dedup.bandCandidateVolume(docs, "doc_id", "text",
        n = 3, numPerm = 16, bands = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(vol.keySet == Set(0, 1, 2, 3))
    vol.values.foreach { case (nBuckets, maxBucket, candPairs) =>
      assert(maxBucket == 3L, s"copy bucket must hold the 3 copies, got $maxBucket")
      assert(candPairs == 3L, s"each band contributes C(3,2)=3, got $candPairs")
      assert(nBuckets == 2L) // the copy bucket + the unrelated doc's
    }
    // the union-bounded distinct candidate set: 3 pairs, <= sum over bands
    val cands = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numPerm = 16, bands = 4, threshold = 0.0).count()
    assert(cands == 3L)
    assert(cands <= vol.values.map(_._3).sum)
  }

  test("editVerifiedPairs: empty corpus returns empty, no NPE on the max-len probe") {
    val empty = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.editVerifiedPairs(empty, "doc_id", "text").count() == 0L)
  }

  test("editVerifiedPairs: length prefilter keeps near-boundary pairs, drops by sim") {
    // id 2 = id 1 + " fff": pure insertion, lev = 4, max len 19,
    // sim = 1 - 4/19 ≈ 0.789 — above a 0.75 threshold and the length
    // diff (4) sits close under the prefilter bound (0.25·19 = 4.75),
    // so a too-tight prefilter would lose it. id 3 adds 8 chars:
    // sim = 1 - 8/23 ≈ 0.652 — must drop on SIM, with lev exact.
    val base = "aaa bbb ccc ddd" // 15 chars
    val docs = Seq((1L, base), (2L, base + " fff"), (3L, base + " ggg hhh"))
      .toDF("doc_id", "text")
    // bands = numPerm -> single-row bands: any shared minhash coordinate
    // makes a candidate, so all three pairs reach the verify stage
    val out = Dedup.editVerifiedPairs(docs, "doc_id", "text",
      n = 1, numPerm = 16, bands = 16, threshold = 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.contains((1L, 2L)), "near-boundary pair must survive the prefilter")
    assert(out((1L, 2L))._1 == 4L)
    assert(math.abs(out((1L, 2L))._2 - (1.0 - 4.0 / 19.0)) < 1e-12)
    assert(!out.contains((1L, 3L)), "below-threshold pair drops")
  }

  // --------------------------------------------------------- winnowing

  private def jvmH60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Independent JVM replay of the winnowing selection rule. */
  private def jvmWinnow(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val ws = text.split(" ", -1)
    val hs = (0 to math.max(ws.length - k, 0))
      .map(i => jvmH60(ws.slice(i, i + k).mkString(" ")))
    (0 to math.max(hs.length - w, 0)).flatMap { j =>
      val win = hs.slice(j, j + w)
      val m = win.min
      val pos = j + win.lastIndexOf(m)
      Some((pos.toLong, m))
    }.toSet
  }

  test("Winnowing: matches an independent JVM replay of the rightmost-min rule") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and then the quick brown fox returns home",
      "a b c a b c a b c a b c a b c",
      "short one")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.text.Winnowing.fingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == jvmWinnow(t, 3, 4), s"doc $i")
    }
  }

  test("Winnowing: shared runs >= w+k-1 tokens always share a selected fingerprint") {
    val core = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens >= w+k-1 = 6
    val docs = Seq(
      (1L, s"one two three $core four five six"),
      (2L, s"$core completely different tail words here")).toDF("doc_id", "text")
    val fp = graft.text.Winnowing.fingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty, "detection guarantee violated")
  }

  test("Winnowing: density stays near 2/(w+1), never above the k-gram count") {
    val text = (1 to 400).map(i => s"tok${(i * 7919) % 211}").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val n = graft.text.Winnowing.fingerprints(docs, "doc_id", "text", k = 4, w = 8).count()
    val grams = 400 - 4 + 1
    assert(n < grams / 2, s"selected $n of $grams k-grams — not density-bounded")
    assert(n > grams / 12, s"selected $n of $grams k-grams — implausibly sparse")
  }

  // --------------------------------------------------- zipfSlope / KL

  /** Spark's double->DECIMAL(27,12) cast semantics (shortest-string,
    * HALF_UP), as used by the lnDec discipline. */
  private def dec12(v: Double): BigDecimal =
    BigDecimal(java.lang.Double.toString(v))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)

  test("zipfSlope: exact-Zipf frequencies regress to ~ -1; JVM replay agrees") {
    // counts 12/rank: ln c = ln 12 - ln rank, slope -1 in the reals
    val text = List.fill(12)("a") ++ List.fill(6)("b") ++ List.fill(4)("c") ++ List.fill(3)("d")
    val docs = Seq(("s1", text.mkString(" "))).toDF("source", "text")
    val row = graft.text.CorpusStats.zipfSlope(docs, "source", "text").collect().head
    val slope = row.getAs[Double]("zipf_slope")
    assert(math.abs(slope - (-1.0)) < 1e-3, s"slope $slope")
    // independent integer-quantized replay
    val counts = Seq(12L, 6L, 4L, 3L)
    val xy = counts.zipWithIndex.map { case (c, i) =>
      val x = (dec12(math.log(i + 1.0)) * 100000).setScale(0, BigDecimal.RoundingMode.FLOOR).toBigInt
      val y = (dec12(math.log(c.toDouble)) * 100000).setScale(0, BigDecimal.RoundingMode.FLOOR).toBigInt
      (x, y)
    }
    val n = BigInt(xy.size)
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val expect = BigDecimal((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(slope == expect, s"spark $slope vs replay $expect")
  }

  test("klDrift: non-negative, zero-drift sources tie, disjoint vocab drifts hardest") {
    val docs = Seq(
      ("A", "a b c a b a"), ("B", "a b c a b a"), ("C", "x y z x y x"))
      .toDF("source", "text")
    val kl = graft.text.CorpusStats.klDrift(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("kl_nats")).toMap
    assert(kl.values.forall(_ >= 0.0), s"KL must be non-negative: $kl")
    assert(kl("A") == kl("B"))
    assert(kl("C") > kl("A"))
  }

  test("klDrift: decomposed form equals the naive full-vocab smoothed sum") {
    val corpus = Seq(
      ("A", "a b c a b a z"), ("B", "b c d d e b"), ("C", "x y z x y x a"))
    val docs = corpus.toDF("source", "text")
    val got = graft.text.CorpusStats.klDrift(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("kl_nats")).toMap
    // naive replay in plain doubles over the FULL vocab (absent included)
    val toks = corpus.map { case (g, t) => g -> t.split(" ").toSeq }
    val vocab = toks.flatMap(_._2).distinct
    val cw = vocab.map(w => w -> toks.flatMap(_._2).count(_ == w).toLong).toMap
    val bigN = cw.values.sum
    toks.foreach { case (g, ts) =>
      val ns = ts.size.toLong
      val kl = vocab.map { w =>
        val p = (ts.count(_ == w) + 1.0) / (ns + vocab.size)
        val q = (cw(w) + 1.0) / (bigN + vocab.size)
        p * math.log(p / q)
      }.sum
      assert(math.abs(got(g) - kl) < 2e-6, s"$g: got ${got(g)} naive $kl")
    }
  }

  // -------------------------------------------------------- gopherRules

  test("gopherRules: each rule gates its planted violator; clean doc keeps") {
    val good = (1 to 60).map(i => if (i % 7 == 0) "the" else if (i % 5 == 0) "and" else s"word$i")
      .mkString(" ") // 60 words, stopwords present, diverse, alpha
    val docs = Seq(
      (1L, good),
      (2L, "too short the and"), // fails word count only
      (3L, (1 to 60).map(i => if (i % 7 == 0) "the" else if (i % 5 == 0) "and"
        else (i * 997).toString).mkString(" ")), // numbers: fails alpha
      (4L, (("the and " * 5) + ("x " * 50)).trim) // 60 words, 3 distinct: fails diversity
    ).toDF("doc_id", "text")
    val r = graft.text.Quality.gopherRules(docs, "doc_id", "text", minWords = 50)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Boolean]("keep"))
    assert(!r(2L).getAs[Boolean]("rule_word_count") && r(2L).getAs[Boolean]("rule_stopwords"))
    assert(!r(3L).getAs[Boolean]("rule_alpha_words") && r(3L).getAs[Boolean]("rule_word_count"))
    assert(!r(4L).getAs[Boolean]("rule_diversity") && !r(4L).getAs[Boolean]("keep"))
  }

  // ------------------------------------------------ matryoshkaFidelity

  test("matryoshkaFidelity: truncation flips top-1 where the tail decides; energy exact") {
    val qs = Seq((1L, Seq(0.6, 0.8, 0.0, 0.2))).toDF("query_id", "query_vec")
    val cs = Seq(
      (2L, Seq(0.8, 0.6, 0.0, 0.0)), // full-width winner
      (3L, Seq(0.6, 0.8, -1.0, 0.0)) // prefix-aligned, tail-penalized
    ).toDF("cand_id", "cand_vec")
    val r = graft.similarity.Similarity.matryoshkaFidelity(qs, cs, Seq(2, 4))
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(r(2).getLong(2) == 3L && r(2).getAs[Int]("agree") == 0)
    assert(r(4).getLong(2) == 2L && r(4).getAs[Int]("agree") == 1)
    assert(r(2).getLong(3) == 2L, "top1_full is the max-width winner")
    assert(r(2).getAs[Double]("energy") == 0.961538) // (0.36+0.64)/1.04
    assert(r(4).getAs[Double]("energy") == 1.0)
  }

  // ------------------------------------------------------- cusumDrift

  test("cusumDrift: sustained excursion accumulates to alarm; steady series stays zero") {
    val origin = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(day: Int, i: Int) =
      new java.sql.Timestamp(origin.getTime + day * 86400000L + i * 1000L)
    val rows =
      (for (d <- 0 until 13; i <- 0 until 5) yield ("steady", at(d, i))) ++
      (for (d <- 0 until 10; i <- 0 until 5) yield ("drifty", at(d, i))) ++
      (for (d <- 10 until 13; i <- 0 until 100) yield ("drifty", at(d, i)))
    val events = rows.toDF("event_type", "ts")
    val out = graft.events.Funnels.cusumDrift(events, "event_type", "ts",
        "2024-01-01 00:00:00", allowancePermille = 100, hMult = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    // steady: ceil_mean 5, k_ref 5, y=0 everywhere -> S=0, never drifts
    (0 until 13).foreach { d =>
      assert(out(("steady", d.toLong)).getLong(4) == 0L)
      assert(!out(("steady", d.toLong)).getAs[Boolean]("is_drift"))
    }
    // drifty: ceil_mean 27, k_ref 29, h = 87; hand-computed S via the
    // prefix-sum identity: 0 through day 9, then 71, 142, 213 — the
    // first spike day does NOT alarm (71 < 87), the accumulation does
    val dr = (0 until 13).map(d => out(("drifty", d.toLong)))
    assert(dr.forall(_.getLong(3) == 29L), "k_ref")
    assert((0 until 10).forall(d => dr(d).getLong(4) == 0L))
    assert(dr(10).getLong(4) == 71L && !dr(10).getAs[Boolean]("is_drift"))
    assert(dr(11).getLong(4) == 142L && dr(11).getAs[Boolean]("is_drift"))
    assert(dr(12).getLong(4) == 213L && dr(12).getAs[Boolean]("is_drift"))
  }

  // -------------------------------------------- robustOutliers / entropy

  test("robustOutliers: rank-exact median/MAD in cents, 3-MAD flags, tail-immune") {
    // group A dollars [1,2,3,4,100]: cents median = 300 (rank 3 of 5),
    // |dev| sorted [0,100,100,200,9700] -> MAD 100; only the 100$ row
    // sits beyond 3*MAD. A mean/stddev z-test would have the tail drag
    // the mean to ~2200 cents; the median does not move.
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0), ("A", 100.0),
      ("B", 5.0), ("B", 5.0))
      .toDF("g", "price")
    val out = graft.sketch.Sketches.robustOutliers(df, Seq("g"), col("price"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("A") == (5L, 300L, 100L, 1L))
    assert(out("B") == (2L, 500L, 0L, 0L), "identical values: MAD 0, no outliers")
  }

  test("robustOutliers: bucketed rank-find path is row-identical to the direct path") {
    // values straddle bucket boundaries (width 65536 cents) and include
    // duplicates + a heavy tail; forcing directBytes=0 routes to the
    // bucketed two-phase shape, which must reproduce the direct CDF
    // exactly (median, MAD and flag counts are all rank statistics)
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map { i =>
      (if (i % 3 == 0) "A" else "B",
        math.abs(rnd.nextGaussian() * 900) + (if (i % 97 == 0) 50000.0 else 0.0))
    }.toDF("g", "price")
    def run(): Map[String, (Long, Long, Long, Long)] =
      graft.sketch.Sketches.robustOutliers(df, Seq("g"), col("price"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val direct = run()
    spark.conf.set("spark.graft.median.directBytes", "0")
    try {
      val bucketed = run()
      assert(bucketed == direct)
    } finally spark.conf.unset("spark.graft.median.directBytes")
  }

  test("behavioralEntropy: uniform two-type user ln2, single-type user 0") {
    val origin = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "b"),
      (2L, "a"), (2L, "a"), (2L, "a"))
      .map { case (u, t) => (u, t, origin) }.toDF("user_id", "event_type", "ts")
    val out = graft.events.Funnels.behavioralEntropy(df, "user_id", "event_type")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("entropy_nats"))).toMap
    assert(out(1L)._1 == 4L && out(1L)._2 == 2L)
    assert(math.abs(out(1L)._3 - math.log(2)) < 1e-6)
    assert(out(2L) == (3L, 1L, 0.0))
  }

  // ------------------------------------------------------ ivfMaintain

  test("ivfMaintain: incremental == rebuild; untouched partitions not rewritten") {
    import graft.similarity.Similarity
    val centroids = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))
    ).toDF("centroid_id", "centroid_vec")
    val oldC = Seq(
      (10L, Seq(0.9, 0.1)), (11L, Seq(0.8, 0.2)), // list 1
      (20L, Seq(0.1, 0.9)), (21L, Seq(0.2, 0.8))  // list 2
    ).toDF("cand_id", "cand_vec")
    val layout = java.nio.file.Files.createTempDirectory("ivf-maintain").toString
    Similarity.writeIvfLayout(Similarity.assignToCentroids(oldC, centroids), layout)
    def filesOf(c: Long) = {
      val d = new java.io.File(s"$layout/centroid=$c")
      Option(d.list()).map(_.toSet).getOrElse(Set.empty[String])
    }
    val before1 = filesOf(1L)
    assert(before1.nonEmpty)
    // delta touches ONLY list 2: id 22 arrives, id 21 leaves
    val added = Seq((22L, Seq(0.05, 0.95))).toDF("cand_id", "cand_vec")
    val removed = Seq(Tuple1(21L)).toDF("cand_id")
    Similarity.ivfMaintain(spark, layout, centroids, added, removed)
    assert(filesOf(1L) == before1, "untouched inverted list was rewritten")
    val got = spark.read.parquet(layout)
      .collect().map(r => r.getAs[Long]("cand_id") ->
        r.getAs[Number]("centroid").longValue).toMap
    assert(got == Map(10L -> 1L, 11L -> 1L, 20L -> 2L, 22L -> 2L))
    // invariant: identical to a full rebuild of the new corpus
    val rebuild = Similarity.assignToCentroids(
        oldC.filter(col("cand_id") =!= 21L).unionByName(added), centroids)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("centroid")).toMap
    assert(got == rebuild)
  }

  test("ivfMaintain: removals that EMPTY an inverted list delete its partition") {
    // ADVICE r15 medium: dynamic overwrite only rewrites partitions
    // present in the written data — an all-removal delta on one list
    // must not resurrect the removed vectors
    import graft.similarity.Similarity
    val centroids = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))
    ).toDF("centroid_id", "centroid_vec")
    val oldC = Seq(
      (10L, Seq(0.9, 0.1)), // list 1 — untouched
      (20L, Seq(0.1, 0.9)), (21L, Seq(0.2, 0.8)) // list 2 — fully removed
    ).toDF("cand_id", "cand_vec")
    val layout = java.nio.file.Files.createTempDirectory("ivf-empty").toString
    Similarity.writeIvfLayout(Similarity.assignToCentroids(oldC, centroids), layout)
    val added = spark.emptyDataset[(Long, Seq[Double])].toDF("cand_id", "cand_vec")
    val removed = Seq(Tuple1(20L), Tuple1(21L)).toDF("cand_id")
    Similarity.ivfMaintain(spark, layout, centroids, added, removed)
    assert(!new java.io.File(s"$layout/centroid=2").exists(),
      "emptied inverted list's partition directory must be deleted")
    val got = spark.read.parquet(layout)
      .collect().map(r => r.getAs[Long]("cand_id") ->
        r.getAs[Number]("centroid").longValue).toMap
    assert(got == Map(10L -> 1L))
  }

  test("ivfMaintain: a delta draining EVERY list leaves a readable empty layout") {
    // ADVICE r15: present.isEmpty used to skip the write and then delete
    // every partition dir — the next read threw instead of returning 0
    import graft.similarity.Similarity
    val centroids = Seq((1L, Seq(1.0, 0.0))).toDF("centroid_id", "centroid_vec")
    val oldC = Seq((10L, Seq(0.9, 0.1)), (11L, Seq(0.8, 0.2)))
      .toDF("cand_id", "cand_vec")
    val layout = java.nio.file.Files.createTempDirectory("ivf-drain").toString
    Similarity.writeIvfLayout(Similarity.assignToCentroids(oldC, centroids), layout)
    val added = spark.emptyDataset[(Long, Seq[Double])].toDF("cand_id", "cand_vec")
    Similarity.ivfMaintain(spark, layout, centroids, added,
      Seq(Tuple1(10L), Tuple1(11L)).toDF("cand_id"))
    assert(spark.read.parquet(layout).count() == 0L,
      "drained layout must read as empty, not throw")
    // and a later maintain repopulates it cleanly (marker removed)
    Similarity.ivfMaintain(spark, layout, centroids,
      Seq((12L, Seq(1.0, 0.0))).toDF("cand_id", "cand_vec"),
      spark.emptyDataset[Tuple1[Long]].toDF("cand_id"))
    val got = spark.read.parquet(layout)
      .collect().map(r => r.getAs[Long]("cand_id") ->
        r.getAs[Number]("centroid").longValue).toMap
    assert(got == Map(12L -> 1L))
  }

  // ------------------------------------------- ivfMaintainVersioned

  test("ivfMaintainVersioned: old version stays readable through a maintain; swap is the commit point") {
    import graft.similarity.Similarity
    val centroids = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))
    ).toDF("centroid_id", "centroid_vec")
    val oldC = Seq(
      (10L, Seq(0.9, 0.1)), (11L, Seq(0.8, 0.2)), // list 1 — untouched
      (20L, Seq(0.1, 0.9)), (21L, Seq(0.2, 0.8))  // list 2 — maintained
    ).toDF("cand_id", "cand_vec")
    val root = java.nio.file.Files.createTempDirectory("ivf-versioned").toString
    Similarity.writeIvfLayoutVersioned(
      Similarity.assignToCentroids(oldC, centroids), root)
    // a reader that resolved version 1 BEFORE the maintain: its plan
    // points at v1's immutable directories
    val oldReader = Similarity.readIvfLayoutVersioned(spark, root)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("cand_id") ->
        r.getAs[Number]("centroid").longValue).toMap
    val v1Rows = rowsOf(oldReader)
    assert(v1Rows == Map(10L -> 1L, 11L -> 1L, 20L -> 2L, 21L -> 2L))
    val list1Files = Option(new java.io.File(s"$root/v1/centroid=1").list())
      .map(_.toSet).getOrElse(Set.empty[String])
    // maintain: 22 arrives in list 2, 21 leaves
    val v2 = Similarity.ivfMaintainVersioned(spark, root, centroids,
      Seq((22L, Seq(0.05, 0.95))).toDF("cand_id", "cand_vec"),
      Seq(Tuple1(21L)).toDF("cand_id"))
    assert(v2 == 2L)
    // the old reader still sees version 1, unchanged — no half state
    assert(rowsOf(oldReader) == v1Rows)
    assert(Option(new java.io.File(s"$root/v1/centroid=1").list())
      .map(_.toSet).getOrElse(Set.empty[String]) == list1Files,
      "untouched v1 partition was rewritten")
    // v2 holds ONLY the maintained list; list 1 is served from v1
    assert(!new java.io.File(s"$root/v2/centroid=1").exists())
    // a fresh reader resolves version 2 == full rebuild of the new corpus
    val freshDf = Similarity.readIvfLayoutVersioned(spark, root)
    assert(rowsOf(freshDf) == Map(10L -> 1L, 11L -> 1L, 20L -> 2L, 22L -> 2L))
    // the manifest's centroid filters must reach the scan as PARTITION
    // filters (an nprobe read of a versioned layout prunes directories,
    // same as the flat layout) — not post-scan predicates
    val plan = freshDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid"),
      s"versioned reads must partition-prune on centroid:\n$plan")
  }

  test("ivfMaintainVersioned: draining every list yields an empty — still readable — version") {
    import graft.similarity.Similarity
    val centroids = Seq((1L, Seq(1.0, 0.0))).toDF("centroid_id", "centroid_vec")
    val oldC = Seq((10L, Seq(0.9, 0.1))).toDF("cand_id", "cand_vec")
    val root = java.nio.file.Files.createTempDirectory("ivf-versioned-drain").toString
    Similarity.writeIvfLayoutVersioned(
      Similarity.assignToCentroids(oldC, centroids), root)
    val added = spark.emptyDataset[(Long, Seq[Double])].toDF("cand_id", "cand_vec")
    Similarity.ivfMaintainVersioned(spark, root, centroids, added,
      Seq(Tuple1(10L)).toDF("cand_id"))
    assert(Similarity.readIvfLayoutVersioned(spark, root).count() == 0L)
  }

  test("ivfMaintainVersioned: metadata IO works under an explicit file: scheme; a stale second writer of a version fails before the swap") {
    import graft.similarity.Similarity
    val centroids = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "centroid_vec")
    val data = Seq((10L, Seq(0.9, 0.1)), (20L, Seq(0.1, 0.9)))
      .toDF("cand_id", "cand_vec")
    // an explicit URI-scheme root exercises the Hadoop FileSystem path
    // resolution end to end (a java.nio implementation would create a
    // literal "./file:..." directory or throw)
    val root = "file://" + java.nio.file.Files.createTempDirectory("ivf-scheme").toString
    Similarity.writeIvfLayoutVersioned(
      Similarity.assignToCentroids(data, centroids), root)
    assert(Similarity.readIvfLayoutVersioned(spark, root).count() == 2L)
    val none = spark.emptyDataset[Tuple1[Long]].toDF("cand_id")
    val v2 = Similarity.ivfMaintainVersioned(spark, root, centroids,
      Seq((22L, Seq(0.05, 0.95))).toDF("cand_id", "cand_vec"), none)
    assert(v2 == 2L)
    assert(Similarity.readIvfLayoutVersioned(spark, root).count() == 3L)
    // single-writer guard: rewind CURRENT to 1 (a writer that resolved
    // the old version) — its attempt to re-publish version 2 must fail
    // on the immutable manifest, BEFORE any CURRENT swap
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cur = new org.apache.hadoop.fs.Path(s"$root/CURRENT")
    val out = fs.create(cur, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    intercept[Exception] {
      Similarity.ivfMaintainVersioned(spark, root, centroids,
        Seq((23L, Seq(0.9, 0.05))).toDF("cand_id", "cand_vec"), none)
    }
    // the guard fired before the swap: CURRENT still reads 1
    val in = fs.open(cur)
    val b = new Array[Byte](fs.getFileStatus(cur).getLen.toInt)
    try in.readFully(0, b) finally in.close()
    assert(new String(b, "UTF-8").trim == "1")
  }

  // --------------------------------------------- calibratePercentRank

  test("calibratePercentRank: strict-below CDF semantics, ties share, singleton 0") {
    val rows = Seq(
      (1L, "X", 1.0), (2L, "X", 2.0), (3L, "X", 2.0), (4L, "X", 3.0),
      (5L, "Y", 9.0))
      .toDF("doc_id", "g", "score")
    val out = graft.text.Selection.calibratePercentRank(rows, "g", "score")
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_below"), r.getAs[Double]("pct"))).toMap
    assert(out(1L) == (0L, 0.0))
    assert(out(2L) == (1L, 0.333333) && out(3L) == (1L, 0.333333), "ties share the rank")
    assert(out(4L) == (3L, 1.0))
    assert(out(5L) == (0L, 0.0), "singleton group pins to 0")
  }

  // ------------------------------------------------- video frame ops

  private def pgm(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
    (s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ payload).toArray

  test("splitFrames: walks self-describing frames, stops at garbage") {
    val f1 = pgm(Array[Byte](1, 2, 3, 4), 2, 2)
    val f2 = pgm(Array[Byte](9, 9, 9, 9), 2, 2)
    val f3 = pgm((1 to 6).map(_.toByte).toArray, 3, 2)
    val frames = graft.multimodal.Multimodal.splitFrames(f1 ++ f2 ++ f3)
    assert(frames.map(_.toSeq) == Seq(f1.toSeq, f2.toSeq, f3.toSeq))
    val truncated = graft.multimodal.Multimodal.splitFrames(
      (f1 ++ f2.dropRight(1)).toArray)
    assert(truncated.map(_.toSeq) == Seq(f1.toSeq), "partial trailing frame ignored")
    assert(graft.multimodal.Multimodal.splitFrames(null) == Seq.empty)
  }

  test("videoFrameHashes samples every Nth frame; shotBoundaries flags the scene change") {
    // 6 frames of 22x12: frames 0-3 from raster A, frames 4-5 from a very
    // different raster B -> sampled frames 0,2,4; cut lands at 4
    val rasterA = Array.tabulate(264)(i => ((i * 37) % 251).toByte)
    val rasterB = Array.tabulate(264)(i => (250 - (i * 53) % 251).toByte)
    val video = ((0 until 4).map(_ => pgm(rasterA, 22, 12)) ++
      (4 until 6).map(_ => pgm(rasterB, 22, 12))).reduce(_ ++ _)
    val media = Seq((7L, video)).toDF("media_id", "content")
    val hashes = graft.multimodal.Multimodal.videoFrameHashes(media, everyN = 2)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(hashes.keySet == Set(0, 2, 4))
    assert(hashes(0) == graft.multimodal.Multimodal.dHash60(pgm(rasterA, 22, 12)).get)
    assert(hashes(4) == graft.multimodal.Multimodal.dHash60(pgm(rasterB, 22, 12)).get)
    val shots = graft.multimodal.Multimodal.shotBoundaries(media, everyN = 2, cutHamming = 8)
      .collect().map(r => r.getInt(1) ->
        (Option(r.get(3)).map(_.asInstanceOf[Int]), Option(r.get(4)).map(_.asInstanceOf[Boolean]))).toMap
    assert(shots(0) == (None, None), "first sampled frame has no predecessor")
    assert(shots(2) == (Some(0), Some(false)), "same-shot frames are 0 bits apart")
    assert(shots(4)._1.get > 8 && shots(4)._2.contains(true), "scene change flagged")
  }

  // ------------------------------------------- sourceMinhashSimilarity

  test("sourceMinhashSimilarity: identical groups 1.0, disjoint 0.0, exact set algebra") {
    val docs = Seq(
      ("A", "alpha beta gamma delta epsilon"),
      ("A", "zeta eta theta iota kappa"),
      ("B", "alpha beta gamma delta epsilon"),
      ("B", "zeta eta theta iota kappa"),
      ("C", "one two three four five six")
    ).toDF("source", "text")
    val rows = Dedup.sourceMinhashSimilarity(docs, "source", "text", n = 3, numPerm = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.size == 3, "all group pairs present, including zero-overlap ones")
    val (estAB, exAB, interAB, nA, nB) = rows(("A", "B"))
    assert(estAB == 1.0 && exAB == 1.0 && interAB == nA && nA == nB)
    val (_, exAC, interAC, _, _) = rows(("A", "C"))
    assert(exAC == 0.0 && interAC == 0L)
    // exact sizes: each A doc has 5 words -> 3 trigram shingles, distinct
    assert(nA == 6L)
  }
}

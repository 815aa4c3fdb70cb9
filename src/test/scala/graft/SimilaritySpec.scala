package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0, 0.0, 0.0, 0.0)),
    (1L, Seq(0.9, 0.1, 0.0, 0.0)),
    (2L, Seq(0.0, 1.0, 0.0, 0.0)),
    (3L, Seq(0.0, 0.0, 1.0, 0.0)),
    (4L, Seq(-1.0, 0.0, 0.0, 0.0))
  )

  test("dot / cosine column math") {
    val (dot, cos) = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")),
        Similarity.cosine(col("a"), col("a")))
      .as[(Double, Double)].head()
    assert(dot == 32.0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val q = vecs.take(1).toDF("query_id", "query_vec")
    val c = vecs.toDF("cand_id", "cand_vec")
    val top = Similarity.bruteForceTopK(q, c, 2)
      .orderBy("rank").select("cand_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L)) // 1 is closest; 2 and 3 tie at 0, id breaks tie
  }

  test("hardNegatives: only wrong-label candidates, ranked like the window form") {
    // labels: 0/1 alternating-ish — query 0 (label 0) must never surface
    // candidates 1,3 (label 0); its nearest WRONG-label vec is 2.
    val labeled = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (1L, Seq(0.9, 0.1, 0.0, 0.0), 0),
      (2L, Seq(0.8, 0.2, 0.0, 0.0), 1),
      (3L, Seq(0.0, 1.0, 0.0, 0.0), 0),
      (4L, Seq(0.0, 0.9, 0.1, 0.0), 1),
      (5L, Seq(-1.0, 0.0, 0.0, 0.0), 1))
    val q = labeled.take(2).toDF("query_id", "query_vec", "query_label")
    val c = labeled.toDF("cand_id", "cand_vec", "cand_label")
    val out = Similarity.hardNegatives(q, c, 3)
      .select("query_id", "cand_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    val byLabel = labeled.map(v => v._1 -> v._3).toMap
    // every mined negative has a label different from its query's
    out.foreach { case (qid, cid, _, _) => assert(byLabel(qid) != byLabel(cid)) }
    // query 0 (label 0): wrong-label candidates are 2, 4, 5 — ranked by cosine
    val q0 = out.filter(_._1 == 0L).map(_._2).toSeq
    assert(q0 == Seq(2L, 4L, 5L))
    // parity with the window form restricted to wrong-label pairs
    val ref = Similarity.bruteForceTopK(
        q.select("query_id", "query_vec"), c.select("cand_id", "cand_vec"), 5)
      .join(c.select(col("cand_id"), col("cand_label")), Seq("cand_id"))
      .join(q.select(col("query_id"), col("query_label")), Seq("query_id"))
      .filter(col("cand_label") =!= col("query_label"))
      .withColumn("rr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rr") <= 3)
      .select("query_id", "cand_id", "rr", "cos")
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    assert(out.map(r => (r._1, r._2, r._3)).toSeq == ref.map(r => (r._1, r._2, r._3)).toSeq)
    out.zip(ref).foreach { case (a, b) => assert(math.abs(a._4 - b._4) < 1e-12) }
  }

  test("centroidMargins: planted mislabel gets negative margin; clean members positive") {
    // two tight clusters on orthogonal axes; vec 5 carries label 1 but
    // sits in cluster 0's corner of the space -> mislabeled by construction
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.1f, 0.0f, 0.0f), 0),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f), 1),
      (4L, Seq(0.0f, 0.1f, 0.9f, 0.0f), 1),
      (5L, Seq(0.95f, 0.05f, 0.0f, 0.0f), 1) // planted mislabel
    ).toDF("vec_id", "embedding", "label")
    val m = Similarity.centroidMargins(emb, "vec_id", "embedding", "label")
      .select("vec_id", "label", "cos_own", "cos_other", "margin")
      .as[(Long, Int, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(m.size == 6, "one row per vector")
    // the planted mislabel is the only negative margin
    assert(m(5L)._5 < 0, s"planted mislabel must score negative, got ${m(5L)._5}")
    Seq(0L, 1L, 2L, 3L, 4L).foreach { id =>
      assert(m(id)._5 > 0, s"clean vector $id must have positive margin, got ${m(id)._5}")
    }
    // margin is exactly cos_own - cos_other and both cosines are in [-1, 1]
    m.values.foreach { case (_, _, own, oth, mg) =>
      assert(math.abs(mg - (own - oth)) < 1e-12)
      assert(own <= 1.0 + 1e-9 && own >= -1.0 - 1e-9)
      assert(oth <= 1.0 + 1e-9 && oth >= -1.0 - 1e-9)
    }
    // hand check vec 3: own centroid mean of vecs 3,4,5 — contaminated by
    // the mislabel — still closer than cluster 0's centroid
    assert(m(3L)._3 > m(3L)._4)
  }

  test("lshTopK returns a subset of brute-force candidates with same scores") {
    val q = vecs.take(2).toDF("query_id", "query_vec")
    val c = vecs.toDF("cand_id", "cand_vec")
    val bf = Similarity.bruteForceTopK(q, c, 5)
      .select("query_id", "cand_id", "cos").as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val lsh = Similarity.lshTopK(q, c, 5, numPlanes = 2, dim = 4)
      .select("query_id", "cand_id", "cos").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, s) => assert(math.abs(bf((a, b)) - s) < 1e-12) }
  }

  test("nearDupPairs: finds planted near-dups, only pairs >= threshold, subset of exact") {
    // 0/1 are planted near-dups (cos ~0.994); 2/3/4 are orthogonal/opposite
    val v = vecs.toDF("id", "vec")
    val got = Similarity.nearDupPairs(v, threshold = 0.9, bandPlanes = Some(2),
        numBands = Some(8), dim = 4)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSeq
    // the planted pair agrees on every plane sign (both mostly +x), so with
    // 8 bands it is found with near-certainty under the fixed seed
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 1L)))
    assert(got.head._3 > 0.9)

    // exact reference: every emitted pair must be in the brute-force set
    // and no candidate below threshold survives
    val lower = Similarity.nearDupPairs(v, threshold = 0.0, bandPlanes = Some(2),
        numBands = Some(8), dim = 4)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    assert(lower.forall(p => p._3 >= 0.0 && p._1 < p._2))
    assert(lower.map(p => (p._1, p._2)).distinct.length == lower.length) // deduped
  }

  test("hoisted-norm cosine is bit-identical to cosine_sim on every pair") {
    // nearDupPairsFixed verifies with dot(va,vb)/(nrm_a*nrm_b) where nrm
    // is hoisted per corpus row (Similarity.scala) — same left-to-right
    // accumulation and IEEE-rounded sqrt as cosine_sim's fused loop, so
    // the doubles must be EQUAL, not just close. Pin that on a dense
    // random corpus so the q51 oracle can never drift from the hoist.
    val rnd = new scala.util.Random(7)
    val v = (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextGaussian()))).toDF("id", "vec")
    val a = v.select(col("id").as("id_a"), col("vec").as("va"))
    val b = v.select(col("id").as("id_b"), col("vec").as("vb"))
    val dot = graft.functions.VectorFunctions.dotFast _
    val rows = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(
        graft.functions.VectorFunctions.cosineFast(col("va"), col("vb")).as("fused"),
        (dot(col("va"), col("vb")) /
          (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb"))))).as("hoisted"))
      .as[(Double, Double)].collect()
    assert(rows.length == 40 * 39 / 2)
    rows.foreach { case (f, h) =>
      assert(java.lang.Double.doubleToLongBits(f) == java.lang.Double.doubleToLongBits(h),
        s"fused $f != hoisted $h")
    }
  }

  test("kmeansFit: separates planted clusters; bit-identical under repartitioning") {
    // three well-separated directions in R^4, 6 points each, jittered
    val dirs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))
    // ids interleave the groups (id = j*3 + g) so the first-k-by-id init
    // seeds one centroid per planted direction — first-k init is
    // sensitive to input order by design (callers choose ids/seeding)
    val pts = for {
      (d, g) <- dirs.zipWithIndex; j <- 0 until 6
    } yield ((j * 3 + g).toLong, d.zipWithIndex.map { case (x, i) =>
      x + 0.05 * (((g * 6 + j) * 4 + i) % 7 - 3) / 3.0 })
    val v = pts.toDF("id", "vec")
    val cents = Similarity.kmeansFit(v, k = 3, iters = 3)
    val assign = Similarity.kmeansAssign(v,
        cents.select(col("cid"), col("centroid").as("cvec")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // every planted group lands in ONE cluster, and groups differ
    val byGroup = (0 until 3).map(g => (0 until 6).map(j => assign((j * 3 + g).toLong)).distinct)
    byGroup.foreach(cs => assert(cs.length == 1, s"group split across clusters: $byGroup"))
    assert(byGroup.map(_.head).distinct.length == 3, s"groups merged: $byGroup")

    // decimal means make the fit partitioning-invariant BIT-identically
    val c1 = cents.orderBy("cid").collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val c2 = Similarity.kmeansFit(v.repartition(7), k = 3, iters = 3)
      .orderBy("cid").collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(c1.length == c2.length)
    c1.zip(c2).foreach { case ((i1, v1), (i2, v2)) =>
      assert(i1 == i2)
      v1.zip(v2).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
          s"centroid drift under repartition: $a vs $b")
      }
    }
  }

  test("semanticDedup: drops higher-id near-dups within clusters, keeps cross-cluster") {
    // interleaved ids seed one centroid per direction (as above); ids
    // 0/3 and 1/4 are same-direction jittered near-dups (cos ~1), while
    // different directions sit near 0 — threshold 0.9 drops exactly the
    // higher id of each same-cluster near-dup pair
    val dirs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))
    val pts = for {
      (d, g) <- dirs.zipWithIndex; j <- 0 until 4
    } yield ((j * 3 + g).toLong, d.map(x => x + 0.01 * (j + 1)))
    val v = pts.toDF("id", "vec")
    val survivors = Similarity.semanticDedup(v, k = 3, iters = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // each direction's 4 jittered copies collapse to the lowest id
    assert(survivors.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L),
      s"exactly one survivor per direction: ${survivors.toSeq}")
    // survivors sit in 3 distinct clusters
    assert(survivors.map(_._2).distinct.length == 3)
    // at an unreachable threshold nothing drops
    val none = Similarity.semanticDedup(v, k = 3, iters = 2, threshold = 1.1)
    assert(none.count() == 12)
  }

  test("adaptive banding: planes track corpus doublings, bands restore base recall") {
    import Similarity.{adaptiveBandPlanes, adaptiveNumBands, collisionProb}
    // every oracle-checked corpus (500-2000 vectors) must derive EXACTLY
    // the base 4-plane/8-band config that q51's literal oracle replays —
    // this equality is what keeps the adaptive default and the static
    // oracle in sync (Queries.q51 scaladoc)
    assert(adaptiveBandPlanes(500) == 4 && adaptiveBandPlanes(2000) == 4)
    assert(adaptiveNumBands(adaptiveBandPlanes(2000), 0.4) == 8)
    // one plane per doubling past the base corpus, round-to-nearest
    assert(adaptiveBandPlanes(4000) == 5)
    assert(adaptiveBandPlanes(8000) == 6)
    assert(adaptiveBandPlanes(32000) == 8)  // the 16x bench corpus
    assert(adaptiveBandPlanes(2000L << 20) == 24)
    // bands from the collision model at the operator's threshold:
    // L = ceil(L0 * ln(1-p^b0)/ln(1-p^b)); at the fixture threshold 0.4
    // (p ~ 0.631) four extra planes cost ~6.8x bands...
    assert(adaptiveNumBands(8, 0.4) == 55)
    // ...while at a production near-dup threshold 0.9 (p ~ 0.856) the
    // same four planes cost only ~2.3x bands
    assert(adaptiveNumBands(8, 0.9) == 19)
    assert(collisionProb(1.0) == 1.0 && math.abs(collisionProb(0.0) - 0.5) < 1e-12)
    // degenerate p = 1 (threshold = 1.0, exact-duplicate vectors): the
    // S-curve match is 0/0 — must fall back to baseBands, never the
    // silent numBands = 0 (zero bucket columns = zero candidates ever)
    assert(adaptiveNumBands(8, 1.0) == 8)
    assert(adaptiveNumBands(24, 1.0) == 8)
    intercept[IllegalArgumentException](adaptiveNumBands(8, 1.5))
    // restored recall at the threshold matches the base config's to <1e-9
    // (the derivation inverts the model exactly, up to the bands ceil)
    def recall(p: Double, b: Int, l: Int) = 1.0 - math.pow(1.0 - math.pow(p, b), l)
    val p = collisionProb(0.4)
    assert(recall(p, 8, adaptiveNumBands(8, 0.4)) >= recall(p, 4, 8))
  }

  test("ivf assigns every candidate and probes return k results") {
    val c = vecs.toDF("cand_id", "cand_vec")
    val q = vecs.take(1).toDF("query_id", "query_vec")
    val (centroids, assigned) = Similarity.ivfIndex(c, nlist = 2)
    assert(assigned.count() == vecs.length)
    val top = Similarity.ivfTopK(q, centroids, assigned, k = 2, nprobe = 2)
    assert(top.count() <= 2 && top.count() > 0)
  }

  test("lsh_band_buckets is bit-identical to the per-band lshBucket formulation") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("id"), Similarity.asDouble(col("embedding")).as("vec"))
    val (numBands, bandPlanes) = (8, 4)
    val planes = Similarity.hyperplanes(numBands * bandPlanes, 64)
    val old = (0 until numBands).map { t =>
      Similarity.lshBucket(col("vec"),
        planes.slice(t * bandPlanes, (t + 1) * bandPlanes))
    }
    val both = emb.select(col("id"),
      array(old: _*).as("legacy"),
      graft.functions.VectorFunctions.lshBandBuckets(
        col("vec"), planes.flatten, numBands, bandPlanes).as("fused"))
    assert(both.filter(col("legacy") =!= col("fused")).count() == 0)
  }

  test("ivfTopKPruned: identical to ivfTopK and the scan is partition-pruned") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("cand_id"),
        Similarity.asDouble(col("embedding")).as("cand_vec"))
    val q = emb.filter(col("cand_id") < 5)
      .select(col("cand_id").as("query_id"), col("cand_vec").as("query_vec"))
    val (centroids, assigned) = Similarity.ivfIndex(emb, nlist = 8)
    val layout = java.nio.file.Files.createTempDirectory("ivf-layout").toString
    Similarity.writeIvfLayoutVersioned(assigned, layout)
    val full = Similarity.ivfTopK(q, centroids, assigned, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    val pruned = Similarity.ivfTopKPruned(spark, layout, centroids, q,
      k = 5, nprobe = 2)
    val prunedRows = pruned.orderBy("query_id", "rank").collect()
    assert(full.map(_.toString).toSeq == prunedRows.map(_.toString).toSeq)
    // the probed centroid ids must land in the scan's PARTITION filters
    // (pruned at the file index), not the data filters — next to the
    // manifest's own list filter, so the scan carries two centroid IN lists
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid"),
      s"expected centroid partition filter, got:\n$plan")
    val partFilters = """PartitionFilters: \[[^\]]*""".r.findAllIn(plan).toSeq
    assert(partFilters.exists(f => """centroid#\d+ IN \(""".r.findAllIn(f).size == 2),
      s"expected the probed-centroid partition filter, got:\n$plan")
  }

  // -------------------------------------------------------------------
  // Product quantization
  // -------------------------------------------------------------------

  test("pq: codes are m ints in [0, ksub); encoding is deterministic") {
    import graft.similarity.ProductQuantizer
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("id"), Similarity.asDouble(col("embedding")).as("vec"))
    val books = ProductQuantizer.pqTrain(emb, dim = 64, m = 4, ksub = 8, iters = 1)
    assert(books.count() == 4 * 8)
    val codes = ProductQuantizer.pqEncode(emb, books, dim = 64, m = 4)
    val rows = codes.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 4 && cs.forall(c => c >= 0 && c < 8))
    }
    val again = ProductQuantizer.pqEncode(emb.repartition(7), books, dim = 64, m = 4)
      .orderBy("id").collect().map(_.toString)
    assert(rows.sortBy(_.getLong(0)).map(_.toString).sameElements(again))
  }

  test("pqTrain: single keyed pass is codebook-identical to per-subspace kmeansFit") {
    import graft.similarity.ProductQuantizer
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("id"), Similarity.asDouble(col("embedding")).as("vec"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getAs[Int]("sub"), r.getAs[Int]("cid")),
        r.getSeq[Double](2))).toMap
    val keyed = canon(ProductQuantizer.pqTrain(emb, dim = 64, m = 4, ksub = 8, iters = 2))
    // the pre-r17 reference implementation: m independent kmeansFit runs
    val perSub = (0 until 4).map { s =>
      Similarity.kmeansFit(
        emb.select(col("id"), slice(col("vec"), s * 16 + 1, 16).as("vec")), 8, 2)
        .select(lit(s).as("sub"), col("cid"), col("centroid").as("cvec"))
    }.reduce(_ unionByName _)
    val ref = canon(perSub)
    assert(keyed.keySet == ref.keySet)
    keyed.foreach { case (k, v) => assert(v == ref(k), s"codebook differs at $k") }
  }

  test("pq_adc equals the explicit per-subspace reconstruction score") {
    import graft.similarity.ProductQuantizer
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("id"), Similarity.asDouble(col("embedding")).as("vec"))
    val books = ProductQuantizer.pqTrain(emb, dim = 64, m = 4, ksub = 8, iters = 1)
    val codes = ProductQuantizer.pqEncode(emb, books, dim = 64, m = 4)
    val queries = emb.filter(col("id") < 3)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val top = ProductQuantizer.pqTopK(queries, books, codes,
      dim = 64, m = 4, ksub = 8, k = 3).collect()
    assert(top.length == 3 * 3)
    // reconstruct independently: score = sum_s <q_s, centroid(s, code_s)>
    val bookMap = books.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val codeMap = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val qMap = queries.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    top.foreach { r =>
      val (qid, cid) = (r.getLong(0), r.getLong(1))
      val expected = (0 until 4).map { s =>
        val qs = qMap(qid).slice(s * 16, (s + 1) * 16)
        val cv = bookMap((s, codeMap(cid)(s)))
        qs.zip(cv).map { case (a, b) => a * b }.sum
      }.foldLeft(0.0)(_ + _)
      assert(math.abs(r.getDouble(3) - expected) < 1e-9,
        s"ADC score mismatch for ($qid, $cid)")
    }
  }

  test("pq survives dropped/short codebooks: LUT densifies missing (sub,cid) slots") {
    import graft.similarity.ProductQuantizer
    // corpus smaller than ksub: every subspace codebook has < ksub
    // centroids, which a dense-indexed LUT must pad (a sparse LUT either
    // throws in pq_adc or silently shifts every index past the gap)
    val tiny = (0L until 3L).map(i =>
      (i, Seq.tabulate(64)(d => (d % 7) * 0.1 + i * 0.01))).toDF("id", "vec")
    val books = ProductQuantizer.pqTrain(tiny, dim = 64, m = 4, ksub = 8, iters = 1)
    assert(books.count() < 4 * 8)
    val codes = ProductQuantizer.pqEncode(tiny, books, dim = 64, m = 4)
    val queries = tiny.filter(col("id") === 0L)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val top = ProductQuantizer.pqTopK(queries, books, codes,
      dim = 64, m = 4, ksub = 8, k = 2).collect()
    assert(top.length == 2)
  }

  test("pq compression recovers neighbor structure: recall@5 well above random") {
    import graft.similarity.ProductQuantizer
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .select(col("vec_id").as("id"), Similarity.asDouble(col("embedding")).as("vec"))
    val n = emb.count()
    val books = ProductQuantizer.pqTrain(emb, dim = 64, m = 8, ksub = 16, iters = 2)
    val codes = ProductQuantizer.pqEncode(emb, books, dim = 64, m = 8)
    val queries = emb.filter(col("id") < 20)
      .select(col("id").as("query_id"), col("vec").as("query_vec"))
    val approx = ProductQuantizer.pqTopK(queries, books, codes,
      dim = 64, m = 8, ksub = 16, k = 5)
      .select("query_id", "cand_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // exact top-5 by true inner product
    val cands = emb.select(col("id").as("cand_id"), col("vec").as("cand_vec"))
    val exact = queries.crossJoin(cands)
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.VectorFunctions.dotFast(col("query_vec"), col("cand_vec")).as("ip"))
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("ip").desc, col("cand_id"))))
      .filter(col("r") <= 5).select("query_id", "cand_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.keys.toSeq.map(q =>
      (approx(q) intersect exact(q)).size.toDouble / 5).sum / exact.size
    // random top-5 of n-1 would recall ~5/(n-1) ~= 0.01; 8x16 codebooks
    // at 4 bits/dim keep well above that
    assert(recall > 0.2, s"PQ recall@5 $recall too low (n=$n)")
  }
}

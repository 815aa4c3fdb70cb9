package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Positional inverted index + exact phrase search — the serving-side
  * complement of BM25 ([[Retrieval]]): benchmark decontamination and
  * targeted corpus audits need "find every document containing this
  * exact k-gram", and at repeated-query scale that is an INDEX problem,
  * not a scan problem.
  *
  * Two paths, identical output (spec-pinned):
  *  - [[phraseSearch]]: pruned in-memory postings — the token filter
  *    lands BEFORE the posting aggregation, so only the phrase terms'
  *    occurrence rows ever reach the exchange (posting-list-bounded,
  *    like [[Retrieval]]'s df);
  *  - [[writePostingsLayout]] + [[phraseSearchPruned]]: the persisted
  *    index, partitioned by a stable token-hash bucket
  *    (`h60(token) % buckets`). A phrase query turns its terms into
  *    literal bucket filters, so serving IO is `|terms|/buckets` of the
  *    index instead of all of it — the
  *    [[graft.similarity.Similarity.writeIvfLayoutVersioned]] discipline
  *    applied to text.
  *
  * Matching: positions of term i are shifted by −i and intersected
  * across terms (`array_intersect` of per-(term, doc) sorted position
  * lists — positions are distinct within a list, so set-intersection
  * is exact); the surviving values are the phrase start offsets.
  * Duplicate terms in the phrase intersect the same posting list at
  * two shifts, which is exactly the right semantics ("a b a" needs a
  * at p and p+2).
  *
  * Scale shape: the per-term frames after pruning are posting-list
  * sized; the n−1 id-equi-joins carry only docs containing EVERY
  * prior term (shrinking monotonically), and all values are exact
  * integers — the q109 oracle replays start offsets verbatim.
  */
object PhraseIndex {

  /** Posting lists: one row per (token, id) with the 0-based sorted
    * position array. `terms = Some(...)` prunes BEFORE aggregation —
    * the query-serving path; `None` builds the full index. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
      terms: Option[Seq[String]] = None): DataFrame = {
    val occ = docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "token")))
    val pruned = terms.fold(occ)(ts => occ.filter(col("token").isin(ts: _*)))
    pruned.groupBy("token", "id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
  }

  /** Persist the full positional index partitioned by token-hash
    * bucket: query terms become literal partition filters at read
    * time. */
  def writePostingsLayout(docs: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit =
    postings(docs, idCol, textCol)
      .withColumn("bucket", pmod(Dedup.h60(col("token")), lit(buckets.toLong)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Start-offset intersection over per-term posting frames:
    * `(doc_id, n_occ, first_pos)` for docs with ≥1 full-phrase hit. */
  private def intersectStarts(post: DataFrame, terms: Seq[String],
      idCol: String): DataFrame = {
    require(terms.nonEmpty, "phrase must have at least one term")
    val frames = terms.zipWithIndex.map { case (t, i) =>
      post.filter(col("token") === t)
        .select(col("id"), transform(col("ps"), p => p - lit(i)).as(s"s$i"))
    }
    val joined = frames.reduce((a, b) => a.join(b, Seq("id")))
    val inter = (1 until terms.length)
      .foldLeft(col("s0"): Column)((acc, i) => array_intersect(acc, col(s"s$i")))
    joined.select(col("id"), sort_array(inter).as("starts"))
      .filter(size(col("starts")) > 0)
      .select(col("id").as(idCol), size(col("starts")).as("n_occ"),
        element_at(col("starts"), 1).as("first_pos"))
  }

  /** Exact phrase search over the corpus via pruned in-memory
    * postings. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val terms = phrase.split(" ").filter(_.nonEmpty).toSeq
    intersectStarts(postings(docs, idCol, textCol, Some(terms)), terms, idCol)
  }

  /** Exact phrase search served from a [[writePostingsLayout]] dir:
    * the phrase terms' buckets become literal partition filters (IO =
    * `|distinct buckets|/buckets` of the index), then the token filter
    * prunes within the read buckets. Output identical to
    * [[phraseSearch]] (spec-pinned). */
  def phraseSearchPruned(spark: SparkSession, layoutPath: String,
      phrase: String, buckets: Int = 64, idCol: String = "doc_id"): DataFrame = {
    val terms = phrase.split(" ").filter(_.nonEmpty).toSeq
    val wanted = terms
      .map(t => graft.similarity.RandomProjection.h60(t) % buckets)
      .distinct.sorted
    val post = spark.read.parquet(layoutPath)
      .filter(col("bucket").isin(wanted: _*))
      .filter(col("token").isin(terms: _*))
    intersectStarts(post, terms, idCol)
  }
}
